"""Bloom-filter benchmark decontamination — the shuffle-free probe path.

``benchmark_overlap`` (docs.py:418) is the exact n-gram contamination
test: it shuffles (or broadcast-joins) the corpus gram table against the
benchmark gram table. At 10^12-document scale even the broadcast variant
pays an explode + distinct + join per training gram. The standard
industrial alternative (public construction — Bloom 1970; the CCNet /
Dolma-style "bloom dedup" pass) folds the benchmark side into an m-bit
Bloom filter ONCE, then probes the corpus in a single streaming Arrow
pass: zero shuffle on the 100 TB side, a bitmap broadcast of m/8 bytes,
and no false NEGATIVES by construction (a contaminated doc always tests
positive; false positives are bounded by the classic (1-e^{-kn/m})^k
rate and surfaced per-doc so a downstream exact pass can re-check just
the flagged sliver).

Spark shape:
- build: ONE mapInPandas over the bench text, no shuffle. Each task
  extracts its word n-grams with the probe's own ``_gram_strings`` (raw
  strings — the hash must be the cross-engine polyhash64, not xxhash64)
  and folds them into a LOCAL m-bit bitmap (memory per task = m/8
  bytes), yielded once per task as n_shards range-sharded PARTIAL rows.
  OR is idempotent, so a gram seen in many docs or many tasks needs no
  distinct and no groupBy OR-merge: ``collect_bloom`` ORs the partials
  on the driver — at most n_tasks × n_shards rows, n_tasks × m/8 bytes,
  independent of benchmark size.
- merge: Bloom filters OR: plain union of partial tables, OR-ed by the
  same collect (mergeability pinned in tests — build(A) ∪ build(B) ≡
  build(A∪B)); rows built with different (n, k) are refused there.
- probe: the collected bitmap (m/8 bytes, bounded by construction) is
  broadcast; ONE mapInArrow pass over the docs extracts grams, hashes,
  tests k bits per distinct gram and emits per-doc hit counts, optionally
  passing every input column through untouched so a caller can filter
  the probe's own output instead of joining it back. The corpus is never
  exploded into a shuffle.

Hashing: h1 = polyhash64(gram) (kernels/strhash.py — cross-engine exact),
h2 = splitmix64(h1) | 1, bit_j = (h1 + j*h2) mod 2^64 mod m for
j = 0..k-1 (Kirsch-Mitzenmacher double hashing, public construction).
``m_bits`` must be a power of two. The DuckDB oracle restates the whole
pipeline VALUE-EXACTLY: the set of set bits IS the distinct position set
of the bench grams, so membership = "all k positions present" is plain
SQL (queries.py:_contaminate_bloom_sql).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..kernels.strhash import polyhash64
from ..sources.images import splitmix64


def _positions(h1: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(len(h1), k) uint64 bit positions via double hashing."""
    mask = np.uint64(m_bits - 1)
    h2 = splitmix64(h1) | np.uint64(1)
    out = np.empty((len(h1), k), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            out[:, j] = (h1 + np.uint64(j) * h2) & mask
    return out


def _gram_strings(texts: pd.Series, n: int):
    """Vectorized word n-gram extraction for a batch: returns
    (row_idx int64[], gram object[]) over non-null texts; rows with fewer
    than n words contribute nothing (same guard as distinct_grams)."""
    split = texts.str.split(" ")
    ex = split.explode()
    row = ex.index.to_numpy(np.int64)
    w = ex.to_numpy(dtype=object)
    if not len(row):
        return np.zeros(0, np.int64), np.zeros(0, object)
    starts = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
    n_words = np.diff(np.r_[starts, len(row)])
    # gram start index i is valid while i + n <= row's end
    ends = np.repeat(starts + n_words, n_words)
    idx = np.arange(len(row), dtype=np.int64)
    valid = idx + n <= ends
    base = idx[valid]
    if not len(base):
        return np.zeros(0, np.int64), np.zeros(0, object)
    g = w[base]
    for j in range(1, n):
        g = g + " "
        g = g + w[base + j]
    return row[base], g


def bloom_build(
    bench: DataFrame,
    n: int = 3,
    m_bits: int = 1 << 20,
    k: int = 4,
    n_shards: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Fold the benchmark corpus' word n-grams into range-sharded PARTIAL
    Bloom bitmaps: (shard_id int, bitmap binary of m_bits/(8*n_shards)
    bytes, n, k), n_shards rows per task — one task's local filter.
    collect_bloom ORs them into the filter. Deterministic; union-mergeable
    (bloom_or). NULL texts and docs with fewer than n words add no gram."""
    assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
    assert m_bits % (8 * n_shards) == 0
    shard_bytes = m_bits // 8 // n_shards

    def fold(batches):
        local = np.zeros(m_bits // 8, dtype=np.uint8)
        for pdf in batches:
            _, g = _gram_strings(pdf[text_col].dropna(), n)
            if not len(g):
                continue
            pos = _positions(polyhash64(list(g)), k, m_bits).ravel()
            np.bitwise_or.at(
                local, (pos >> np.uint64(3)).astype(np.int64),
                np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
            )
        # always yield (even all-zero) so (n, k) survive an EMPTY benchmark
        yield pd.DataFrame(
            {
                "shard_id": np.arange(n_shards, dtype=np.int32),
                "bitmap": [
                    local[i * shard_bytes : (i + 1) * shard_bytes].tobytes()
                    for i in range(n_shards)
                ],
                "n": np.full(n_shards, n, dtype=np.int32),
                "k": np.full(n_shards, k, dtype=np.int32),
            }
        )

    partials = bench.select(text_col).mapInPandas(
        fold, "shard_id int, bitmap binary, n int, k int"
    )
    return _with_build_params(partials, n, k)


def _with_build_params(df: DataFrame, n: int, k: int) -> DataFrame:
    """Pin the build-time (n, k) into the n/k columns' schema METADATA so
    they survive even a zero-row collect (a bench frame with zero
    PARTITIONS emits no fold tasks, hence no shard rows — the one case
    the per-row n/k columns cannot cover). collect_bloom's empty fallback
    reads them back instead of guessing literals."""
    return df.withMetadata("n", {"build": int(n)}).withMetadata(
        "k", {"build": int(k)}
    )


def _build_params(df: DataFrame) -> tuple[int, int] | None:
    try:
        n = df.schema["n"].metadata["build"]
        k = df.schema["k"].metadata["build"]
        return int(n), int(k)
    except (KeyError, TypeError):
        return None


def bloom_or(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two Bloom filters (same m/k/n — enforced by collect_bloom):
    the plain union of their partial rows, OR-ed when collected, like the
    sketch trio. Build-param metadata is re-attached when both sides
    carry the same (n, k)."""
    out = a.unionByName(b)
    params = _build_params(a)
    if params is not None and params == _build_params(b):
        out = _with_build_params(out, *params)
    return out


@dataclass(frozen=True)
class BloomFilter:
    """Collected Bloom filter: the bitmap PLUS the (n, k) it was built
    with, so a probe can never run with mismatched parameters (a k or n
    drift between build and probe would silently void the
    no-false-negative guarantee)."""

    bitmap: np.ndarray
    n: int
    k: int

    @property
    def m_bits(self) -> int:
        return int(self.bitmap.shape[0]) * 8


def collect_bloom(bloom: DataFrame) -> BloomFilter:
    """OR the partial shard rows into one BloomFilter on the driver.
    Bounded collect: at most n_tasks × n_shards rows of the build, m/8
    bytes per task, regardless of benchmark size (the same
    bounded-artifact argument as the qttree group table). Rows built
    with different (n, k) or shard sizes raise: OR-ing them would
    silently break the no-false-negative guarantee. An empty build (a
    zero-partition bench emits no fold task) collapses to a 0-bit
    filter; callers probing with it get 0 hits. The empty fallback's
    (n, k) come from the build frame's schema metadata (pinned by
    bloom_build), so even a zero-partition bench cannot make a later
    probe extract grams at the wrong gram order — contamination is
    correctly false either way (zero bitmap), but the probe's n_grams
    column must still count the grams the BUILD would have seen."""
    rows = bloom.collect()
    if not rows:
        params = _build_params(bloom) or (3, 4)
        return BloomFilter(np.zeros(1 << 13, dtype=np.uint8), n=params[0], k=params[1])
    shapes = {(int(r["n"]), int(r["k"]), len(r["bitmap"])) for r in rows}
    if len(shapes) != 1:
        raise ValueError(f"mixed bloom params (n, k, shard bytes): {sorted(shapes)}")
    n, k, shard_bytes = shapes.pop()
    n_shards = 1 + max(int(r["shard_id"]) for r in rows)
    out = np.zeros(n_shards * shard_bytes, dtype=np.uint8)
    for row in rows:
        s = int(row["shard_id"])
        out[s * shard_bytes : (s + 1) * shard_bytes] |= np.frombuffer(
            row["bitmap"], dtype=np.uint8
        )
    return BloomFilter(out, n=n, k=k)


# Twin of docs.benchmark_overlap for a different regime: shuffle-free fixed-size bitmap.
def bloom_probe(
    docs: DataFrame,
    bf: BloomFilter,
    min_hits: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_columns: bool = False,
) -> DataFrame:
    """Probe every document's distinct word n-grams against the filter:
    (doc_id, n_grams, bloom_hits, contaminated). n and k come FROM the
    filter (build-time values — no way to probe with drifted params).
    NULL text propagates NULLs; a doc with < n words has 0 grams and is
    clean. ZERO shuffle: one mapInArrow over the scan; the bitmap ships
    as a sparkContext.broadcast variable (one torrent-distributed copy
    per executor — at the multi-GB planet-bench setting a plain closure
    would re-ship m/8 bytes with EVERY task's serialized function).

    ``keep_columns`` passes every column of ``docs`` through in place of
    ``id_col`` (the Arrow arrays as they arrived, so no value is
    converted), so a caller that wants the docs minus the contaminated
    ones — the curation decon stage — filters the probe's own output
    instead of joining the flagged ids back onto the corpus."""
    n, k = bf.n, bf.k
    m_bits = bf.m_bits
    assert m_bits & (m_bits - 1) == 0
    bvar = docs.sparkSession.sparkContext.broadcast(bf.bitmap)
    keep = docs.columns if keep_columns else [id_col]
    scan = docs.select(*dict.fromkeys(keep + [text_col]))

    def probe(batches):
        bitmap = bvar.value
        for batch in batches:
            texts = batch.column(text_col).to_pandas()
            isnull = texts.isna().to_numpy()
            row, g = _gram_strings(texts.fillna(""), n)
            n_grams = np.zeros(batch.num_rows, dtype=np.int64)
            hits = np.zeros(batch.num_rows, dtype=np.int64)
            if len(row):
                h1 = polyhash64(list(g))
                # distinct grams per doc: sort by (row, h1), keep firsts
                order = np.lexsort((h1, row))
                r_s, h_s = row[order], h1[order]
                first = np.r_[True, (r_s[1:] != r_s[:-1]) | (h_s[1:] != h_s[:-1])]
                r_u, h_u = r_s[first], h_s[first]
                np.add.at(n_grams, r_u, 1)
                pos = _positions(h_u, k, m_bits)
                byte = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
                bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1
                member = bit.all(axis=1)
                np.add.at(hits, r_u[member], 1)
            mask = isnull if isnull.any() else None
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep]
                + [
                    pa.array(n_grams, mask=mask),
                    pa.array(hits, mask=mask),
                    pa.array(hits >= min_hits, mask=mask),
                ],
                names=keep + ["n_grams", "bloom_hits", "contaminated"],
            )

    schema = StructType(
        [StructField(c, docs.schema[c].dataType) for c in keep]
        + [
            StructField("n_grams", LongType()),
            StructField("bloom_hits", LongType()),
            StructField("contaminated", BooleanType()),
        ]
    )
    return scan.mapInArrow(probe, schema)
