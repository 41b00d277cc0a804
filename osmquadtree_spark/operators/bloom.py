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
- build: the bench grams come from the shared ``distinct_grams`` stage
  (raw strings — the hash must be the cross-engine polyhash64, not
  xxhash64); each task folds its grams into a LOCAL m-bit bitmap
  (memory per task = m/8 bytes, yielded once per task as range-sharded
  rows), then one tiny groupBy(shard_id) OR-merge — shuffle volume is
  n_tasks × m/8 bytes, independent of benchmark size.
- merge: Bloom filters OR: plain union of shard tables through the same
  fold (mergeability pinned in tests — build(A) ∪ build(B) ≡ build(A∪B)).
- probe: the collected bitmap (m/8 bytes, bounded by construction) is
  broadcast; ONE mapInPandas pass over (doc_id, text) extracts grams,
  hashes, tests k bits per distinct gram and emits per-doc hit counts.
  The corpus is never exploded into a shuffle.

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
from pyspark.sql import DataFrame

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
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fold the benchmark corpus' distinct word n-grams into a range-sharded
    Bloom bitmap: (shard_id int, bitmap binary of m_bits/(8*n_shards)
    bytes). Deterministic; plain-union mergeable through bloom_or."""
    assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
    assert m_bits % (8 * n_shards) == 0
    from .docs import distinct_grams

    grams = distinct_grams(
        bench, n, id_col=id_col, text_col=text_col, hash_grams=False
    ).select("gram")
    shard_bytes = m_bits // 8 // n_shards

    def fold(batches):
        local = np.zeros(m_bits // 8, dtype=np.uint8)
        for pdf in batches:
            g = pdf["gram"].to_numpy(dtype=object)
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

    partials = grams.mapInPandas(
        fold, "shard_id int, bitmap binary, n int, k int"
    )
    return _with_build_params(_or_shards(partials), n, k)


_SHARD_SCHEMA = "shard_id int, bitmap binary, n int, k int"


def _or_shards(partials: DataFrame) -> DataFrame:
    def orfold(key, pdf):
        acc = None
        for b in pdf["bitmap"]:
            a = np.frombuffer(b, dtype=np.uint8)
            acc = a.copy() if acc is None else acc | a
        ns, ks = set(pdf["n"]), set(pdf["k"])
        # merging filters built with different (n, k) silently breaks the
        # no-false-negative guarantee — refuse
        assert len(ns) == 1 and len(ks) == 1, f"mixed bloom params: n={ns} k={ks}"
        return pd.DataFrame(
            {
                "shard_id": [key[0]],
                "bitmap": [acc.tobytes()],
                "n": [ns.pop()],
                "k": [ks.pop()],
            }
        )

    return partials.groupBy("shard_id").applyInPandas(orfold, _SHARD_SCHEMA)


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
    """Merge two Bloom filters (same m/k/n — enforced per shard group):
    bitwise OR per shard — plain unionByName through the same fold, like
    the sketch trio. Build-param metadata is re-attached (applyInPandas
    rebuilds the schema from a bare DDL string, which would drop it)."""
    out = _or_shards(a.unionByName(b))
    pa, pb = _build_params(a), _build_params(b)
    if pa is not None and pa == pb:
        out = _with_build_params(out, *pa)
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
    """Assemble the sharded table into one BloomFilter. Bounded driver
    collect BY CONSTRUCTION: n_shards rows, m/8 bytes total regardless of
    benchmark size (the same bounded-artifact argument as the qttree
    group table). Works on empty tables only via bloom_probe's empty
    handling — an empty build (no bench docs) yields zero shards, which
    collapses to a 0-bit filter; callers probing with it get 0 hits. The
    empty fallback's (n, k) come from the build frame's schema metadata
    (pinned by bloom_build), so even a zero-partition bench cannot make a
    later probe extract grams at the wrong gram order — contamination is
    correctly false either way (zero bitmap), but the probe's n_grams
    column must still count the grams the BUILD would have seen."""
    rows = bloom.collect()
    if not rows:
        params = _build_params(bloom) or (3, 4)
        return BloomFilter(np.zeros(1 << 13, dtype=np.uint8), n=params[0], k=params[1])
    n_shards = len(rows)
    shard_bytes = max(len(bytes(r["bitmap"])) for r in rows)
    out = np.zeros(n_shards * shard_bytes, dtype=np.uint8)
    for row in rows:
        s = int(row["shard_id"])
        out[s * shard_bytes : (s + 1) * shard_bytes] = np.frombuffer(
            row["bitmap"], dtype=np.uint8
        )
    return BloomFilter(out, n=int(rows[0]["n"]), k=int(rows[0]["k"]))


# Twin of docs.benchmark_overlap for a different regime: shuffle-free fixed-size bitmap.
def bloom_probe(
    docs: DataFrame,
    bf: BloomFilter,
    min_hits: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probe every document's distinct word n-grams against the filter:
    (doc_id, n_grams, bloom_hits, contaminated). n and k come FROM the
    filter (build-time values — no way to probe with drifted params).
    NULL text propagates NULLs; a doc with < n words has 0 grams and is
    clean. ZERO shuffle: one mapInPandas over the scan; the bitmap ships
    as a sparkContext.broadcast variable (one torrent-distributed copy
    per executor — at the multi-GB planet-bench setting a plain closure
    would re-ship m/8 bytes with EVERY task's serialized function)."""
    n, k = bf.n, bf.k
    m_bits = bf.m_bits
    assert m_bits & (m_bits - 1) == 0
    bvar = docs.sparkSession.sparkContext.broadcast(bf.bitmap)

    def probe(batches):
        bitmap = bvar.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            isnull = pdf[text_col].isna().to_numpy()
            row, g = _gram_strings(pdf[text_col].fillna(""), n)
            nrows = len(ids)
            n_grams = np.zeros(nrows, dtype=np.int64)
            hits = np.zeros(nrows, dtype=np.int64)
            if len(row):
                h1 = polyhash64(list(g))
                # distinct grams per doc: sort by (row, h1), keep firsts
                order = np.lexsort((h1, row))
                r_s, h_s = row[order], h1[order]
                keep = np.r_[True, (r_s[1:] != r_s[:-1]) | (h_s[1:] != h_s[:-1])]
                r_u, h_u = r_s[keep], h_s[keep]
                np.add.at(n_grams, r_u, 1)
                pos = _positions(h_u, k, m_bits)
                byte = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
                bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1
                member = bit.all(axis=1)
                np.add.at(hits, r_u[member], 1)
            out = pd.DataFrame(
                {
                    id_col: ids,
                    "n_grams": n_grams,
                    "bloom_hits": hits,
                    "contaminated": hits >= min_hits,
                }
            )
            if isnull.any():
                for c in ("n_grams", "bloom_hits"):
                    out[c] = out[c].astype("Int64")
                    out.loc[isnull, c] = pd.NA
                out["contaminated"] = out["contaminated"].astype("boolean")
                out.loc[isnull, "contaminated"] = pd.NA
            yield out

    id_field = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        probe,
        f"{id_col} {id_field}, n_grams bigint, bloom_hits bigint, "
        "contaminated boolean",
    )
