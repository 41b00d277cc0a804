"""The benchmark's workloads: how each makes its input from a seed, runs
one job through the program's public entry points, and checks the job's
committed output.

Every check runs on the driver with pyarrow, outside the timed window, and
returns a list of problems (empty when the output is correct).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes what it writes: cached inputs carry it.
GEN_VERSION = 3

# Input sizes.  Warm jobs take 3.5-5 s (tiles) and 9-12 s (curation) at
# local[4] on a 4-core host; the curation job is per-job overhead (77
# Spark jobs) and took as long on 200 docs as on 2,000.
IMAGE_ROWS = 24_000
IMAGE_POOL = 512  # distinct encoded payloads the image rows draw from
DOC_COUNT = 2_000
DOC_DUPS = 40
BENCH_MOD = 41  # run_curation's default bench slice: doc_id % 41 == 0
FILES = 8  # parquet files per generated input, so scans run in parallel

TREE_LEVEL = 15
SAMPLE_ROWS = 64  # output rows re-verified by the scalar kernels per check


def _mix(*vals: int) -> int:
    """splitmix64 folded over ``vals``: a 64-bit integer derived from the
    seed and a salt."""
    from osmquadtree_spark.sources.images import splitmix64

    h = 0
    for v in vals:
        h = int(splitmix64(np.uint64((h ^ v) & 0xFFFF_FFFF_FFFF_FFFF)))
    return h


def _write_files(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-len(df) // FILES)
    for k in range(FILES):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- tiling workloads ----------------------------------------------------------

IMAGE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)

_WORDS = np.array(
    "tile quad tree image caption spark shuffle merge scan filter group sort "
    "join index cell lat lon zoom raster vector".split()
)


def _captions(idx: np.ndarray, salt: int) -> pd.Series:
    from osmquadtree_spark.sources.images import splitmix64

    u = splitmix64(idx.astype(np.uint64) ^ np.uint64(salt))
    words = [
        _WORDS[((u >> np.uint64(6 * k)) % np.uint64(len(_WORDS))).astype(np.int64)]
        for k in range(5)
    ]
    text = pd.Series(words[0])
    for w in words[1:]:
        text = text + " " + w
    return "caption " + pd.Series(idx.astype(str)) + ": " + text


def _image_index(seed: int, n: int) -> np.ndarray:
    # image ids carry the row index the footprint rule reads (image_id[3:]);
    # the seed picks where in the 12-digit id space the rows start
    start = (_mix(seed, 11) % 9_000_000) * 100_000
    return np.arange(start, start + n, dtype=np.int64)


def _expected_tiles(phash, w, h, idx, target: int, minsize: int) -> dict:
    """Groups and tiles computed on the driver without Spark and without
    the vectorized path the pipeline runs (quadtree.calculate, QtTreeArr,
    tree_rollup_arr, assign_groups): the fixture's footprint rule, the
    scalar kernel per row, the per-item count tree with its rollup, the
    greedy grouping, and find_tile per cell.  About 2 s for 24k rows."""
    from osmquadtree_spark.kernels.quadtree import calculate_scalar
    from osmquadtree_spark.plans.qttree import QtTree, find_groups, tree_rollup
    from osmquadtree_spark.sources.images import footprints

    qts = [calculate_scalar(*map(int, box)) for box in zip(*footprints(phash, w, h, idx))]
    cells, counts = np.unique(np.asarray(qts, np.int64), return_counts=True)
    tree = QtTree.from_counts(cells, counts, TREE_LEVEL)
    tree_rollup(tree, minsize)
    groups = find_groups(tree, target, minsize)
    return {
        "groups": sum(1 for t in groups.items if t.weight != 0),
        "tiles": len({groups.find_tile(int(q)).qt for q in cells}),
    }


def _tile_params(n: int) -> dict:
    target = n // 32
    return {"target": target, "minsize": target // 2}


def gen_images(spark, seed: int, path: str, n: int = IMAGE_ROWS) -> dict:
    """Image+caption rows with real codec payloads and uniform footprints.
    Payloads come from a pool of IMAGE_POOL rows encoded by the program's
    own generator (PNG, PPM and the lossy stand-in codec); the seed sets
    the ids, phash (hence the footprints), captions and pool draws."""
    from osmquadtree_spark.sources.images import image_row, splitmix64

    pool = pd.DataFrame([image_row(i) for i in range(IMAGE_POOL)])
    idx = _image_index(seed, n)
    u = splitmix64(idx.astype(np.uint64))
    pick = (u >> np.uint64(40)).astype(np.int64) % IMAGE_POOL
    phash = splitmix64(u ^ np.uint64(_mix(seed, 12))).astype(np.int64)
    df = pd.DataFrame(
        {
            "image_id": [f"img{i:012d}" for i in idx],
            "bytes": pool["bytes"].to_numpy()[pick],
            "w": pool["w"].to_numpy("int32")[pick],
            "h": pool["h"].to_numpy("int32")[pick],
            "fmt": pool["fmt"].to_numpy()[pick],
            "caption": _captions(idx, _mix(seed, 13)),
            "phash": phash,
        }
    )
    _write_files(df, path, IMAGE_SCHEMA)
    params = _tile_params(n)
    return {
        "rows": n,
        "params": params,
        "expected": _expected_tiles(
            phash, df["w"].to_numpy(), df["h"].to_numpy(), idx, **params
        ),
    }


def run_tiling(spark, tracer, src: str, out: str, meta: dict) -> dict:
    """jobs/tile_pipeline.py's calls: run_image_tiling, then commit_pending."""
    from osmquadtree_spark import metrics, pipeline

    manifests = pipeline.run_image_tiling(
        spark, spark.read.parquet(src), out, tree_level=TREE_LEVEL, **meta["params"]
    )
    commit = metrics.commit_pending()
    if commit["errors"]:
        raise RuntimeError(f"metrics commit failed: {commit['errors']}")
    return manifests


def check_tile_table(tiles_dir: str, rows: int, groups: int) -> list[str]:
    """A tile-sorted table as write_tile_sorted commits it: every row
    present, one tile per group, each tile in exactly one partition and
    the lineage rows summing to the table."""
    bad = []
    with open(os.path.join(tiles_dir, "_manifest.json")) as f:
        man = json.load(f)
    got = parquet_rows(os.path.join(tiles_dir, "data"))
    if not rows == got == man["rows"]:
        bad.append(f"rows: input {rows}, table {got}, manifest {man['rows']}")
    if not man["tiles"] == man["groups"] == groups:
        bad.append(f"tiles {man['tiles']} / groups {man['groups']} / expected {groups}")
    lin = pq.read_table(os.path.join(tiles_dir, "_metrics")).to_pandas()
    parts = lin.groupby("group_qt")["_part_id"].nunique()
    if len(parts) != man["tiles"] or (parts != 1).any():
        bad.append(f"{int((parts != 1).sum())} tiles span partitions; {len(parts)} tiles in lineage")
    if int(lin["row_count"].sum()) != rows:
        bad.append(f"lineage rows {int(lin['row_count'].sum())} != {rows}")
    return bad


def check_tiling(out: str, meta: dict, seed: int) -> list[str]:
    from osmquadtree_spark.kernels.quadtree import calculate_scalar
    from osmquadtree_spark.plans.qttree import QtTree

    exp = meta["expected"]
    bad = check_tile_table(os.path.join(out, "tiles"), meta["rows"], exp["groups"])
    with open(os.path.join(out, "tiles", "_manifest.json")) as f:
        if json.load(f)["tiles"] != exp["tiles"]:
            bad.append(f"tiles differ from the {exp['tiles']} expected")
    # seeded sample: the scalar kernel and the per-item tree must agree
    # with every sampled row's cell and tile
    gqt = pq.read_table(os.path.join(out, "groups", "groups.parquet"))["group_qt"]
    tree = QtTree()
    for q in gqt.to_pylist():
        tree.add(q, 1)
    rng = np.random.default_rng(seed)
    files = sorted(glob.glob(os.path.join(out, "tiles", "data", "*.parquet")))
    cols = ["minx", "miny", "maxx", "maxy", "qt", "group_qt"]
    for f in rng.choice(files, size=min(2, len(files)), replace=False):
        t = pq.read_table(f, columns=cols).to_pandas()
        if not len(t):
            continue
        for r in t.iloc[rng.choice(len(t), size=min(SAMPLE_ROWS // 2, len(t)), replace=False)].itertuples():
            qt = calculate_scalar(int(r.minx), int(r.miny), int(r.maxx), int(r.maxy))
            if qt != r.qt or tree.find_tile(qt).qt != r.group_qt:
                bad.append(f"row cell {r.qt} tile {r.group_qt}: scalar {qt}, tile {tree.find_tile(qt).qt}")
                break
    return bad


# -- curation workload ---------------------------------------------------------

_VOCAB = 5_000
_ZIPF_S = 1.1
_DOC_LEN = (40, 160)


def _word(j: np.ndarray) -> np.ndarray:
    letters = np.frombuffer(b"bcdfghjklmnpqrstvwxz", dtype="S1")
    vowels = np.frombuffer(b"aeiou", dtype="S1")
    out = np.full(len(j), b"", dtype="S12")
    x = j.copy()
    for _ in range(3):
        out = np.char.add(np.char.add(out, letters[x % 20]), vowels[(x // 20) % 5])
        x //= 100
    return out.astype(str)


def gen_docs(spark, seed: int, path: str, n: int = DOC_COUNT, dups: int = DOC_DUPS) -> dict:
    """A Zipf-vocabulary corpus with planted near-duplicates: each planted
    copy repeats a document with its last word replaced (word 3-gram
    Jaccard about 0.98).  Every 41st doc_id is run_curation's default
    benchmark slice."""
    rng = np.random.default_rng([seed, 31])
    words = _word(np.arange(_VOCAB))
    p = 1.0 / np.arange(1, _VOCAB + 1) ** _ZIPF_S
    p /= p.sum()
    lens = rng.integers(*_DOC_LEN, size=n)
    tok = rng.choice(_VOCAB, size=int(lens.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [tok[bounds[k] : bounds[k + 1]] for k in range(n)]
    pairs = []
    candidates = [d for d in range(1, n) if d % BENCH_MOD]
    for k, orig in enumerate(rng.choice(candidates, size=dups, replace=False)):
        dup = docs[orig].copy()
        dup[-1] = (dup[-1] + 1 + k) % _VOCAB
        docs.append(dup)
        pairs.append((int(orig), len(docs) - 1))
    # the copies take ids above the originals' and outside the bench slice,
    # so every planted pair can survive decontamination
    above = np.arange(2 * n, 2 * n + 2 * dups, dtype=np.int64)
    ids = np.concatenate([np.arange(n, dtype=np.int64), above[above % BENCH_MOD != 0][:dups]])
    pairs = [(a, int(ids[b])) for a, b in pairs]
    # the corpus-scaled "too common" threshold: quality_gate's default is an
    # absolute count that every doc of a corpus this size exceeds
    freq = np.bincount(np.concatenate(docs), minlength=_VOCAB)
    mean_freq_x100 = np.array([freq[d].sum() * 100 // len(d) for d in docs])
    max_mean = int(np.percentile(mean_freq_x100, 95))
    df = pd.DataFrame(
        {"doc_id": ids, "text": [" ".join(words[d]) for d in docs]}
    )
    _write_files(df, path)
    return {
        "rows": len(df),
        "pairs": pairs,
        # share of docs quality_gate's default threshold calls "too common"
        "default_too_common_share": float(np.mean(mean_freq_x100 > 91_000)),
        "quality_params": {"max_mean_freq_x100": max_mean},
        "expected": {},
    }


def run_curation(spark, tracer, src: str, out: str, meta: dict) -> dict:
    """jobs/curation_pipeline.py's calls: run_curation, then commit_pending."""
    from osmquadtree_spark import curation, metrics

    manifests = curation.run_curation(
        spark, spark.read.parquet(src), out, quality_params=meta["quality_params"]
    )
    commit = metrics.commit_pending()
    if commit["errors"]:
        raise RuntimeError(f"metrics commit failed: {commit['errors']}")
    return manifests


def check_curation(out: str, meta: dict, seed: int) -> list[str]:
    bad = []
    man = {}
    for st in ("quality", "dedup", "decon", "weights", "shards"):
        with open(os.path.join(out, st, "_manifest.json")) as f:
            man[st] = json.load(f)
        if st != "shards" and parquet_rows(os.path.join(out, st, "data")) != man[st]["rows"]:
            bad.append(f"stage {st}: files disagree with manifest rows {man[st]['rows']}")
    q, d, c, w, s = (man[k] for k in ("quality", "dedup", "decon", "weights", "shards"))
    chain = {
        "quality.rows == input": q["rows"] == meta["rows"],
        "kept > 0": q["kept"] > 0,
        "dedup.rows == quality.kept": d["rows"] == q["kept"],
        "decon.probed == canonical - bench": c["probed"] == d["canonical"] - c["bench_excluded"],
        "weights.rows == decon.rows": w["rows"] == c["rows"],
        "shards.docs == weights.rows": s["docs"] == w["rows"],
    }
    bad += [f"manifest chain broken: {k}" for k, ok in chain.items() if not ok]
    comp = pq.read_table(
        os.path.join(out, "dedup", "data"), columns=["doc_id", "component_id"]
    ).to_pandas().set_index("doc_id")["component_id"]
    both = [(a, b) for a, b in meta["pairs"] if a in comp.index and b in comp.index]
    found = sum(comp[a] == comp[b] for a, b in both)
    # MinHash LSH finds a pair at Jaccard 0.98 with probability 1 - 4e-5
    if not both or found < 0.98 * len(both):
        bad.append(f"planted near-duplicates: {found} of {len(both)} recovered")
    shard_ids = pq.read_table(os.path.join(out, "shards", "data"), columns=["doc_id"])
    leaked = int(np.sum(shard_ids["doc_id"].to_numpy() % BENCH_MOD == 0))
    if leaked:
        bad.append(f"{leaked} bench docs reached the shards")
    return bad


@dataclass(frozen=True)
class Workload:
    name: str
    generate: Callable  # (spark, seed, path) -> input meta
    run: Callable  # (spark, tracer, input path, output path, meta) -> result
    check: Callable  # (output path, meta, seed) -> problems
    size: int  # the input size generate() makes, part of the cache key


WORKLOADS = {
    w.name: w
    for w in (
        Workload("tile_images", gen_images, run_tiling, check_tiling, IMAGE_ROWS),
        Workload("curation_docs", gen_docs, run_curation, check_curation, DOC_COUNT),
    )
}
