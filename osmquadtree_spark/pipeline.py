"""End-to-end resumable tiling pipeline over the image+caption table.

North-rule lifecycle (the Spark restatement of the reference's
calcqts → sortblocks chain, /root/reference/src/calcqts/calcqts.cpp:189-241 +
src/sorting/sortblocks.cpp:422-501, applied to image rows):

  stage "qts"    quadtree cell per row (Arrow-vectorized kernel) → a narrow
                 (image_id, qt) table, as calcqts writes (id, qt)
  stage "groups" cell histogram → driver-side greedy tile split
  stage "tiles"  the input read again: footprint, cell, group and
                 destination partition in one Arrow pass
                 → repartitionById → sorted tile table
                 + per-(partition, tile) lineage metrics

Every stage writes to its own directory under ``out_dir`` and commits by
writing a manifest LAST through the stage-commit helpers shared with the
curation pipeline (commit.py — the sandbox stand-in for an Iceberg
snapshot commit; in production each stage is
`writeTo(...).createOrReplace()` on an Iceberg table and the manifest is
the snapshot). Row counts come from the write jobs themselves, and the
committed qts table is read with the schema its manifest records.

The payload is written once, by the tile stage. Both writes observe the
row count and an order-independent hash of (image_id, qt); the qts
manifest records them, and a tile write whose input gained, lost or
re-celled a row since raises before the tile manifest commits. A killed
job re-run with the same ``out_dir`` skips every committed stage and
continues from the first uncommitted one, which is the north rule's
resume-from-checkpoint semantics (tests/test_sortblocks.py::test_resume);
until stage "tiles" has committed, the re-run needs the input again.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import (
    commit_manifest, is_committed, read_committed, read_manifest, write_observed,
)
from .operators import sortblocks
from .operators.images import image_tiles, with_footprint
from .operators.sortblocks import write_tile_sorted


def _fingerprint() -> dict:
    # bit_xor is order-independent and, unlike a sum of int64 hashes,
    # cannot overflow under ANSI mode
    return {"fingerprint": F.bit_xor(F.xxhash64("image_id", "qt"))}


def stage_qts(spark: SparkSession, images: DataFrame, path: str) -> dict:
    """Assign the quadtree cell of every image row and checkpoint the narrow
    (image_id, qt) table: the source scan reads only image_id, phash, w and
    h. The manifest records the written schema, so the downstream read
    needs no footer inference, and the source fingerprint."""
    if is_committed(path):
        return read_manifest(path)
    t0 = time.time()
    w = write_observed(
        with_footprint(images).select("image_id", "qt"), path, extra=_fingerprint()
    )
    return commit_manifest(path, {**w, "elapsed_sec": time.time() - t0})


def stage_groups(
    spark: SparkSession,
    qts: DataFrame,
    path: str,
    target: int,
    minsize: int,
    tree_level: int = 15,
    rollup: bool = True,
) -> dict:
    """Histogram → driver greedy grouping; checkpoint the group table."""
    if is_committed(path):
        return read_manifest(path)
    t0 = time.time()
    # the library grouping op IS the pipeline stage — one code path for
    # histogram → tree → rollup → greedy groups, pinned by the sortblocks
    # tests, instead of a drifting inline copy
    gqt, gidx, gweight = sortblocks.compute_groups(
        qts, "qt", target=target, minsize=minsize,
        tree_level=tree_level, rollup=rollup,
    )
    os.makedirs(path, exist_ok=True)
    pd.DataFrame({"group_qt": gqt, "group_idx": gidx, "weight": gweight}).to_parquet(
        os.path.join(path, "groups.parquet")
    )
    return commit_manifest(
        path,
        {
            "groups": int(len(gqt)),
            "target": target,
            "minsize": minsize,
            "tree_level": tree_level,
            "rollup": rollup,
            "elapsed_sec": time.time() - t0,
        },
    )


def stage_tiles(
    spark: SparkSession,
    images: DataFrame,
    qts_manifest: dict,
    groups_path: str,
    path: str,
    sort_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> dict:
    """Read the input again and write the tile-sorted table with its
    per-(partition, tile) lineage; the rows are placed in one Arrow pass
    (images.image_tiles computes footprint, cell, group cell and
    partition together). The write must observe the row count and
    fingerprint the qts manifest recorded."""
    if is_committed(path):
        return read_manifest(path)
    groups = pd.read_parquet(os.path.join(groups_path, "groups.parquet"))
    gqt = groups["group_qt"].to_numpy("int64")
    fingerprint = _fingerprint()
    return write_tile_sorted(
        images,
        path,
        gqt,
        sort_cols=sort_cols or ["image_id"],
        num_partitions=num_partitions,
        layout=image_tiles,
        extra=fingerprint,
        # a qts manifest without a fingerprint matches no tile write
        expect={k: qts_manifest.get(k) for k in ("rows", *fingerprint)},
    )


def run_image_tiling(
    spark: SparkSession,
    images: DataFrame | None,
    out_dir: str,
    target: int = 40000,
    minsize: int = 20000,
    tree_level: int = 15,
    rollup: bool = True,
    num_partitions: int | None = None,
    stop_after: str | None = None,
) -> dict:
    """Run (or resume) the full pipeline. ``images`` may be None on resume
    only once stage "tiles" has committed: stages "qts" and "tiles" both
    read it. ``stop_after`` simulates a kill between stage commits (for
    resume tests)."""
    t0 = time.time()
    qts_p = os.path.join(out_dir, "qts")
    grp_p = os.path.join(out_dir, "groups")
    til_p = os.path.join(out_dir, "tiles")

    manifests: dict[str, dict] = {}
    if images is None:
        for stage, p in (("qts", qts_p), ("tiles", til_p)):
            if not is_committed(p):
                raise ValueError(f"stage {stage!r} not committed and no input provided")
    manifests["qts"] = stage_qts(spark, images, qts_p)
    if stop_after == "qts":
        return manifests
    qts = read_committed(spark, qts_p, manifests["qts"])
    manifests["groups"] = stage_groups(
        spark, qts, grp_p, target, minsize, tree_level, rollup
    )
    if stop_after == "groups":
        return manifests
    manifests["tiles"] = stage_tiles(
        spark, images, manifests["qts"], grp_p, til_p, num_partitions=num_partitions
    )
    total = time.time() - t0
    manifests["total"] = {
        "rows": manifests["tiles"]["rows"],
        "tiles": manifests["tiles"]["tiles"],
        "elapsed_sec": total,
        "rows_per_sec": manifests["tiles"]["rows"] / total if total else None,
    }
    return manifests
