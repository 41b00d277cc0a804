"""sortblocks — tile-split grouping + tile-sorted table layout.

Reference lifecycle (/root/reference/src/sorting/sortblocks.cpp:422-501):
count elements per cell rounded to the tree level → greedy group tree
(find_groups_copy) → every element assigned to a group via find_tile →
blocks written sorted by group cell, rows sorted by internal id.

Spark-first restatement: the count histogram is one hash aggregate (rounding
is a pure JVM bit expression, no UDF); the greedy grouping runs on the
driver over ≤4^15 rows (planet ≈ 150k); the resulting group table is
broadcast into a vectorized assignment kernel. As in the reference, the
group table IS the partitioner: the same Arrow pass that assigns a row's
group also computes its destination partition from the tile's DFS
position, and the layout is one ``repartitionById`` on that id +
``sortWithinPartitions`` — no sampling pass, and the layout is a
deterministic function of the group table and the partition count. The
count is the session's shuffle partitions (at most one per tile), so
each partition holds a contiguous DFS block of whole tiles, the way the
reference packs many tiles into one file. Spark's in-partition sort is
the same external-sort algorithm as the reference's splitbyid/tempobjs
spill machinery, with shuffle-managed memory.

At 10^12 rows the only driver-side state is the (cell, count) histogram at
the tree level, which is bounded by 4^15 ≈ 1.07e9 cells in the worst case —
so ``tree_level`` must be chosen (or the histogram pre-rolled) to keep it
≲1e6 rows; the default planet layout (level 15) observes ≈150k.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..commit import commit_manifest, write_observed
from ..functions.udfs import round_qt_col
from ..kernels import quadtree as qtk
from ..metrics import atomic_export_local
from ..plans.qttree import (
    QtTreeArr,
    assign_groups,
    find_groups,
    group_table,
    tree_rollup_arr,
)


# histogram level of compute_groups_scalable's shallow pass; callers
# providing a precomputed `shallow_hist` must emit cells at this level
SHALLOW_LEVEL = 8


def cell_histogram(df: DataFrame, qt_col: str = "qt", tree_level: int = 15) -> DataFrame:
    """groupBy(round(qt, tree_level)).count() — the CollectQts pass
    (sortblocks.cpp:58-121) as a single partial+final hash aggregate."""
    return (
        df.select(round_qt_col(F.col(qt_col), tree_level).alias("cell"))
        .groupBy("cell")
        .count()
    )


# Twin of compute_groups_scalable: dense histogram, the scalable path's oracle.
def compute_groups(
    df: DataFrame,
    qt_col: str = "qt",
    target: int = 40000,
    minsize: int = 20000,
    tree_level: int = 15,
    rollup: bool = False,
):
    """Histogram → driver-side greedy grouping. Returns (group_qts, group_idx,
    group_weights) numpy arrays sorted by cell id (DFS order).

    ``rollup=False`` matches the reference CLI default; pass True to absorb
    sub-minsize subtrees into parent weights first (the reference's
    ``rollup`` flag), which is required for meaningful groups when all
    weight sits at the tree's max level."""
    hist = cell_histogram(df, qt_col, tree_level).toPandas()
    cells = hist["cell"].to_numpy("int64")
    counts = hist["count"].to_numpy("int64")
    tree = QtTreeArr.build(cells, counts, tree_level)
    if rollup:
        tree = tree_rollup_arr(tree, minsize)
    groups = find_groups(tree, target, minsize)
    return group_table(groups)


# Twin of compute_groups for a different regime: skew-proof, collect bounded by output.
def compute_groups_scalable(
    df: DataFrame,
    qt_col: str = "qt",
    target: int = 40000,
    minsize: int = 20000,
    tree_level: int = 15,
    shallow_hist: DataFrame | None = None,
):
    """Rollup-mode grouping with a driver collect bounded by the OUTPUT size,
    not the input histogram — the planet/10^12-row path.

    Key observation: the reference's ``tree_rollup`` (qttreegroups.cpp:149-172)
    absorbs a child iff ``total < minsize`` and totals are invariant under
    absorption, so the surviving node set is exactly ``{total >= minsize}``
    (plus the root) and a survivor's rolled weight is
    ``total - sum(totals of surviving children)``. Both are computable from
    per-level ancestor totals — a pure Spark aggregate — so the driver only
    ever sees nodes that survive: at most ``(tree_level+1) * N / minsize``
    rows regardless of how many distinct cells the data has. The dense-
    histogram path (``compute_groups``) collects every distinct cell, which
    is fine for clustered planet data (~150k level-15 cells) but unbounded
    for uniform data; this path is skew-proof.

    Two-phase aggregation keeps the hash-agg key space small (a single
    all-levels explode makes ~N distinct keys and spills): levels 0..shallow
    are aggregated directly (≤ 4^shallow keys); deeper survivors can only
    exist under a depth-``shallow`` survivor (child total ≤ parent total, and
    there are ≤ N/minsize survivors per level), so the deep pass re-aggregates
    only rows inside those hot subtrees — for uniform data it never runs, for
    skewed data it touches exactly the skewed fraction.

    Returns the same ``(group_qts, group_idx, group_weights)`` as
    ``compute_groups(rollup=True)`` — equivalence is asserted in
    tests/test_qttree_groups.py and test_sortblocks.py.
    """
    # SHALLOW_LEVEL = 8: 4^8 = 65k possible keys means the map-side partial
    # aggregate collapses each task's input to ≤65k rows before the shuffle
    # (at level 10 the 1M-key space defeated the combiner and the shuffle
    # carried ~the full input); levels 9..tree_level go through the deep
    # pass, which only touches hot subtrees
    shallow = min(SHALLOW_LEVEL, tree_level)
    # hist is NOT persisted: the deep phase usually never runs (it needs a
    # depth-`shallow` cell holding ≥ minsize rows), and when it does, callers
    # of this function at scale have already materialized `df` upstream, so
    # recomputing the histogram is one cheap cache-scan aggregate
    hist = cell_histogram(df, qt_col, tree_level).filter(F.col("cell") >= 0)
    # pre-reduce to the shallow level BEFORE exploding ancestors: the
    # ancestor explode multiplies its input ×(shallow+1), so running it on
    # the level-`shallow` histogram (≤ 4^shallow rows) instead of the
    # level-`tree_level` one (≈ n_rows for uniform data) cuts the exploded
    # volume by ~the data/4^shallow ratio — at 16M uniform rows this was
    # the single largest non-scaling stage of the pipeline
    if shallow_hist is None:
        shallow_hist = (
            df.select(round_qt_col(F.col(qt_col), shallow).alias("cell"))
            .filter(F.col("cell") >= 0)
            .groupBy("cell")
            .count()
        )
    else:
        # caller-provided PARTIAL histogram at SHALLOW_LEVEL — e.g. emitted
        # as per-partition (cell, count) rows straight out of the generation
        # kernel (np.bincount per partition), which keeps the full row
        # stream from ever crossing Arrow just to be counted
        shallow_hist = (
            shallow_hist.filter(F.col("cell") >= 0)
            .groupBy("cell")
            .agg(F.sum("count").alias("count"))
        )
    # the level-`shallow` histogram is bounded by 4^shallow = 65k rows —
    # collect it and roll ancestors up in numpy (each level-(l-1) total is a
    # reshape-sum of level-l) instead of a Spark explode + second aggregate,
    # which cost a whole extra job of fixed latency per run. Driver state
    # stays O(4^shallow), independent of input size.
    hp = shallow_hist.toPandas()
    cur_cells = hp["cell"].to_numpy("int64")
    cur_counts = hp["count"].to_numpy("int64")
    # contract: every histogram cell is at depth <= `shallow`. A deeper
    # cell would match NO level iteration below — neither finalized nor
    # merged into a parent — and its count would silently vanish from all
    # ancestor totals. Fail loudly instead (same posture as
    # make_assign_group_udf on bad input).
    too_deep = (cur_cells & 31) > shallow
    if too_deep.any():
        raise ValueError(
            f"shallow_hist holds {int(too_deep.sum())} cells deeper than "
            f"level {shallow} (e.g. qt={int(cur_cells[too_deep][0])}) — "
            "pre-round the histogram to SHALLOW_LEVEL or pass a matching "
            "tree_level"
        )
    keep_cells, keep_totals = [], []
    for lv in range(shallow, -1, -1):
        # a node's subtree total is complete exactly at its own level's
        # iteration (all deeper cells have merged in by then); cells whose
        # level is shallower than lv carry forward untouched
        at_lv = (cur_cells & 31) == lv
        fin = at_lv & ((cur_counts >= minsize) | (cur_cells == 0))
        keep_cells.append(cur_cells[fin])
        keep_totals.append(cur_counts[fin])
        if lv == 0:
            break
        parent = np.where(at_lv, qtk.round_qt(cur_cells, lv - 1), cur_cells)
        order = np.argsort(parent, kind="stable")
        parent, pc = parent[order], cur_counts[order]
        starts = np.flatnonzero(np.r_[True, parent[1:] != parent[:-1]])
        cur_cells = parent[starts]
        cur_counts = np.add.reduceat(pc, starts)
    nodes = pd.DataFrame(
        {
            "node": np.concatenate(keep_cells) if keep_cells else np.zeros(0, np.int64),
            "total": np.concatenate(keep_totals) if keep_totals else np.zeros(0, np.int64),
        }
    )
    if tree_level > shallow:
        hot = nodes.loc[(nodes["node"] & 31) == shallow, "node"]
        hot_parents = [int(q) for q in hot if int(q) & 31 == shallow]
        if hot_parents:
            anc_deep = F.array_distinct(
                F.array(
                    *[
                        round_qt_col(F.col("cell"), lv)
                        for lv in range(shallow + 1, tree_level + 1)
                    ]
                )
            )
            deep_cells = hist.filter(F.col("cell").bitwiseAND(F.lit(31)) > shallow)
            if len(hot_parents) <= 10_000:
                deep_cells = deep_cells.filter(
                    round_qt_col(F.col("cell"), shallow).isin(hot_parents)
                )
            else:
                # at extreme skew the hot-parent list outgrows an In
                # expression — semi-join against a broadcast table instead
                spark = df.sparkSession
                hp = spark.createDataFrame(
                    pd.DataFrame({"hot": np.asarray(hot_parents, dtype=np.int64)})
                )
                deep_cells = deep_cells.join(
                    F.broadcast(hp),
                    round_qt_col(F.col("cell"), shallow) == F.col("hot"),
                    "left_semi",
                )
            deep = (
                deep_cells
                .select(F.explode(anc_deep).alias("node"), "count")
                .groupBy("node")
                .agg(F.sum("count").alias("total"))
                .filter(F.col("total") >= minsize)
                .toPandas()
            )
            nodes = pd.concat([nodes, deep], ignore_index=True)
    qts = nodes["node"].to_numpy("int64")
    totals = nodes["total"].to_numpy("int64")
    tree = QtTreeArr.from_rolled_nodes(qts, totals)
    groups = find_groups(tree, target, minsize)
    return group_table(groups)


def _groups_of(qt, group_qts: np.ndarray) -> np.ndarray:
    # a single NULL makes the Arrow batch float64, silently destroying
    # the low (depth) bits of every qt > 2^53 — fail loudly instead
    if pd.isna(qt).any():
        raise ValueError("assign_group: NULL cell id in batch")
    return assign_groups(np.asarray(qt, dtype=np.int64), group_qts)


def make_assign_group_udf(spark, group_qts: np.ndarray):
    """pandas UDF qt → group cell id; the group table ships once per executor
    via a Spark broadcast, not per-task closure pickling."""
    bc = spark.sparkContext.broadcast(group_qts)

    @pandas_udf("bigint")
    def assign_group(qt: pd.Series) -> pd.Series:
        return pd.Series(_groups_of(qt, bc.value))

    return assign_group


def with_group_column(
    df: DataFrame,
    group_qts: np.ndarray,
    qt_col: str = "qt",
    out_col: str = "group_qt",
) -> DataFrame:
    assign = make_assign_group_udf(df.sparkSession, group_qts)
    return df.withColumn(out_col, assign(F.col(qt_col)))


def tile_partitions(groups: np.ndarray, group_qts: np.ndarray, parts: int) -> np.ndarray:
    """Destination partition of each assigned group cell: the tile's DFS
    position in the (sorted) group table × ``parts`` ÷ n_groups. Monotone
    in the group cell, so partitions hold contiguous DFS blocks of tiles
    and a tile never straddles two partitions; with ``parts >= n_groups``
    every tile has a partition of its own."""
    n = len(group_qts)
    pos = np.searchsorted(group_qts, groups).clip(max=max(n - 1, 0))
    return (pos * parts // max(n, 1)).astype(np.int32)


PLACE_SCHEMA = "group_qt bigint, _part_id int"


def place_tiles(group_qts: np.ndarray, parts: int, qt) -> dict:
    """Group cell and destination partition (PLACE_SCHEMA) of a batch of
    cells."""
    g = _groups_of(qt, group_qts)
    return {"group_qt": g, "_part_id": tile_partitions(g, group_qts, parts)}


def lay_out_tiles(
    df: DataFrame,
    group_qts: np.ndarray,
    place,
    schema: str,
    inputs: list,
    sort_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """One Arrow pass ``place(group_qts, parts, *inputs)`` appends the
    ``schema`` columns, PLACE_SCHEMA's among them; ``repartitionById``
    on ``_part_id`` places the rows, and each partition is sorted by
    (group cell, sort key). The group table ships once per executor via a
    Spark broadcast.

    ``parts`` defaults to the session's ``spark.sql.shuffle.partitions``
    (capped at one partition per tile), the setting every other shuffle
    of the job follows: AQE cannot coalesce a ``repartitionById``, and a
    partition per tile would size the sort and write tasks, the files and
    the lineage re-read by the group table instead of the data."""
    spark = df.sparkSession
    parts = num_partitions or max(
        1, min(len(group_qts), int(spark.conf.get("spark.sql.shuffle.partitions")))
    )
    bc = spark.sparkContext.broadcast(group_qts)

    @pandas_udf(schema)
    def place_batch(*cols: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(place(bc.value, parts, *cols))

    out = df.withColumn("_tile", place_batch(*inputs)).select(*df.columns, "_tile.*")
    out = out.repartitionById(parts, "_part_id")
    return out.sortWithinPartitions("group_qt", *(sort_cols or []))


def tile_sorted(
    df: DataFrame,
    group_qts: np.ndarray,
    qt_col: str = "qt",
    sort_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign groups and lay out: one Arrow pass yields each row's group
    cell and destination partition (``_part_id``, see tile_partitions),
    ``repartitionById`` places the rows, and each partition is sorted by
    (group cell, sort key) — the resort_objects semantics
    (resortobjects.cpp:112-140)."""
    return lay_out_tiles(
        df, group_qts, place_tiles, PLACE_SCHEMA, [F.col(qt_col)], sort_cols, num_partitions
    )


def write_tile_sorted(
    df: DataFrame,
    path: str,
    group_qts: np.ndarray,
    qt_col: str = "qt",
    sort_cols: list[str] | None = None,
    num_partitions: int | None = None,
    *,
    layout=None,
    extra: dict | None = None,
    expect: dict | None = None,
) -> dict:
    """Write the tile-sorted table + per-tile lineage metrics.

    Production shape: ``df.writeTo(catalog.table).partitionedBy(group_qt)``
    on Iceberg — manifests play the reference's in-file (qt, pos, len) block
    index (writepbffile.cpp:151-199) and the snapshot log is the resume
    point. Sandbox stand-in: parquet + a ``_metrics`` side table holding the
    per-(partition, tile) lineage rows (row count, min/max cell) + the
    manifest whose presence marks the committed snapshot — a resumed job
    skips completed stages (see tests/test_sortblocks.py::test_resume).

    The rows are laid out by ``tile_sorted``, or by
    ``layout(df, group_qts, sort_cols, num_partitions)`` for a frame whose
    cell column ``qt_col`` is computed in the placing Arrow pass itself
    (``images.image_tiles``). The row count, and any ``extra`` aggregate
    columns, are observed on the write job; ``expect`` maps observed names
    to the values they must have, and a mismatch raises before anything
    commits. The lineage is one column-pruned aggregate over
    (``_part_id``, ``group_qt``, qt) of the committed files, read with the
    write's schema (no footer-inference job); it has at most |tiles| rows,
    so it is collected and committed from the driver, and the manifest's
    rows/tiles derive from it.
    """
    t0 = time.time()
    if layout is None:
        out = tile_sorted(df, group_qts, qt_col, sort_cols, num_partitions)
    else:
        out = layout(df, group_qts, sort_cols, num_partitions)
    obs = write_observed(out, path, extra)
    bad = [f"{k} {obs[k]} (expected {v})" for k, v in (expect or {}).items() if obs[k] != v]
    if bad:
        raise RuntimeError(f"tile write at {path} observed {', '.join(bad)}")
    lineage = (
        df.sparkSession.read.schema(out.schema)
        .parquet(os.path.join(path, "data"))
        .groupBy("_part_id", "group_qt")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.min(qt_col).alias("min_cell"),
            F.max(qt_col).alias("max_cell"),
        )
        .toPandas()
        .sort_values(["_part_id", "group_qt"], ignore_index=True)
    )
    rows = int(lineage["row_count"].sum())
    if rows != obs["rows"]:
        raise RuntimeError(
            f"tile lineage at {path} counts {rows} rows, the write observed {obs['rows']}"
        )
    atomic_export_local(lineage, os.path.join(path, "_metrics"))
    return commit_manifest(
        path,
        {
            "rows": rows,
            "tiles": int(lineage["group_qt"].nunique()),
            "groups": int(len(group_qts)),
            **{k: obs[k] for k in extra or {}},
            "elapsed_sec": time.time() - t0,
        },
    )
