"""Spatial extract operators — bbox/polygon filters with the reference's
id-expansion semantics, plus partition-level tile pruning.

Reference: run_mergechanges filter_objs (/root/reference/src/sorting/
mergechanges.cpp:164-317) — nodes hit by box/poly; ways kept if *any* ref
hit, and then all their refs become "extra nodes"; relations kept if any
member kept, closed over rel→rel membership for 5 passes. Tile-level
pre-prune via buffered cell bbox (readblockscaller.cpp:86-136).

Spark-first: the IdSet becomes a chain of semi-joins (no driver-side bitset;
the reference's set-vs-bitvec choice at mergechanges.cpp:300-317 is a RAM
workaround Spark doesn't need). Tile pruning is a driver-computed cell list
pushed into a partition filter on the tile-sorted table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import geom as gk
from ..kernels import quadtree as qtk

Box = tuple[int, int, int, int]  # minx, miny, maxx, maxy fixed-point


def make_pnpoly_udf(poly: gk.Polygon):
    @pandas_udf("boolean")
    def pnpoly(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(gk.point_in_poly(poly, lon.to_numpy("int64"), lat.to_numpy("int64")))

    return pnpoly


def prune_tiles(tile_qts: np.ndarray, box: Box, buffer: float = qtk.BUFFER_DEFAULT) -> np.ndarray:
    """Driver-side partition pruning: the subset of tile cells that can hold
    elements overlapping the box, via the sound mercator-space overlap test
    (see kernels.quadtree.tiles_overlapping_box)."""
    mask = qtk.tiles_overlapping_box(tile_qts, *box, buffer=buffer)
    return tile_qts[mask]


def extract_with_expansion(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    box: Box,
    poly: gk.Polygon | None = None,
) -> dict[str, DataFrame]:
    """The mergechanges IdSet filter as semi-joins.

    nodes: (node_id, lon, lat); ways: (way_id, refs array); relations:
    (rel_id, members array<struct<m_type, m_ref>>).

    Returns {'node_ids', 'way_ids', 'rel_ids'} DataFrames of kept ids:
    * node hit: lon/lat in box (and in poly if given) — check_node
      (mergechanges.cpp:236-240)
    * way kept iff any ref hit; then ALL its refs are kept ("extra nodes") —
      check_way (242-261)
    * relation kept iff any node/way member kept; rel→rel closed 5 passes;
      relations that remain member-only are dropped — check_relation +
      closure (263-298, 181-189)
    """
    a, b, c, d = box
    hit = nodes.filter(
        (F.col("lon") >= a) & (F.col("lon") <= c) & (F.col("lat") >= b) & (F.col("lat") <= d)
    )
    if poly is not None:
        hit = hit.filter(make_pnpoly_udf(poly)(F.col("lon"), F.col("lat")))
    node_hits = hit.select("node_id")

    pairs = ways.select("way_id", F.explode("refs").alias("node_id"))
    way_ids = pairs.join(node_hits, "node_id", "left_semi").select("way_id").distinct()
    # extra nodes: every ref of a kept way (mergechanges.cpp:249-259)
    node_ids = (
        pairs.join(way_ids, "way_id", "left_semi")
        .select("node_id")
        .unionByName(node_hits)
        .distinct()
    )

    members = relations.select(
        "rel_id", F.explode("members").alias("m")
    ).select("rel_id", F.col("m.m_type").alias("m_type"), F.col("m.m_ref").alias("m_ref"))
    rel_from_nodes = (
        members.filter(F.col("m_type") == 0)
        .join(node_ids.withColumnRenamed("node_id", "m_ref"), "m_ref", "left_semi")
        .select("rel_id")
    )
    rel_from_ways = (
        members.filter(F.col("m_type") == 1)
        .join(way_ids.withColumnRenamed("way_id", "m_ref"), "m_ref", "left_semi")
        .select("rel_id")
    )
    rel_ids = rel_from_nodes.unionByName(rel_from_ways).distinct()
    relrel = members.filter(F.col("m_type") == 2).select("rel_id", F.col("m_ref").alias("child_id"))
    for _ in range(5):  # fixed 5-pass closure (mergechanges.cpp:181-189)
        parents = relrel.join(
            rel_ids.withColumnRenamed("rel_id", "child_id"), "child_id", "left_semi"
        ).select("rel_id")
        rel_ids = rel_ids.unionByName(parents).distinct()
    return {"node_ids": node_ids, "way_ids": way_ids, "rel_ids": rel_ids}


def filter_relation_members(
    relations: DataFrame,
    node_ids: DataFrame,
    way_ids: DataFrame,
    rel_ids: DataFrame,
) -> DataFrame:
    """FilterRels member filtering on extract output
    (/root/reference/src/sorting/mergechanges.cpp:319-396): every kept
    relation drops members whose (type, ref) is not in the kept IdSet
    (``Relation::filter_members``), and relations left with zero members are
    removed from the output entirely.

    Spark-first: posexplode preserves member order; kept-ness per type is one
    left join against the union of the three id tables keyed by
    (m_type, m_ref) — a single shuffle instead of three — and members are
    re-packed with a compacted position (the reference erases in place, so
    surviving members keep their relative order).

    Returns (rel_id, pos, m_type, m_ref, role) — the flattened compacted
    member list of every relation that survives. Scale shape: explode +
    equi-join on the member ref + windowless re-number via
    ``row_number`` over (rel_id, orig_pos); the id tables are the extract's
    own semi-join outputs so the join keys are already shuffled by ref.
    """
    from pyspark.sql import Window

    kept = (
        node_ids.select(F.lit(0).alias("m_type"), F.col("node_id").alias("m_ref"))
        .unionByName(way_ids.select(F.lit(1).alias("m_type"), F.col("way_id").alias("m_ref")))
        .unionByName(rel_ids.select(F.lit(2).alias("m_type"), F.col("rel_id").alias("m_ref")))
    )
    has_role = "role" in [
        f.name for f in relations.schema["members"].dataType.elementType.fields
    ]
    m = relations.join(rel_ids, "rel_id", "left_semi").select(
        "rel_id", F.posexplode("members").alias("orig_pos", "m")
    ).select(
        "rel_id",
        "orig_pos",
        F.col("m.m_type").alias("m_type"),
        F.col("m.m_ref").alias("m_ref"),
        (F.col("m.role") if has_role else F.lit("")).alias("role"),
    )
    survivors = m.join(kept, ["m_type", "m_ref"], "left_semi")
    w = Window.partitionBy("rel_id").orderBy("orig_pos")
    return (
        survivors.withColumn("pos", F.row_number().over(w) - 1)
        .select("rel_id", "pos", "m_type", "m_ref", "role")
    )
