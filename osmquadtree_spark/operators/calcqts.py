"""calcqts — element → quadtree cell assignment as DataFrame operators.

Semantics from the reference's in-memory pipeline
(/root/reference/src/calcqts/calcqtsinmem.cpp:120-310 and
src/calcqts/calcqts.cpp:48-124):

* way qt  = calculate(bbox of member node locations, buffer, depth)
* node qt = fold of common() over the qts of all ways containing the node,
            falling back to the node's own point cell when no way contains it
* rel qt  = fold of common() over member node/way qts; relation→relation
            members propagate via exactly 5 sequential passes; still-unset → 0

Spark-first restatement: the reference's multi-pass id-range scans, bucketed
waynode spills and 48-bit stores exist only to bound single-machine RAM —
here each arrow is one shuffle. The LCA fold becomes groupBy().agg(min, max)
plus the common() kernel (valid because int64 cell order is DFS preorder —
proven in test_lca_min_max_theorem). The rel→rel closure is evaluated on the
driver in the reference's exact sequential order (Gauss-Seidel, relations
ascending by id, members in order): a parallel self-join per pass would be a
Jacobi iteration and can differ after the fixed 5 passes. The rel-rel edge
set is vanishingly small at any scale (OSM planet: <1M edges vs 6e9
elements), so this collect is a driver-side metadata operation like the
group-tree build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import make_qt_calculate, qt_common_col
from ..kernels import quadtree as qtk


def way_node_pairs(ways: DataFrame) -> DataFrame:
    """ways(way_id, refs: array<bigint>) → (way_id, node_id) exploded pairs
    (writewaynodes.cpp:38-151 without the manual bucketing)."""
    return ways.select("way_id", F.explode("refs").alias("node_id"))


def way_quadtrees(
    ways: DataFrame,
    nodes: DataFrame,
    buffer: float = qtk.BUFFER_DEFAULT,
    max_depth: int = qtk.MAX_DEPTH_CLI,
    small_nodes: bool = False,
) -> DataFrame:
    """(way_id, qt): bbox-aggregate member locations, then the calculate
    kernel (wayqts.cpp:159-186). Missing nodes are skipped, as in the
    reference (calcqtsinmem.cpp:262-271 logs and continues).

    ``small_nodes=True`` broadcast-hints the node-location side — correct
    for change-set/fixture scale where the node table fits an executor
    (daily diffs, bench fixtures); leave False for planet-scale derivation
    where the shuffle join is the only viable shape."""
    qt_calc = make_qt_calculate(buffer, max_depth)
    pairs = way_node_pairs(ways)
    loc = nodes.select("node_id", "lon", "lat")
    located = pairs.join(F.broadcast(loc) if small_nodes else loc, "node_id")
    bbox = located.groupBy("way_id").agg(
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
    )
    return bbox.select(
        "way_id", qt_calc("minx", "miny", "maxx", "maxy").alias("qt")
    )


def node_quadtrees(
    nodes: DataFrame,
    ways: DataFrame,
    way_qts: DataFrame,
    buffer: float = qtk.BUFFER_DEFAULT,
    max_depth: int = qtk.MAX_DEPTH_CLI,
    small_way_qts: bool = False,
) -> DataFrame:
    """(node_id, qt): LCA of containing ways' qts, else the point cell
    (calcqts.cpp:48-94 fold + 115-124 fallback).

    The fold over common() is computed as min/max + one common() call —
    legal because invalid (-1) way qts are the fold identity and are
    filtered, and LCA(S) = common(min S, max S) in DFS-preorder int64 order.
    """
    qt_calc = make_qt_calculate(buffer, max_depth)
    pairs = way_node_pairs(ways)
    wq = F.broadcast(way_qts) if small_way_qts else way_qts
    from_ways = (
        pairs.join(wq, "way_id")
        .filter(F.col("qt") >= 0)
        .groupBy("node_id")
        .agg(F.min("qt").alias("qt_min"), F.max("qt").alias("qt_max"))
        .select("node_id", qt_common_col("qt_min", "qt_max").alias("way_qt"))
    )
    return (
        nodes.join(from_ways, "node_id", "left")
        .select(
            "node_id",
            F.coalesce(
                F.col("way_qt"),
                qt_calc("lon", "lat", "lon", "lat"),
            ).alias("qt"),
        )
    )


def relation_quadtrees(
    relations: DataFrame,
    node_qts: DataFrame,
    way_qts: DataFrame,
    small_member_qts: bool = False,
) -> DataFrame:
    """(rel_id, qt): LCA of member node/way qts + the 5-pass rel→rel closure
    (calcqtsinmem.cpp:139-207).

    relations schema: (rel_id, members: array<struct<m_type:int, m_ref:bigint>>)
    (roles are irrelevant to qt assignment). Members of a type missing from
    the lookup side contribute nothing (common(q, -1) = q). A relation with
    no located members and no *existing* relation members gets qt 0 before
    the closure; after the closure any remaining negative qt becomes 0.
    """
    spark = relations.sparkSession

    members = relations.select(
        "rel_id", F.posexplode("members").alias("pos", "m")
    ).select("rel_id", "pos", F.col("m.m_type").alias("m_type"), F.col("m.m_ref").alias("m_ref"))

    nq_side = node_qts.withColumnRenamed("node_id", "m_ref")
    wq_side = way_qts.withColumnRenamed("way_id", "m_ref")
    if small_member_qts:  # diff/fixture scale: member-qt lookups fit an executor
        nq_side, wq_side = F.broadcast(nq_side), F.broadcast(wq_side)
    node_side = (
        members.filter(F.col("m_type") == 0)
        .join(nq_side, "m_ref")
        .select("rel_id", "qt")
    )
    way_side = (
        members.filter(F.col("m_type") == 1)
        .join(wq_side, "m_ref")
        .select("rel_id", "qt")
    )
    base = (
        node_side.unionByName(way_side)
        .filter(F.col("qt") >= 0)
        .groupBy("rel_id")
        .agg(F.min("qt").alias("qt_min"), F.max("qt").alias("qt_max"))
        .select("rel_id", qt_common_col("qt_min", "qt_max").alias("q0"))
    )

    rel_ids = relations.select("rel_id").distinct()
    # rel→rel pairs, only when the member relation exists (calcqtsinmem.cpp:171-178)
    relrel = (
        members.filter(F.col("m_type") == 2)
        .join(rel_ids.withColumnRenamed("rel_id", "m_ref"), "m_ref")
        .select("rel_id", "pos", F.col("m_ref").alias("child_id"))
    )

    with_base = (
        rel_ids.join(base, "rel_id", "left")
        .join(
            relrel.select("rel_id").distinct().withColumn("has_relrel", F.lit(True)),
            "rel_id",
            "left",
        )
        .select(
            "rel_id",
            # q == -1 and no existing rel member → 0 (calcqtsinmem.cpp:182-184)
            F.when(
                F.col("q0").isNull() & F.col("has_relrel").isNull(), F.lit(0)
            )
            .otherwise(F.coalesce(F.col("q0"), F.lit(-1)))
            .alias("q0"),
        )
    )

    # ---- driver-side exact 5-pass Gauss-Seidel closure -------------------
    # ONE action fetches both the edge list and the involved relations'
    # base values (they were two collects — two full jobs through the
    # member-join lineage — before; the union costs nothing extra)
    involved_ids = (
        relrel.select("rel_id")
        .unionByName(relrel.select(F.col("child_id").alias("rel_id")))
        .distinct()
    )
    snapshot = (
        relrel.select(
            F.lit(0).alias("_kind"), "rel_id",
            F.col("pos").cast("bigint").alias("pos"), "child_id",
            F.lit(None).cast("bigint").alias("q0"),
        )
        .unionByName(
            with_base.join(involved_ids, "rel_id", "left_semi").select(
                F.lit(1).alias("_kind"), "rel_id",
                F.lit(None).cast("bigint").alias("pos"),
                F.lit(None).cast("bigint").alias("child_id"), "q0",
            )
        )
        .collect()
    )
    pairs = sorted(
        ((r.rel_id, r.pos, r.child_id) for r in snapshot if r._kind == 0),
        key=lambda t: (t[0], t[1]),
    )
    if pairs:
        cur = {r.rel_id: r.q0 for r in snapshot if r._kind == 1}
        for _ in range(5):  # exactly 5 passes (calcqtsinmem.cpp:189-198)
            for parent, _pos, child in pairs:
                a = cur[parent]
                b = qtk.common_scalar(a, cur[child])
                if a != b:
                    cur[parent] = b
        updates = spark.createDataFrame(
            [(k, v) for k, v in cur.items()], "rel_id bigint, q_closed bigint"
        )
        with_base = with_base.join(F.broadcast(updates), "rel_id", "left").select(
            "rel_id", F.coalesce("q_closed", "q0").alias("q0")
        )

    # remaining negatives → 0 (calcqtsinmem.cpp:199-205)
    return with_base.select(
        "rel_id", F.when(F.col("q0") < 0, F.lit(0)).otherwise(F.col("q0")).alias("qt")
    )


def calc_all_quadtrees(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    buffer: float = qtk.BUFFER_DEFAULT,
    max_depth: int = qtk.MAX_DEPTH_CLI,
) -> dict[str, DataFrame]:
    """Full calcqts: returns {'nodes': (node_id, qt), 'ways': ..., 'relations': ...}.

    Way and node cells are persisted (through the cache registry, so
    ``release_all`` frees them): the node path re-reads the way cells, the
    relation path re-reads both, and the relation closure's driver
    collects would otherwise replay the whole join lineage per action —
    the reference materializes each stage to file for the same reason
    (calcqts.cpp writes -qts.pbf between passes)."""
    from ..cache import cached

    wq = cached(way_quadtrees(ways, nodes, buffer, max_depth))
    nq = cached(node_quadtrees(nodes, ways, wq, buffer, max_depth))
    rq = relation_quadtrees(relations, nq, wq)
    return {"nodes": nq, "ways": wq, "relations": rq}
