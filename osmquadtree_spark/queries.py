"""Gate registry: every implemented operator as a (spark, sf_dir) →
DataFrame builder, paired with a DuckDB oracle SQL twin.

This is the engine's public query surface (consumed by __spark_entry__.py
and tools/gates.py). Column names and dtypes are aligned
with the oracle SQL because the driver's comparison hashes values after
sorting columns by name; ``compare`` is the repo's one copy of that check.

To add a gate, declare it once, on its builder, with its oracle defined
just above it:

    def _my_gate_sql() -> str:
        return "SELECT ..."


    @gate("my_gate", oracle=_my_gate_sql)
    def q_my_gate(spark, sf_dir):
        ...

``driver=True`` puts it in the external driver's 50-entry contract
(``spark_queries()`` / ``oracle_sql()``), ``headline=True`` in the default
suite of tools/gates.py's timing run. The oracle is a thunk, built only
when a harness asks.

Oracle-parity ground rules used throughout (see functions/sql_oracle.py):
integer arithmetic is overflow-free; float math is either single basic IEEE
ops (identical in JVM and DuckDB) or kernel recursions restated with the
same op sequence; kNN uses an integer-derived metric to avoid transcendental
libm-vs-StrictMath divergence.
"""

from __future__ import annotations

import functools
import os
import uuid
from collections import Counter
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import calcqts_oracle as cqo
from .cache import stage_checkpoint
from .functions import dedup_oracle as do
from .functions import group_oracle as grpo
from .functions import geometry_oracle as go
from .functions import media_oracle as mo
from .functions import sql_oracle as so
from .functions import update_oracle as uo
from .functions.udfs import make_qt_calculate, make_qt_common, round_qt_col
from .kernels import geom as gk
from .kernels import quadtree as qtk
from .operators import ann as ann_ops
from .operators import docs as doc_ops
from .operators import images as img_ops
from .operators.changes import apply_changes
from .operators.sortblocks import compute_groups, with_group_column
from .sources.geo import elements_sql, geo_elements
from .sources.osm_fixture import nodes_sql as fx_nodes_sql
from .sources.osm_fixture import rel_members_sql as _rel_members_sql_f
from .sources.osm_fixture import way_pairs_sql as _way_pairs_sql_f

_WAY_PAIRS_SQL = _way_pairs_sql_f()
_REL_MEMBERS_SQL = _rel_members_sql_f()

# ----------------------------------------------------------------------------
# gate registry


class Gate(NamedTuple):
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str]  # DuckDB SQL, built only when asked for
    driver: bool  # in the external driver's contract (spark_queries/oracle_sql)
    headline: bool  # in tools/gates.py's default timing suite


GATES: dict[str, Gate] = {}


def gate(name: str, oracle: Callable[[], str], driver: bool = False, headline: bool = False):
    """Declare the decorated ``q_*`` builder as gate ``name``."""

    def register(build):
        if name in GATES:
            raise ValueError(f"gate {name!r} declared twice")
        GATES[name] = Gate(name, build, oracle, driver, headline)
        return build

    return register


# every per-(session, sf) memo's store, with whether it is an input store
# (see clear_session_caches)
_SESSION_MEMOS: list[tuple[dict, bool]] = []


def _session_memo(input_store: bool = False):
    """Memoize the decorated ``fn(spark, sf_dir)`` per (session, sf_dir) in
    a store ``clear_session_caches`` empties. ``input_store=True`` marks a
    stand-in for the input tables themselves, which survives
    ``clear_session_caches(keep_input_stores=True)``."""

    def decorate(fn):
        store: dict = {}
        _SESSION_MEMOS.append((store, input_store))

        @functools.wraps(fn)
        def memo(spark, sf_dir):
            key = (spark.sparkContext.applicationId, sf_dir)
            if key not in store:
                store[key] = fn(spark, sf_dir)
            return store[key]

        return memo

    return decorate


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: g.build for n, g in GATES.items() if g.driver}


def oracle_sql() -> dict[str, str]:
    return {n: g.oracle() for n, g in GATES.items() if g.driver}


def oracle_connection(sf_dir: str):
    """DuckDB connection with one view per source table of ``sf_dir``.
    Hold it while its relations are read: a relation does not keep its
    connection open."""
    import duckdb

    from .sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class Verdict(NamedTuple):
    status: str  # "EQ" or "MISMATCH"
    rows: int  # Spark-side row count
    report: list[str]  # why not EQ; empty when EQ


def _sorted_rows(cols: list[str], rows) -> tuple[list[tuple], list[tuple]]:
    """Rows projected to name-sorted columns, sorted by a NULL-safe key
    (raw tuples with None raise TypeError against ints/strs). Returns
    (keys, rows) in the same order; a key carries each value's type."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    proj = [tuple(r[i] for i in order) for r in rows]
    keyed = sorted(
        ((tuple((v is None, type(v).__name__, 0 if v is None else v) for v in t), t)
         for t in proj),
        key=lambda kt: kt[0],
    )
    return [k for k, _ in keyed], [t for _, t in keyed]


def compare(sdf: DataFrame, rel) -> Verdict:
    """The value gate: Spark frame ``sdf`` against DuckDB relation ``rel``.

    EQ iff the column names are equal as sorted lists (exact case) and the
    row multisets are equal, column order ignored. Two values are equal
    when they have the same Python type and compare ``==``: NULL equals
    NULL, −0.0 equals 0.0, and NaN equals nothing. Compare with
    ``fetchall()`` values, never ``.df()``: pandas turns nullable integer
    columns into float64 + NaN.
    """
    scols, ocols = list(sdf.columns), list(rel.columns)
    srows = sdf.collect()
    if sorted(scols) != sorted(ocols):
        return Verdict(
            "MISMATCH", len(srows), [f"cols: spark={sorted(scols)} oracle={sorted(ocols)}"]
        )
    skeys, srows = _sorted_rows(scols, srows)
    okeys, orows = _sorted_rows(ocols, rel.fetchall())
    if skeys == okeys:
        return Verdict("EQ", len(srows), [])
    report = []
    if len(srows) != len(orows):
        report.append(f"rows: spark={len(srows)} oracle={len(orows)}")
    # sample the SYMMETRIC DIFFERENCE, not a positional zip (which shows
    # nothing when one side is a shifted or truncated copy of the other)
    s_only = Counter(map(repr, srows)) - Counter(map(repr, orows))
    o_only = Counter(map(repr, orows)) - Counter(map(repr, srows))
    report += [f"spark-only:  {r}" for r in list(s_only)[:3]]
    report += [f"oracle-only: {r}" for r in list(o_only)[:3]]
    if not s_only and not o_only:
        report.append("rows print alike: a NaN value, which equals nothing")
    return Verdict("MISMATCH", len(srows), report)


# ----------------------------------------------------------------------------
# shared fixtures (constants used identically by Spark + SQL)

BOX = (-200000000, 100000000, 400000000, 500000000)  # lon -20°..40°, lat 10°..50°
PENTAGON: gk.Polygon = [
    (-300000000, 0),
    (0, 520000000),
    (300000000, 0),
    (180000000, -400000000),
    (-180000000, -400000000),
]
KNN_QUERIES = [  # (query_id, lon, lat) fixed-point
    (1, 0, 515000000),
    (2, -1200000000, -230000000),
    (3, 1395000000, 356000000),
]
KNN_K = 5
ANN_K = 10

STOP_SQL = "', '".join(doc_ops.STOPWORDS)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    df.createOrReplaceTempView(name)
    return df


def _load_fanned(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """documents/embeddings loads: these feed Arrow signature kernels
    (minhash, simhash, LSH projections, gram explode) whose cost is
    per-row compute, so an under-parallel scan serializes them — see
    sources.tables.fan_out (no-op on an already-parallel scan)."""
    from .sources.tables import fan_out

    return fan_out(_load(spark, sf_dir, name))


def _elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    return geo_elements(spark, sf_dir)


@_session_memo()
def _elements_qt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized per (session, sf): the assigned-cell element table — seven
    queries derive from it; a session computes the cell table once, exactly
    like production reading a stored `-qts` table. (tools/gates.py clears the memo
    between repeat sweeps so the first consumer of each sweep pays the full
    generation+kernel cost.)"""
    qt_calc = make_qt_calculate()
    df = _elements(spark, sf_dir).withColumn(
        "qt", qt_calc("minx", "miny", "maxx", "maxy")
    )
    return stage_checkpoint(df, eager=False)


_ELEM_CTE = elements_sql(intdiv="//")


def _qt_cte() -> str:
    """DuckDB CTE yielding (elem_id, qt) for the derived elements."""
    return so.calculate_cte(_ELEM_CTE, "elem_id")


# ----------------------------------------------------------------------------
# spatial queries


def _qt_assign_sql() -> str:
    return f"SELECT elem_id, qt FROM ({_qt_cte()})"


@gate("qt_assign", oracle=_qt_assign_sql, driver=True, headline=True)
def q_qt_assign(spark, sf_dir):
    """Flagship calcqts stage: every element gets its quadtree cell id
    (buffer 0.05, depth 17) via the Arrow-vectorized kernel."""
    return _elements_qt(spark, sf_dir).select("elem_id", "qt")


def _qt_cell_histogram_sql() -> str:
    return f"""
            SELECT {so.round_sql('qt', 15)} AS cell, COUNT(*) AS cnt
            FROM ({_qt_cte()}) GROUP BY 1"""


@gate("qt_cell_histogram", oracle=_qt_cell_histogram_sql, driver=True, headline=True)
def q_qt_cell_histogram(spark, sf_dir):
    """Tile histogram: counts per cell rounded to tree level 15 — the
    CollectQts aggregate feeding the group tree."""
    df = _elements_qt(spark, sf_dir)
    return (
        df.select(round_qt_col(F.col("qt"), 15).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _qt_lca_by_order_sql() -> str:
    return f"""
            SELECT elem_id // 8 AS order_key,
                   {so.common_sql('MIN(qt)', 'MAX(qt)')} AS lca_qt
            FROM ({_qt_cte()}) WHERE qt >= 0 GROUP BY 1"""


@gate("qt_lca_by_order", oracle=_qt_lca_by_order_sql, driver=True, headline=True)
def q_qt_lca_by_order(spark, sf_dir):
    """Node-qt analog: LCA (common) of the cells of all elements in an order
    group — min/max + common kernel, the node-quadtree aggregation shape."""
    qt_common = make_qt_common()
    df = _elements_qt(spark, sf_dir).withColumn(
        "order_key", F.expr("elem_id DIV 8")
    )
    return (
        df.filter(F.col("qt") >= 0)
        .groupBy("order_key")
        .agg(F.min("qt").alias("qt_min"), F.max("qt").alias("qt_max"))
        .select("order_key", qt_common("qt_min", "qt_max").alias("lca_qt"))
    )


def _bbox_extract_sql() -> str:
    """Also the oracle of pruned_bbox_extract, whose soundness gate is
    exactly this full-scan SQL."""
    a, b, c, d = BOX
    return f"""
            SELECT elem_id FROM ({_ELEM_CTE})
            WHERE minx <= {c} AND maxx >= {a} AND miny <= {d} AND maxy >= {b}"""


@gate("bbox_extract", oracle=_bbox_extract_sql, driver=True, headline=True)
def q_bbox_extract(spark, sf_dir):
    """bbox extract: elements overlapping a fixed query box (closed
    intervals on fixed-point coords)."""
    a, b, c, d = BOX
    return _elements(spark, sf_dir).filter(
        (F.col("minx") <= c) & (F.col("maxx") >= a) & (F.col("miny") <= d) & (F.col("maxy") >= b)
    ).select("elem_id")


def _poly_extract_sql() -> str:
    return f"""
            SELECT elem_id FROM ({_ELEM_CTE})
            WHERE NOT is_box AND {gk.point_in_poly_sql(PENTAGON, 'minx', 'miny')}"""


@gate("poly_extract", oracle=_poly_extract_sql, driver=True, headline=True)
def q_poly_extract(spark, sf_dir):
    """Point-in-polygon extract: point-footprint elements inside a fixed
    pentagon (pnpoly crossing test)."""
    from .operators.extract import make_pnpoly_udf

    df = _elements(spark, sf_dir).filter(~F.col("is_box"))
    return df.filter(make_pnpoly_udf(PENTAGON)(F.col("minx"), F.col("miny"))).select("elem_id")


def _xyz_tiles_sql() -> str:
    x_expr, y_expr = so.xyz_sql(so.round_sql("qt", 8), 8)
    return f"""
            SELECT {x_expr} AS tile_x, {y_expr} AS tile_y, COUNT(*) AS cnt
            FROM ({_qt_cte()}) WHERE qt >= 0 AND (qt & 31) >= 8 GROUP BY 1, 2"""


@gate("xyz_tiles", oracle=_xyz_tiles_sql, driver=True, headline=True)
def q_xyz_tiles(spark, sf_dir):
    """Raster tile addressing: histogram of slippy-XYZ tiles at zoom 8
    derived from the cell ids (round + tuple)."""
    from .operators.spatial import make_xyz_udf

    df = _elements_qt(spark, sf_dir).filter(F.col("qt") >= 0)
    df = df.filter(F.expr("(qt & 31) >= 8"))  # deep enough for zoom 8
    xyz = make_xyz_udf(8)
    return (
        df.withColumn("_t", xyz(F.col("qt")))
        .groupBy(F.col("_t.tile_x").alias("tile_x"), F.col("_t.tile_y").alias("tile_y"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _knn_points_sql() -> str:
    knn_q = " UNION ALL ".join(
        f"SELECT {qid} AS query_id, {lon} AS qlon, {lat} AS qlat" for qid, lon, lat in KNN_QUERIES
    )
    return f"""
            SELECT query_id, elem_id, rank FROM (
              SELECT q.query_id, e.elem_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ((e.minx - q.qlon) / 1000.0) * ((e.minx - q.qlon) / 1000.0)
                              + ((e.miny - q.qlat) / 1000.0) * ((e.miny - q.qlat) / 1000.0) ASC,
                              e.elem_id ASC) AS rank
              FROM ({_ELEM_CTE}) e CROSS JOIN ({knn_q}) q
              WHERE NOT e.is_box
            ) WHERE rank <= {KNN_K}"""


@gate("knn_points", oracle=_knn_points_sql, driver=True, headline=True)
def q_knn_points(spark, sf_dir):
    """kNN: 5 nearest point-elements to each fixed query point under the
    scaled planar metric (exact integer/single-op-float math); deterministic
    tie-break on elem_id."""
    from pyspark.sql import Window

    pts = _elements(spark, sf_dir).filter(~F.col("is_box")).select("elem_id", "minx", "miny")
    q = spark.createDataFrame(KNN_QUERIES, "query_id bigint, qlon bigint, qlat bigint")
    dx = (F.col("minx") - F.col("qlon")) / F.lit(1000.0)
    dy = (F.col("miny") - F.col("qlat")) / F.lit(1000.0)
    # explicit multiplies (not pow) — bit-identical to the SQL oracle
    joined = pts.crossJoin(F.broadcast(q)).withColumn("dist", dx * dx + dy * dy)
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("elem_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "elem_id", "rank")
    )


S2_LEVEL = 16


def _s2_cells_sql() -> str:
    return so.s2_cell_cte(
        f"SELECT elem_id, minx AS lon, miny AS lat FROM ({_ELEM_CTE}) WHERE NOT is_box",
        "elem_id",
        S2_LEVEL,
    )


@gate("s2_cells", oracle=_s2_cells_sql, driver=True)
def q_s2_cells(spark, sf_dir):
    """Secondary S2 cell index (north rule "quadtree/H3/S2"): point
    elements → canonical S2 cell id at level 16 via the vectorized kernel
    (kernels/s2.py); the oracle replays the published algorithm as a
    recursive Hilbert-walk CTE."""
    from .functions.udfs import make_s2_cell

    s2_cell = make_s2_cell(S2_LEVEL)
    df = _elements(spark, sf_dir).filter(~F.col("is_box"))
    return df.select("elem_id", s2_cell("minx", "miny").alias("s2_cell"))


def _idset_ctes() -> str:
    """The mergechanges IdSet (extract expansion) as a DuckDB CTE chain:
    node hits in BOX → kept ways (+extra nodes) → relations + 5-pass rel→rel
    closure. Shared by the extract_expand and extract_members oracles.

    The closure steps each read r{{k-1}} twice and every step reads ``m`` —
    MATERIALIZED throughout, or DuckDB's CTE inlining re-derives the chain
    exponentially (measured 8.3 s → ~1 s for extract_members at sf0.01)."""
    return f"""hits AS MATERIALIZED (
              SELECT node_id FROM ({fx_nodes_sql()})
              WHERE lon >= {BOX[0]} AND lon <= {BOX[2]} AND lat >= {BOX[1]} AND lat <= {BOX[3]}
            ),
            wkeep AS MATERIALIZED (
              SELECT DISTINCT way_id FROM ({_WAY_PAIRS_SQL}) p JOIN hits USING (node_id)
            ),
            nkeep AS MATERIALIZED (
              SELECT DISTINCT node_id FROM (
                SELECT node_id FROM ({_WAY_PAIRS_SQL}) p JOIN wkeep USING (way_id)
                UNION SELECT node_id FROM hits
              )
            ),
            m AS MATERIALIZED ({_REL_MEMBERS_SQL}),
            r0 AS MATERIALIZED (
              SELECT DISTINCT rel_id FROM (
                SELECT m.rel_id FROM m JOIN nkeep n ON m.m_type = 0 AND m.m_ref = n.node_id
                UNION ALL
                SELECT m.rel_id FROM m JOIN wkeep w ON m.m_type = 1 AND m.m_ref = w.way_id
              )
            ),
            {', '.join(
                f"r{k} AS MATERIALIZED (SELECT DISTINCT rel_id FROM ("
                f"SELECT rel_id FROM r{k-1} UNION ALL "
                f"SELECT m.rel_id FROM m JOIN r{k-1} c ON m.m_type = 2 AND m.m_ref = c.rel_id))"
                for k in range(1, 6)
            )}"""


def _extract_expand_sql() -> str:
    return f"""
            WITH {_idset_ctes()}
            SELECT 0 AS element_type, node_id AS id FROM nkeep
            UNION ALL SELECT 1, way_id FROM wkeep
            UNION ALL SELECT 2, rel_id FROM r5"""


@gate("extract_expand", oracle=_extract_expand_sql, driver=True)
def q_extract_expand(spark, sf_dir):
    """mergechanges IdSet semi-join expansion: nodes in box → ways with any
    hit ref (plus ALL their refs as extra nodes) → relations over kept
    members with the 5-pass rel→rel closure. Output (element_type, id)."""
    ids = _extract_ids(spark, sf_dir)
    return (
        ids["node_ids"].select(F.lit(0).alias("element_type"), F.col("node_id").alias("id"))
        .unionByName(ids["way_ids"].select(F.lit(1).alias("element_type"), F.col("way_id").alias("id")))
        .unionByName(ids["rel_ids"].select(F.lit(2).alias("element_type"), F.col("rel_id").alias("id")))
    )


def _extract_members_sql() -> str:
    return f"""
            WITH {_idset_ctes()}
            SELECT rel_id,
                   ROW_NUMBER() OVER (PARTITION BY rel_id ORDER BY pos) - 1 AS pos,
                   m_type, m_ref
            FROM m
            WHERE rel_id IN (SELECT rel_id FROM r5)
              AND ((m_type = 0 AND m_ref IN (SELECT node_id FROM nkeep))
                OR (m_type = 1 AND m_ref IN (SELECT way_id FROM wkeep))
                OR (m_type = 2 AND m_ref IN (SELECT rel_id FROM r5)))"""


@gate("extract_members", oracle=_extract_members_sql, driver=True)
def q_extract_members(spark, sf_dir):
    """FilterRels member filtering on the extract output
    (mergechanges.cpp:319-396): members of kept relations are dropped unless
    their (type, ref) is in the kept IdSet; emptied relations disappear.
    Output = flattened compacted member lists (rel_id, pos, m_type, m_ref)."""
    from .operators.extract import filter_relation_members

    _, _, rels = _osm_fixture(spark, sf_dir)
    ids = _extract_ids(spark, sf_dir)
    out = filter_relation_members(rels, ids["node_ids"], ids["way_ids"], ids["rel_ids"])
    return out.select("rel_id", F.col("pos").cast("bigint").alias("pos"), "m_type", "m_ref")


def _fix_tags_sql() -> str:
    return """
            WITH dirty AS (
              SELECT CAST(o_orderkey AS BIGINT) AS id,
                     'z' || CAST(o_orderkey % 5 AS VARCHAR) AS k,
                     'v' || CAST(o_orderkey % 7 AS VARCHAR) AS v
              FROM orders
              UNION ALL
              SELECT o_orderkey, 'b' || chr(127) || 'key', 'x' || chr(127)
              FROM orders WHERE o_orderkey % 3 = 0
              UNION ALL
              SELECT o_orderkey, 'a' || chr(127) || 'x', 'del' || chr(127)
              FROM orders WHERE o_orderkey % 2 = 0
              UNION ALL
              SELECT o_orderkey, 'mkey', chr(127) || 'val' || chr(127) FROM orders
            )
            SELECT id,
                   ROW_NUMBER() OVER (PARTITION BY id ORDER BY k, v) - 1 AS pos,
                   replace(k, chr(127), '') AS key,
                   replace(v, chr(127), '') AS val
            FROM dirty"""


@gate("fix_tags", oracle=_fix_tags_sql, driver=True)
def q_fix_tags(spark, sf_dir):
    """fix_tags/fix_str normalization (element.cpp:89-127) over a dirty-tag
    fixture (keys/values salted with char 127, unsorted keys): sort by dirty
    key, strip DEL from keys and values. Output = flattened
    (id, pos, key, val)."""
    from .operators.geometry import fix_tags_col

    o = _load(spark, sf_dir, "orders").select(F.col("o_orderkey").cast("bigint").alias("id"))
    k = F.col("id")
    d = F.lit("\x7f")
    null_t = F.lit(None).cast("struct<key:string,val:string>")

    def tag(key, val):
        return F.struct(key.alias("key"), val.alias("val"))

    tags = F.array(
        tag(F.concat(F.lit("z"), (k % 5).cast("string")), F.concat(F.lit("v"), (k % 7).cast("string"))),
        F.when(k % 3 == 0, tag(F.concat(F.lit("b"), d, F.lit("key")), F.concat(F.lit("x"), d))).otherwise(null_t),
        F.when(k % 2 == 0, tag(F.concat(F.lit("a"), d, F.lit("x")), F.concat(F.lit("del"), d))).otherwise(null_t),
        tag(F.lit("mkey"), F.concat(d, F.lit("val"), d)),
    )
    df = o.select("id", F.filter(tags, lambda t: t.isNotNull()).alias("tags"))
    return (
        df.select("id", F.posexplode(fix_tags_col("tags")).alias("pos", "t"))
        .select(
            "id",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("t.key").alias("key"),
            F.col("t.val").alias("val"),
        )
    )


RASTER_ZOOM = 6


def _raster_vector_sql() -> str:
    return f"""
            SELECT elem_id, x AS tile_x, y AS tile_y, x * 64 + y AS payload FROM (
              SELECT elem_id,
                     {so.xyz_sql(so.round_sql('qt', RASTER_ZOOM), RASTER_ZOOM)[0]} AS x,
                     {so.xyz_sql(so.round_sql('qt', RASTER_ZOOM), RASTER_ZOOM)[1]} AS y
              FROM ({_qt_cte()}) WHERE qt >= 0 AND (qt & 31) >= {RASTER_ZOOM}
            ) WHERE (x + y) % 9 = 0"""


@gate("raster_vector", oracle=_raster_vector_sql, driver=True)
def q_raster_vector(spark, sf_dir):
    """Raster tile ⨝ vector join (north-rule op): a deterministic raster
    tile set at zoom 6 ((x + y) % 9 == 0 with payload x*64+y) broadcast
    against elements' rounded cell ids; salted to exercise the hot-cell
    path. Output (elem_id, tile_x, tile_y, payload)."""
    from .operators.spatial import raster_vector_join

    z = RASTER_ZOOM
    n = 1 << z
    rasters = (
        spark.range(0, n * n)
        .select(
            (F.col("id") % n).alias("tile_x"),
            (F.col("id") / n).cast("bigint").alias("tile_y"),
        )
        .filter((F.col("tile_x") + F.col("tile_y")) % 9 == 0)
        .withColumn("payload", F.col("tile_x") * n + F.col("tile_y"))
    )
    df = _elements_qt(spark, sf_dir).filter(
        (F.col("qt") >= 0) & (F.expr("(qt & 31)") >= z)
    )
    out = raster_vector_join(df, rasters, z, salt=4)
    return out.select("elem_id", "tile_x", "tile_y", "payload")


def _knn_cells_sql() -> str:
    return f"""
            SELECT query_id, point_id, rank FROM (
              SELECT q.query_id, e.elem_id AS point_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY pow(sin((radians(e.miny * 1e-7) - radians(q.qlat * 1e-7)) / 2), 2)
                              + cos(radians(e.miny * 1e-7)) * cos(radians(q.qlat * 1e-7))
                              * pow(sin((radians(e.minx * 1e-7) - radians(q.qlon * 1e-7)) / 2), 2) ASC,
                              e.elem_id ASC) AS rank
              FROM ({_ELEM_CTE}) e CROSS JOIN ({" UNION ALL ".join(
                  f"SELECT {qid} AS query_id, {lon} AS qlon, {lat} AS qlat"
                  for qid, lon, lat in KNN_QUERIES)}) q
              WHERE NOT e.is_box
            ) WHERE rank <= {KNN_K}"""


@gate("knn_cells", oracle=_knn_cells_sql, driver=True)
def q_knn_cells(spark, sf_dir):
    """Scale-path kNN: growing cell-neighborhood probe with a provable ring
    bound (operators/spatial.knn_cell_expansion) — exact by construction,
    so the oracle is the brute-force great-circle (half-chord) window."""
    from .operators.spatial import knn_cell_expansion
    from .functions.udfs import make_qt_calculate

    qt_calc = make_qt_calculate()
    pts = (
        _elements(spark, sf_dir)
        .filter(~F.col("is_box"))
        .select(
            F.col("elem_id").alias("point_id"),
            F.col("minx").alias("lon"),
            F.col("miny").alias("lat"),
            qt_calc("minx", "miny", "minx", "miny").alias("qt"),
        )
    )
    q = spark.createDataFrame(KNN_QUERIES, "query_id bigint, lon bigint, lat bigint")
    return knn_cell_expansion(pts, q, KNN_K)


def _group_assign_default_sql() -> str:
    # DuckDB-derived histogram → greedy → SQL-restated find_tile
    # (functions/group_oracle.py). At the driver's sf the default-CLI
    # grouping genuinely resolves to the root group — that now falls out
    # of RUNNING the algorithm on the DuckDB histogram instead of being
    # assumed; the fine-grained variant exercises real multi-level
    # splitting through the same gate.
    return grpo.group_assign_sql(
        target=40000, minsize=20000, tree_level=15, rollup=False
    )


@gate("group_assign_default", oracle=_group_assign_default_sql, driver=True)
def q_group_assign_default(spark, sf_dir):
    """Full sortblocks assignment at reference CLI defaults (target 40000 /
    minsize 20000 / tree level 15, no rollup): histogram → driver greedy
    grouping → broadcast vectorized find_tile."""
    df = _elements_qt(spark, sf_dir)
    gqt, _, _ = compute_groups(df, "qt", target=40000, minsize=20000, tree_level=15)
    return with_group_column(df, gqt, "qt").select("elem_id", "group_qt")


def _group_assign_fine_sql() -> str:
    return grpo.group_assign_sql(
        target=1000, minsize=500, tree_level=15, rollup=True
    )


@gate("group_assign_fine", oracle=_group_assign_fine_sql, driver=True, headline=True)
def q_group_assign_fine(spark, sf_dir):
    """sortblocks assignment at a bench-scale target (1000/500, rollup) via
    the SCALABLE survivor-aggregate grouping (driver collect bounded by
    output, proven ≡ compute_groups(rollup=True) in
    tests/test_qttree_groups.py) — gated against the DuckDB-derived
    histogram + per-item greedy + SQL find_tile oracle."""
    from .operators.sortblocks import compute_groups_scalable

    df = _elements_qt(spark, sf_dir)
    gqt, _, _ = compute_groups_scalable(df, "qt", target=1000, minsize=500, tree_level=15)
    return with_group_column(df, gqt, "qt").select("elem_id", "group_qt")


def _changes_merge_inputs(orders):
    """(main, ch1, ch2) fixture shared by q_changes_merge, the streaming
    twin and q_filelist_merge — ALL gated by the single changes_merge
    oracle, so the derivation must not fork."""
    main = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("payload"),
        F.lit(0).alias("changetype"),
    )
    ch1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_totalprice") * 2).alias("payload"),
        (F.col("o_orderkey") % 5 + 1).cast("int").alias("changetype"),
    )
    ch2 = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_totalprice") * 3).alias("payload"),
        (F.col("o_orderkey") % 2 + 4).cast("int").alias("changetype"),
    )
    return main, ch1, ch2


def _changes_merge_sql() -> str:
    return """
            SELECT key, payload, 0 AS changetype FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY file_idx DESC) AS rn
              FROM (
                SELECT o_orderkey AS key, o_totalprice AS payload, 0 AS changetype, 0 AS file_idx FROM orders
                UNION ALL
                SELECT o_orderkey, o_totalprice * 2, CAST(o_orderkey % 5 + 1 AS INT), 1 FROM orders WHERE o_orderkey % 3 = 0
                UNION ALL
                SELECT o_orderkey, o_totalprice * 3, CAST(o_orderkey % 2 + 4 AS INT), 2 FROM orders WHERE o_orderkey % 4 = 0
              )
            ) WHERE rn = 1 AND changetype NOT IN (1, 2)"""


@gate("changes_merge", oracle=_changes_merge_sql, driver=True, headline=True)
def q_changes_merge(spark, sf_dir):
    """Latest-wins change application (combineblocks semantics) over a
    deterministic change set derived from orders."""
    main, ch1, ch2 = _changes_merge_inputs(_load(spark, sf_dir, "orders"))
    return apply_changes(main, [ch1, ch2], ["key"])


# ----------------------------------------------------------------------------
# calcqts parity over the OSM-shaped fixture (way/node/relation paths)


@_session_memo(input_store=True)
def _osm_fixture(spark, sf_dir):
    """Memoized per (session, sf): the OSM-shaped element tables, READ from
    the on-disk planet store (sources/qts_store — the planet-file analog;
    built once per source fixture). A dozen queries derive from these, and
    every one pays exactly what production pays: a prunable parquet scan,
    not a re-synthesis of the fixture lineage."""
    from .sources.qts_store import read_planet_store

    t = read_planet_store(spark, sf_dir)
    return t["nodes"], t["ways"], t["rels"]


@_session_memo()
def _way_coords(spark, sf_dir):
    """Raw ordered way coordinate arrays, READ from the persistent qts
    store (sources/qts_store.read_way_coords) — the shared upstream of
    geom_way_stats, geom_minzoom, wkb_roundtrip and geojson_tiles. The
    assembly (explode refs ⨝ nodes + ordered collect) runs once at store
    build time, the analog of the reference's geometry stage reading
    -qts-sorted planet tiles with locations resolved; every query run pays
    a prunable parquet scan."""
    from .sources.qts_store import read_way_coords

    return read_way_coords(spark, sf_dir)


@_session_memo()
def _extract_ids(spark, sf_dir):
    """Memoized per (session, sf): the BOX extract's kept IdSet —
    extract_expand and extract_members share the whole semi-join chain."""
    from .operators.extract import extract_with_expansion

    nodes, ways, rels = _osm_fixture(spark, sf_dir)
    ids = extract_with_expansion(nodes, ways, rels, BOX)
    return {k: stage_checkpoint(v, eager=False) for k, v in ids.items()}


@gate("way_qts", oracle=cqo.way_qts_sql, driver=True)
def q_way_qts(spark, sf_dir):
    """calcqts way path: explode refs → join node locations → bbox agg →
    calculate kernel (wayqts.cpp:159-186 semantics). Served from the
    session-memoized _old_state shared by the three calcqts queries; the
    UPDATE queries do not read this memo — they scan the persistent
    on-disk qts store (_stored_old / sources.qts_store), paying the
    production read path instead."""
    return _old_state(spark, sf_dir)[3]["ways"]


@gate("node_qts", oracle=cqo.node_qts_sql, driver=True)
def q_node_qts(spark, sf_dir):
    """calcqts node path: LCA (common of min/max) of containing ways' qts
    with point-cell fallback (calcqts.cpp:48-124 semantics); memoized via
    _old_state."""
    return _old_state(spark, sf_dir)[3]["nodes"]


@gate("rel_qts", oracle=cqo.rel_qts_sql, driver=True)
def q_rel_qts(spark, sf_dir):
    """calcqts relation path: member LCA + the exact 5-pass rel→rel closure
    (calcqtsinmem.cpp:139-207 semantics); memoized via _old_state."""
    return _old_state(spark, sf_dir)[3]["relations"]


# ----------------------------------------------------------------------------
# incremental update (calc_change_qts + find_change_tiles, update.cpp)


@_session_memo()
def _old_state(spark, sf_dir):
    """Memoized per (session, sf): the fixture tables and their full
    calcqts at CLI depth 17, lazily localCheckpoint-ed — serves the three
    calcqts queries (way/node/rel_qts), whose POINT is the derivation; the
    update queries instead READ the persistent qts store (_stored_old)."""
    from .operators.calcqts import node_quadtrees, relation_quadtrees, way_quadtrees

    # fixture frames arrive already lazily checkpointed from _osm_fixture;
    # LAZY checkpoints on the qt tiers: each tier's blocks are saved the
    # first time a job runs through it, so the relation closure's collect
    # (the first action) materializes nodes→wq→nq in ONE scheduled job
    # instead of five sequential barrier jobs — eager tier-by-tier
    # materialization measured ~2× slower on the same lineage
    nodes, ways, rels = _osm_fixture(spark, sf_dir)
    # small_* hints: the bench fixture is diff-scale, where the lookup side
    # fits an executor; the planet-scale derivation keeps shuffle joins
    wq = stage_checkpoint(way_quadtrees(ways, nodes, small_nodes=True), eager=False)
    nq = stage_checkpoint(node_quadtrees(nodes, ways, wq, small_way_qts=True), eager=False)
    rq = stage_checkpoint(relation_quadtrees(rels, nq, wq, small_member_qts=True), eager=False)
    old = {"nodes": nq, "ways": wq, "relations": rq}
    return nodes, ways, rels, old


def _stored_old(spark, sf_dir):
    """Old element cells for the update path, READ from the persistent
    parquet qts store (sources/qts_store — the ``-qts.pbf`` analog,
    update.cpp reads the stored cells, it never re-derives them). The store
    is built once per source fixture; every query run, including the first
    benchmark attempt, pays only the scan."""
    from .sources.qts_store import read_qts_store

    return read_qts_store(spark, sf_dir)


def _change_set(spark, sf_dir):
    """DIFF-scale change map, READ from the materialized .osc-analog change
    tables in the qts store (sources/change_fixture.py derives them once at
    store-build time; production reads the day's .osc file the same way —
    update.cpp:539 consumes a parsed change map, it never re-derives one
    from the planet). Every run, including the first benchmark attempt,
    pays a diff-scale parquet scan. The derivation constants live in
    functions/update_oracle.py, shared with the DuckDB oracle twins."""
    from .sources.qts_store import read_change_store

    ch = read_change_store(spark, sf_dir)
    old = _stored_old(spark, sf_dir)
    return ch["ch_nodes"], ch["ch_ways"], ch["ch_rels"], old


# diff resolutions at or below this row count run driver-side (the
# reference's in-process update shape). 250k ≈ 10× a typical daily planet
# .osc — comfortably inside driver memory even with refs/members arrays (a
# few hundred MB), while a weekly/catch-up diff in the millions takes the
# distributed path whose per-row cost the gate exists to amortize (a
# 2M-row default would have pulled GBs through toPandas and a pure-Python
# relation closure onto the driver)
_UPDATE_INMEM_MAX_ROWS = 250_000


def _change_store_rows(sf_dir: str) -> int:
    """Total change-set rows from parquet footers — no Spark job."""
    import pyarrow.parquet as pq

    from .sources.qts_store import store_dir

    d = store_dir(sf_dir)
    n = 0
    for t in ("ch_nodes", "ch_ways", "ch_rels"):
        td = os.path.join(d, t)
        if not os.path.isdir(td):
            return 1 << 62  # store not built yet: assume big (distributed)
        for f in os.listdir(td):
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(td, f)).metadata.num_rows
    return n


@_session_memo()
def _resolved_elements(spark, sf_dir):
    """Memoized per (session, sf_dir): update_change_qts and
    update_change_tiles share the whole calcqts+resolution lineage — the
    driver invokes them as separate queries, and without the memo each
    pays the full recompute."""
    from .cache import cached
    from .operators.update import (
        DuplicateChangeIds,
        calc_change_qts,
        calc_change_qts_inmem,
    )

    ch_nodes, ch_ways, ch_rels, old = _change_set(spark, sf_dir)

    def _pdf_exact(df):
        # toPandas would hand a NULLABLE bigint back as float64, rounding
        # quadtree cell ids (path digits live above bit 53) — collect via
        # Arrow and keep nullable ints as exact Python objects instead;
        # calc_change_qts_inmem refuses float64 qt columns outright
        return df.toArrow().to_pandas(integer_object_nulls=True)

    res = None
    if _change_store_rows(sf_dir) <= _UPDATE_INMEM_MAX_ROWS:
        # the reference's own shape: `oqt update` resolves the day's diff
        # IN ONE PROCESS (update.cpp:539-654); distributing a ~30k-row
        # change set costs ~10 scheduler round-trips. Bit-identical kernels
        # + resolution (operators/update.calc_change_qts_inmem); the row
        # gate (parquet footer counts, no Spark job) keeps planet-scale
        # change sets on the distributed path.
        pdfs = [_pdf_exact(d) for d in (ch_nodes, ch_ways, ch_rels)]
        missing: dict = {}
        try:
            res = calc_change_qts_inmem(spark, *pdfs, missing_out=missing)
        except DuplicateChangeIds:
            # duplicate ids: a raw non-deduplicated .osc repeats an id
            # (create + modify in one file). The reference applies rows in
            # FILE ORDER into an id-keyed map — last occurrence wins
            # (update.cpp:539-654). Collect order is NOT file order in
            # general (a multi-part parquet scan orders splits by size),
            # so last-wins needs the parser's captured document position
            # (sources/osc.py emits file_pos); without it the winner
            # would be shuffle-dependent — refuse rather than pick one.
            # Routing duplicates to the distributed operator instead
            # would join BOTH location rows into way bboxes and emit
            # contradictory resolved rows. ONLY DuplicateChangeIds is
            # caught: any other in-mem error is a defect and must surface.
            from .operators.update import dedupe_last_wins

            res = calc_change_qts_inmem(
                spark,
                dedupe_last_wins(pdfs[0], "node_id"),
                dedupe_last_wins(pdfs[1], "way_id"),
                dedupe_last_wins(pdfs[2], "rel_id"),
                missing_out=missing,
            )
        # never-silent skips: ways resolve from the refs present in the
        # change map (the reference ABORTS above 10 missing instead,
        # update.cpp:548-556 — strict callers pass max_missing_refs);
        # the count is committed to the run metrics either way
        from . import metrics as _M

        _M.record(
            _scratch(sf_dir, "metrics"), "update_change_qts",
            "missing_way_refs", missing.get("missing_way_refs", 0),
        )
    if res is None:
        from .operators.update import missing_ref_count

        # read by way-bbox, fallback, and rel passes; registered with the
        # cache registry so bench sweeps release it — a raw persist() would
        # survive release_all and let the NEXT sweep's identical plan hit
        # Spark's CacheManager, reporting a cache read as the query's cost
        ch_nodes = cached(ch_nodes)
        # distributed twin of the same never-silent surface: one count
        # action over the cached change nodes
        from . import metrics as _M

        _M.record(
            _scratch(sf_dir, "metrics"), "update_change_qts",
            "missing_way_refs", missing_ref_count(ch_nodes, ch_ways),
        )
        res = calc_change_qts(ch_nodes, ch_ways, ch_rels)
    parts = [
        res["nodes"].select(
            F.lit(0).alias("element_type"), F.col("node_id").alias("id"), "qt", "changetype"
        ),
        res["ways"].select(
            F.lit(1).alias("element_type"), F.col("way_id").alias("id"), "qt", "changetype"
        ),
        res["relations"].select(
            F.lit(2).alias("element_type"), F.col("rel_id").alias("id"), "qt", "changetype"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # the union concatenates its branches' partitions (~3×66 at 32 threads
    # with AQE); coalesce before the persist so downstream consumers
    # (find_change_tiles' joins, the driver's collect) schedule one task
    # per core, not 198 — the branches end in Python-UDF stages, and each
    # extra task is an Arrow round-trip. defaultParallelism, not a literal:
    # a hardcoded width would cap downstream parallelism on larger clusters
    return (
        cached(out.coalesce(spark.sparkContext.defaultParallelism)),
        old,
    )


@gate("update_change_qts", oracle=uo.change_qts_sql, driver=True)
def q_update_change_qts(spark, sf_dir):
    """calc_change_qts parity: re-derived cells (depth 18) + final status
    resolution over the deterministic change set."""
    out, _ = _resolved_elements(spark, sf_dir)
    return out


def _level3_groups() -> "np.ndarray":
    import numpy as np

    cells = []
    for d0 in range(4):
        for d1 in range(4):
            for d2 in range(4):
                cells.append((d0 << 61) | (d1 << 59) | (d2 << 57) | 3)
    return np.sort(np.asarray(cells, dtype=np.int64))


@gate("update_change_tiles", oracle=uo.change_tiles_sql, driver=True, headline=True)
def q_update_change_tiles(spark, sf_dir):
    """find_change_tiles parity: survivors to their new tile, Remove
    tombstones in vacated tiles, deletes to their original tile — against
    the complete depth-3 group table (SQL-exact find_tile). The old-store
    side is diff-bounded: change_allocs semi-joins the stored cells to the
    change-set ids BEFORE the find_tile kernel, so per-update kernel work
    is O(|change set|), not O(planet)."""
    from .operators.update import change_allocs, find_change_tiles

    out, old = _resolved_elements(spark, sf_dir)
    parts = [
        old["nodes"].select(F.lit(0).alias("element_type"), F.col("node_id").alias("id"), "qt"),
        old["ways"].select(F.lit(1).alias("element_type"), F.col("way_id").alias("id"), "qt"),
        old["relations"].select(F.lit(2).alias("element_type"), F.col("rel_id").alias("id"), "qt"),
    ]
    stored = parts[0]
    for p in parts[1:]:
        stored = stored.unionByName(p)
    gqt = _level3_groups()
    return find_change_tiles(out, change_allocs(stored, out, gqt), gqt)


# ----------------------------------------------------------------------------
# count / poly source / osc source

HEXAGON: gk.Polygon = [
    (-400000000, 0),
    (-200000000, 350000000),
    (200000000, 350000000),
    (400000000, 0),
    (200000000, -350000000),
    (-200000000, -350000000),
]


def _count_stats_sql() -> str:
    return f"""
            SELECT 0 AS element_type, COUNT(*)::BIGINT AS num_objects,
                   MIN(node_id) AS min_id, MAX(node_id) AS max_id,
                   MIN(lon) AS min_lon, MIN(lat) AS min_lat,
                   MAX(lon) AS max_lon, MAX(lat) AS max_lat,
                   NULL::BIGINT AS num_refs, NULL::BIGINT AS min_ref,
                   NULL::BIGINT AS max_ref, NULL::BIGINT AS max_per_obj
            FROM ({fx_nodes_sql()})
            UNION ALL
            SELECT 1, COUNT(*)::BIGINT, MIN(o_orderkey), MAX(o_orderkey),
                   NULL, NULL, NULL, NULL,
                   COUNT(*)::BIGINT * 12,
                   MIN(o_orderkey) * 8 + 1, MAX(o_orderkey) * 8 + 12, 12
            FROM orders
            UNION ALL
            SELECT 2, COUNT(*)::BIGINT, MIN(rid), MAX(rid),
                   NULL, NULL, NULL, NULL,
                   SUM(3 + (rid % 4 = 1)::BIGINT + (rid % 16 = 0)::BIGINT)::BIGINT,
                   NULL, NULL,
                   MAX(3 + (rid % 4 = 1)::BIGINT + (rid % 16 = 0)::BIGINT)::BIGINT
            FROM (SELECT CAST(c_custkey AS BIGINT) AS rid FROM customer)"""


@gate("count_stats", oracle=_count_stats_sql, driver=True)
def q_count_stats(spark, sf_dir):
    """`oqt count` reconciliation statistics per element type (count.cpp
    semantics): counts, id extrema, node bbox, way/relation ref stats."""
    from .operators.stats import count_elements

    nodes, ways, rels = _osm_fixture(spark, sf_dir)
    return count_elements(nodes, ways, rels)


def _poly_file_extract_sql() -> str:
    return f"""
            SELECT elem_id FROM ({_ELEM_CTE})
            WHERE NOT is_box AND {gk.point_in_poly_sql(HEXAGON, 'minx', 'miny')}"""


@gate("poly_file_extract", oracle=_poly_file_extract_sql, driver=True)
def q_poly_file_extract(spark, sf_dir):
    """.poly file round-trip + point-in-polygon extract: the hexagon is
    serialized to Osmosis .poly text, re-parsed (sources/poly.py), and the
    parsed ring drives the pnpoly kernel — same result as filtering with
    the original constant (which is what the oracle does)."""
    from .operators.extract import make_pnpoly_udf
    from .sources.poly import outer_ring, write_poly

    text = write_poly("hexagon", [("area_1", HEXAGON)])
    ring = outer_ring(text)
    df = _elements(spark, sf_dir).filter(~F.col("is_box"))
    return df.filter(make_pnpoly_udf(ring)(F.col("minx"), F.col("miny"))).select("elem_id")


OSC_TS = "2020-01-02T03:04:05"
OSC_EPOCH = 1577934245


def _osc_text(spark, sf_dir) -> str:
    """Deterministic OsmChange XML derived from the orders keys (mirrored
    arithmetically by the oracle — the XML layer itself is what the Spark
    side must parse away)."""
    keys = [
        int(r.o_orderkey)
        for r in _load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderkey") % 101 == 0)
            | (F.col("o_orderkey") % 103 == 0)
            | (F.col("o_orderkey") % 107 == 0)
            | (F.col("o_orderkey") % 109 == 0)
            | (F.col("o_orderkey") % 113 == 0)
        )
        .select("o_orderkey")
        .collect()
    ]
    blocks = {"create": [], "modify": [], "delete": []}
    for k in sorted(keys):
        lon = (k * 7919) % 3600000000 - 1800000000
        lat = (k * 104729) % 1700000000 - 850000000
        attrs = f'version="{k % 7}" timestamp="{OSC_TS}"'
        if k % 101 == 0:
            blocks["modify"].append(
                f'<node id="{k}" lon="{lon * 1e-7:.7f}" lat="{lat * 1e-7:.7f}" {attrs}/>'
            )
        elif k % 103 == 0:
            blocks["delete"].append(f'<node id="{k}" {attrs}/>')
        elif k % 107 == 0:
            blocks["create"].append(
                f'<node id="{k}" lon="{lon * 1e-7:.7f}" lat="{lat * 1e-7:.7f}" {attrs}>'
                f'<tag k="amenity" v="bench"/></node>'
            )
        elif k % 109 == 0:
            nds = "".join(f'<nd ref="{8 * k + i}"/>' for i in range(1, 4))
            blocks["modify"].append(
                f'<way id="{k}" {attrs}>{nds}<tag k="highway" v="track"/></way>'
            )
        elif k % 113 == 0:
            blocks["create"].append(
                f'<relation id="{k}" {attrs}>'
                f'<member type="way" ref="{3 * k}" role="outer"/>'
                f'<member type="node" ref="{24 * k + 1}" role=""/></relation>'
            )
    body = "".join(f"<{b}>{''.join(rows)}</{b}>" for b, rows in blocks.items() if rows)
    return f'<osmChange version="0.6">{body}</osmChange>'


def _osc_parse_sql() -> str:
    return f"""
            WITH ks AS (
              SELECT CAST(o_orderkey AS BIGINT) AS k,
                     (o_orderkey * 7919) % 3600000000 - 1800000000 AS lon,
                     (o_orderkey * 104729) % 1700000000 - 850000000 AS lat,
                     CAST(o_orderkey % 7 AS INT) AS version
              FROM orders
            )
            SELECT 0 AS element_type, k AS id, 4 AS changetype, lon, lat,
                   NULL::BIGINT AS n_refs, NULL::BIGINT AS n_members,
                   0::BIGINT AS n_tags, version, {OSC_EPOCH}::BIGINT AS ts
            FROM ks WHERE k % 101 = 0
            UNION ALL
            SELECT 0, k, 1, 0, 0, NULL, NULL, 0, version, {OSC_EPOCH}
            FROM ks WHERE k % 103 = 0 AND k % 101 != 0
            UNION ALL
            SELECT 0, k, 5, lon, lat, NULL, NULL, 1, version, {OSC_EPOCH}
            FROM ks WHERE k % 107 = 0 AND k % 101 != 0 AND k % 103 != 0
            UNION ALL
            SELECT 1, k, 4, NULL, NULL, 3, NULL, 1, version, {OSC_EPOCH}
            FROM ks WHERE k % 109 = 0 AND k % 101 != 0 AND k % 103 != 0 AND k % 107 != 0
            UNION ALL
            SELECT 2, k, 5, NULL, NULL, NULL, 2, 0, version, {OSC_EPOCH}
            FROM ks WHERE k % 113 = 0 AND k % 101 != 0 AND k % 103 != 0
              AND k % 107 != 0 AND k % 109 != 0"""


@gate("osc_parse", oracle=_osc_parse_sql, driver=True)
def q_osc_parse(spark, sf_dir):
    """OsmChange XML source: parse the deterministic .osc into typed change
    rows — (element_type, id, changetype, lon, lat, n_refs, n_members,
    n_tags, version, ts)."""
    from .sources.osc import osc_dataframes

    dfs = osc_dataframes(spark, _osc_text(spark, sf_dir))
    n = dfs["nodes"].select(
        F.lit(0).alias("element_type"), F.col("node_id").alias("id"), "changetype",
        "lon", "lat", F.lit(None).cast("bigint").alias("n_refs"),
        F.lit(None).cast("bigint").alias("n_members"),
        F.size("tags").cast("bigint").alias("n_tags"), "version",
        F.col("timestamp").alias("ts"),
    )
    w = dfs["ways"].select(
        F.lit(1).alias("element_type"), F.col("way_id").alias("id"), "changetype",
        F.lit(None).cast("bigint").alias("lon"), F.lit(None).cast("bigint").alias("lat"),
        F.size("refs").cast("bigint").alias("n_refs"),
        F.lit(None).cast("bigint").alias("n_members"),
        F.size("tags").cast("bigint").alias("n_tags"), "version",
        F.col("timestamp").alias("ts"),
    )
    r = dfs["relations"].select(
        F.lit(2).alias("element_type"), F.col("rel_id").alias("id"), "changetype",
        F.lit(None).cast("bigint").alias("lon"), F.lit(None).cast("bigint").alias("lat"),
        F.lit(None).cast("bigint").alias("n_refs"),
        F.size("members").cast("bigint").alias("n_members"),
        F.size("tags").cast("bigint").alias("n_tags"), "version",
        F.col("timestamp").alias("ts"),
    )
    return n.unionByName(w).unionByName(r)


def _wkb_roundtrip_sql() -> str:
    return f"""
            SELECT 0 AS element_type, node_id AS id, 1::BIGINT AS n_pts,
                   lon AS sum_lon, lat AS sum_lat
            FROM ({fx_nodes_sql()})
            UNION ALL
            SELECT CASE WHEN way_id % 6 = 0 THEN 2 ELSE 1 END,
                   way_id,
                   (COUNT(*) + (way_id % 6 = 0)::INT)::BIGINT,
                   (SUM(lon) + (way_id % 6 = 0)::INT * arg_min(lon, node_id))::BIGINT,
                   (SUM(lat) + (way_id % 6 = 0)::INT * arg_min(lat, node_id))::BIGINT
            FROM ({_WAY_PAIRS_SQL}) p JOIN ({fx_nodes_sql()}) n USING (node_id)
            GROUP BY way_id"""


@gate("wkb_roundtrip", oracle=_wkb_roundtrip_sql, driver=True)
def q_wkb_roundtrip(spark, sf_dir):
    """WKB encode∘decode identity over ALL reference geometry kinds (EWKB,
    SRID 4326, big-endian layout per the reference writers utils.cpp:149-175,
    elements/*.cpp): nodes → Point, non-ring ways → Linestring, rings →
    single-ring Polygon (closed by appending the first point). Output
    (element_type 0/1/2 = point/line/polygon, id, n_pts, sum_lon, sum_lat)
    from the DECODED payloads — the oracle restates the coordinates from the
    source tables, so any byte-layout or scaling defect breaks the match.
    Byte-level parity is additionally pinned by golden vectors in
    tests/test_wkb.py."""
    from .operators.wkb import make_line_decode_udf, make_linestring_wkb_udf, points_roundtrip
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "lineitem")
    nodes = fx.fixture_nodes(spark, sf_dir)
    pts = points_roundtrip(nodes).select(
        F.lit(0).alias("element_type"),
        F.col("node_id").alias("id"),
        F.lit(1).cast("bigint").alias("n_pts"),
        F.col("lon").alias("sum_lon"),
        F.col("lat").alias("sum_lat"),
    )

    coords = _way_coords(spark, sf_dir).select(
        "way_id", F.col("_lons").alias("lons"), F.col("_lats").alias("lats")
    )
    is_ring = F.col("way_id") % 6 == 0

    def _branch(df, ring: bool):
        # a when() over two pandas UDFs evaluates BOTH on every batch row —
        # split the frames instead so each kernel only sees its geometry kind
        enc = make_linestring_wkb_udf(srid=True, ring=ring)
        dec = make_line_decode_udf(ring=ring)
        if ring:
            df = df.select(
                "way_id",
                F.concat("lons", F.slice("lons", 1, 1)).alias("lons"),
                F.concat("lats", F.slice("lats", 1, 1)).alias("lats"),
            )
        d = df.withColumn("_d", dec(enc("lons", "lats")))
        return d.select(
            F.lit(2 if ring else 1).alias("element_type"),
            F.col("way_id").alias("id"),
            F.col("_d.n_pts").cast("bigint").alias("n_pts"),
            F.aggregate("_d.lons", F.lit(0).cast("bigint"), lambda a, v: a + v).alias("sum_lon"),
            F.aggregate("_d.lats", F.lit(0).cast("bigint"), lambda a, v: a + v).alias("sum_lat"),
        )

    lines = _branch(coords.filter(~is_ring), False)
    rings = _branch(coords.filter(is_ring), True)
    return pts.unionByName(lines).unionByName(rings)


@gate("multipolygon_assembly", oracle=go.multipolygon_sql, driver=True, headline=True)
def q_multipolygon_assembly(spark, sf_dir):
    """Multipolygon ring assembly over constructed member ways (split
    segments, alternating reversal, optional inner hole, optional open
    fragment). The member table is READ from the persistent qts store
    (sources/mp_fixture.py derives it once at build time — production
    reads relation members from tiled storage, it never re-synthesizes
    them per query); the oracle states the closed-form ground truth over
    the same arithmetic, so a match validates the stitching end to end."""
    from .operators.multipolygons import multipolygon_stats
    from .sources.qts_store import read_mp_members

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "lineitem")
    return multipolygon_stats(read_mp_members(spark, sf_dir))


# ----------------------------------------------------------------------------
# geometry enrichment (makegeometries / addparenttags / handlerelations)


@gate("geom_ways", oracle=go.geom_ways_sql, driver=True)
def q_geom_ways(spark, sf_dir):
    """make_geometries summary per way: tag filter (has_feature, kept count,
    layer), z_order, polygon typing, geometry type (2=Linestring,
    5=SimplePolygon for polygon-tagged rings)."""
    from .operators import geometry as geo
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    wt = fx.fixture_way_tags(spark, sf_dir)
    out = geo.filter_tags_summary(wt, "tags", all_other_keys=True)
    is_ring = F.col("way_id") % 6 == 0
    return out.select(
        "way_id",
        "has_feature",
        "n_kept",
        "layer",
        geo.z_order_col("tags").alias("z_order"),
        geo.is_polygon_col("tags").alias("is_polygon"),
        F.when(is_ring & geo.is_polygon_col("tags"), F.lit(5)).otherwise(F.lit(2)).alias("geom_type"),
    )


@gate("geom_parent_tags", oracle=go.geom_parent_tags_sql, driver=True)
def q_geom_parent_tags(spark, sf_dir):
    """Parent-tag join: qualifying nodes receive the max-priority highway
    (and first service) value of their containing ways."""
    from .operators import geometry as geo
    from .operators.calcqts import way_node_pairs
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "lineitem")
    nt = fx.fixture_node_tags(spark, sf_dir)
    wt = fx.fixture_way_tags(spark, sf_dir)
    refs = way_node_pairs(fx.fixture_ways(spark, sf_dir))
    return geo.parent_tags(nt, wt, refs)


@gate("geom_rel_tags", oracle=go.geom_rel_tags_sql, driver=True)
def q_geom_rel_tags(spark, sf_dir):
    """Relation-tag join: boundary admin levels (min/max) and route refs
    ("; "-joined sorted lists) pushed onto member ways."""
    from .operators import geometry as geo
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "customer")
    rt = fx.fixture_rel_tags(spark, sf_dir)
    rels = fx.fixture_relations(spark, sf_dir)
    ways = fx.fixture_ways(spark, sf_dir).select("way_id")
    members = (
        rels.select("rel_id", F.explode("members").alias("m"))
        .filter(F.col("m.m_type") == 1)
        .select("rel_id", F.col("m.m_ref").alias("way_id"))
        .join(ways, "way_id")
    )
    return geo.relation_tags(rt, members)


@gate("geom_way_stats", oracle=go.geom_way_stats_sql, driver=True, headline=True)
def q_geom_way_stats(spark, sf_dir):
    """Metric geometry: line length and (for rings, way_id % 6 == 0,
    closed by appending the first point) the anticlockwise-positive
    shoelace area — both as ordered folds in EPSG:3857."""
    from .operators import geometry as geo
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "lineitem")
    # Arrow-batch kernel (geometry.way_stats_kernel) — bit-identical to the
    # Catalyst column folds (pinned by tests/test_geometry parity) but one
    # vectorized mapInPandas stage instead of interpreted per-vertex lambdas
    stats = geo.way_stats_kernel(_way_coords(spark, sf_dir), ring_mod=6)
    # gate on floor-scaled integers: the shoelace cancels ~1e14 intermediates
    # down to ~1e10, amplifying cross-engine libm (log/tan) last-ulp
    # differences to ~0.04 absolute — /65536 + floor bounds the flip
    # probability at ~1e-6/row while still pinning 11+ significant digits
    # degenerate closed rings (<3 real points) cancel the shoelace exactly,
    # leaving only sign-unstable float noise — emit NULL for those
    degenerate = (F.col("way_id") % 6 == 0) & (F.col("n_pts") < 4)
    return stats.select(
        "way_id",
        F.floor(F.col("length_m")).cast("bigint").alias("length_m_floor"),
        F.when(
            ~degenerate,
            F.floor(F.col("ring_area") / F.lit(65536.0)).cast("bigint"),
        ).alias("ring_area_64k"),
    )


@gate("tag_packers", oracle=go.tag_packers_sql, driver=True)
def q_tag_packers(spark, sf_dir):
    """CSV/PostGIS sink tag packers per way: hstore text (tag order), json
    (sorted keys, compact), hstore binary as hex. The fixture vocabulary is
    escape-free, so the oracle builds plain strings; escaping itself is
    pinned by unit tests (tests/test_sinks.py)."""
    from .operators import sinks as sk
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    wt = fx.fixture_way_tags(spark, sf_dir)
    return wt.select(
        "way_id",
        sk.hstore_tags_col("tags").alias("hstore"),
        sk.json_tags_col("tags").alias("json"),
        sk.hstore_binary_hex_col("tags").alias("hstore_bin_hex"),
    )


@gate("geojson_tiles", oracle=go.geojson_tiles_sql, driver=True)
def q_geojson_tiles(spark, sf_dir):
    """GeoJSON sink with the reference's per-kind collections
    (process.py:171-276 splits point/line/polygon): one FeatureCollection
    per (level-3 tile, kind) — points from node cells, LineStrings from
    non-ring ways, Polygons from closed rings, each at its element's tile
    (way tile = round(way bbox cell, 3)), features ordered by id,
    properties = sorted-key json tags. Coordinates via C-style %.7f in both
    engines."""
    from .functions.udfs import make_qt_calculate, round_qt_col
    from .operators import sinks as sk
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "lineitem")
    nodes = fx.fixture_nodes(spark, sf_dir)
    nt = fx.fixture_node_tags(spark, sf_dir)
    qt_calc = make_qt_calculate()
    pts = (
        nodes.join(nt, "node_id")
        .withColumn("qt", qt_calc("lon", "lat", "lon", "lat"))
        .withColumn("tile", round_qt_col(F.col("qt"), 3))
        .withColumn(
            "feature",
            sk.point_feature_col(F.col("lon"), F.col("lat"), sk.json_tags_col("tags")),
        )
    )
    out_pts = sk.feature_collection(pts, "tile", "node_id", "feature").select(
        "tile", F.lit("point").alias("kind"), "geojson"
    )

    wt = fx.fixture_way_tags(spark, sf_dir)
    coords = _way_coords(spark, sf_dir).select(
        "way_id",
        F.col("_lons").alias("lons"),
        F.col("_lats").alias("lats"),
        qt_calc(
            F.array_min("_lons"), F.array_min("_lats"),
            F.array_max("_lons"), F.array_max("_lats"),
        ).alias("qt"),
    )
    is_ring = F.col("way_id") % 6 == 0
    w = coords.join(wt, "way_id").withColumn("tile", round_qt_col(F.col("qt"), 3))
    lines = w.filter(~is_ring).withColumn(
        "feature", sk.linestring_feature_col(F.col("lons"), F.col("lats"), sk.json_tags_col("tags"))
    )
    rings = (
        w.filter(is_ring)
        .select(
            "way_id", "tile", "tags",
            F.concat("lons", F.slice("lons", 1, 1)).alias("lons"),
            F.concat("lats", F.slice("lats", 1, 1)).alias("lats"),
        )
        .withColumn(
            "feature", sk.polygon_feature_col(F.col("lons"), F.col("lats"), sk.json_tags_col("tags"))
        )
    )
    out_lines = sk.feature_collection(lines, "tile", "way_id", "feature").select(
        "tile", F.lit("line").alias("kind"), "geojson"
    )
    out_polys = sk.feature_collection(rings, "tile", "way_id", "feature").select(
        "tile", F.lit("polygon").alias("kind"), "geojson"
    )
    return out_pts.unionByName(out_lines).unionByName(out_polys)


@gate("geom_minzoom", oracle=go.geom_minzoom_sql, driver=True)
def q_geom_minzoom(spark, sf_dir):
    """findminzoom over the FULL 726-row default spec: tag-table minzoom
    (exact shadows wildcard per class; min over matching tags) via the
    broadcast spec join (tags_minzoom_join — data-driven, not compiled to a
    CASE chain) raised by the geometric zoom — length for linestrings, area
    for polygon-typed rings (abs: the reference stores positively-oriented
    rings). Degenerate rings excluded as in geom_way_stats."""
    from .operators import geometry as geo
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "lineitem")
    nt = fx.fixture_node_tags(spark, sf_dir)
    nodes_out = geo.with_minzoom(nt, "tags", F.lit(0), ["node_id"]).select(
        F.lit(0).alias("element_type"), F.col("node_id").alias("id"), "minzoom"
    )

    wt = fx.fixture_way_tags(spark, sf_dir)
    is_ring = F.col("way_id") % 6 == 0
    wstats = geo.way_stats_kernel(_way_coords(spark, sf_dir), ring_mod=6).select(
        "way_id",
        F.col("length_m").alias("_len"),
        F.abs(F.col("ring_area")).alias("_area"),
        F.col("n_pts").alias("_npts"),
    )
    w = wt.join(wstats, "way_id")
    gclass = F.when(is_ring & geo.is_polygon_col("tags"), F.lit(2)).otherwise(F.lit(1))
    ways_out = geo.with_minzoom(
        w.filter(~(is_ring & (F.col("_npts") < 4))),  # degenerate rings
        "tags",
        gclass,
        ["way_id"],
        length_col=F.col("_len"),
        area_col=F.col("_area"),
    ).select(F.lit(1).alias("element_type"), F.col("way_id").alias("id"), "minzoom")
    return nodes_out.unionByName(ways_out)


# ----------------------------------------------------------------------------
# image+caption table (the engine's primary input shape, BASELINE.json)


def _images(spark, sf_dir):
    """Deterministic image+caption table sized by the sf's `part` row count
    (p_partkey is 0..N-1, mirrored by the oracle's row-index source)."""
    from .sources.images import images_df

    n = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    return images_df(spark, n)


def _image_qt_assign_sql() -> str:
    return so.calculate_cte(
        so.image_elements_sql("SELECT p_partkey AS i FROM part"), "img_idx"
    )


@gate("image_qt_assign", oracle=_image_qt_assign_sql, driver=True)
def q_image_qt_assign(spark, sf_dir):
    """North-star stage 1 over the image table: deterministic footprint
    (FIXTURES.md §1) → quadtree cell id (buffer 0.05, depth 17). The DuckDB
    twin re-derives phash via splitmix64 restated over HUGEINT."""
    _load(spark, sf_dir, "part")  # register the view for the oracle
    df = img_ops.with_footprint(_images(spark, sf_dir))
    return df.select(
        F.substring("image_id", 4, 12).cast("bigint").alias("img_idx"), "qt"
    )


def _image_tiles_sql() -> str:
    # north-star stages 1-3 full-value gate (was rows-only): group table
    # re-derived from the DuckDB histogram + rollup + greedy, find_tile
    # in SQL (functions/group_oracle.py)
    return grpo.image_tiles_sql(target=200, minsize=100, tree_level=15)


@gate("image_tiles", oracle=_image_tiles_sql, driver=True)
def q_image_tiles(spark, sf_dir):
    """North-star stages 1-3 over the image table: footprint → cell → tile
    split (rollup, bench-scale target) → per-tile counts, value-gated
    against a group table re-derived in DuckDB; grouping parity vs the
    reference algorithm is asserted in tests/test_qttree_groups.py."""
    df = img_ops.with_footprint(_images(spark, sf_dir))
    gqt, _, _ = compute_groups(df, "qt", target=200, minsize=100, tree_level=15, rollup=True)
    return (
        with_group_column(df, gqt, "qt")
        .groupBy("group_qt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("qt").alias("min_cell"),
            F.max("qt").alias("max_cell"),
        )
    )


# ----------------------------------------------------------------------------
# multimodal payloads (audio/video stub codecs; north-rule axes)


def _media_n(spark, sf_dir) -> int:
    return spark.read.parquet(f"{sf_dir}/part.parquet").count()


def _media_verify_sql() -> str:
    return """
            SELECT 'audio' AS kind, COUNT(*)::BIGINT AS n, COUNT(*)::BIGINT AS n_ok FROM part
            UNION ALL
            SELECT 'video', COUNT(*)::BIGINT, COUNT(*)::BIGINT FROM part
            UNION ALL
            SELECT 'img_png', COUNT(*)::BIGINT, COUNT(*)::BIGINT FROM part WHERE p_partkey % 3 = 0
            UNION ALL
            SELECT 'img_jpeg', COUNT(*)::BIGINT, COUNT(*)::BIGINT FROM part WHERE p_partkey % 3 = 1
            UNION ALL
            SELECT 'img_ppm', COUNT(*)::BIGINT, COUNT(*)::BIGINT FROM part WHERE p_partkey % 3 = 2"""


@gate("media_verify", oracle=_media_verify_sql, driver=True)
def q_media_verify(spark, sf_dir):
    """Round-trip invariant for EVERY opaque modality (the north rule's
    decoded-pixels invariant): audio samples / video frames bit-equal to the
    deterministic generators, and per image format pixels byte-exact
    (lossless) or PSNR ≥ 40 dB (lossy) with captions byte-equal. Aggregated
    per kind; the oracle states the expected counts (all rows must pass) —
    per-row decode+compare is the real kernel, per-row assertions also run
    in tests/test_images.py and tests/test_media.py."""
    from .operators.media import media_verify
    from .sources.media import audio_df, video_df

    _load(spark, sf_dir, "part")
    n = _media_n(spark, sf_dir)
    av = media_verify(audio_df(spark, n), video_df(spark, n)).groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint").alias("n_ok"),
    )
    iv = img_ops.verify_roundtrip(_images(spark, sf_dir))
    img = iv.groupBy(F.concat(F.lit("img_"), F.col("fmt")).alias("kind")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("exact") | (F.col("psnr") >= 40.0)) & F.col("caption_ok"), 1).otherwise(0)
        ).cast("bigint").alias("n_ok"),
    )
    return av.unionByName(img)


def _media_features_sql() -> str:
    return mo.media_features_sql(every=2)


@gate("media_features", oracle=_media_features_sql, driver=True)
def q_media_features(spark, sf_dir):
    """Audio feature extraction (duration, peak, RMS, zero crossings) and
    video frame sampling (every 2nd frame + mean intensity) in one long-form
    table (kind, media_id, item, metric, value). The oracle restates the
    closed-form stub waveform in SQL; the feature math is also
    numpy-asserted in tests/test_media.py."""
    from .operators.media import audio_features, video_frame_sample
    from .sources.media import audio_df, video_df

    n = _media_n(spark, sf_dir)
    a = audio_features(audio_df(spark, n))
    a_long = a.select(
        F.lit("audio").alias("kind"),
        F.col("clip_id").alias("media_id"),
        F.lit(0).cast("bigint").alias("item"),
        F.explode(
            F.create_map(
                F.lit("duration_ms"), F.col("duration_ms"),
                F.lit("peak"), F.col("peak"),
                F.lit("rms_x1000"), F.col("rms_x1000"),
                F.lit("zero_crossings"), F.col("zero_crossings"),
            )
        ).alias("metric", "value"),
    )
    v = video_frame_sample(video_df(spark, n), every=2)
    v_long = v.select(
        F.lit("video").alias("kind"),
        F.col("video_id").alias("media_id"),
        F.col("frame_idx").cast("bigint").alias("item"),
        F.lit("mean_intensity_x100").alias("metric"),
        F.col("mean_intensity_x100").alias("value"),
    )
    return a_long.unionByName(v_long)


# ----------------------------------------------------------------------------
# TPC-H-style relational baselines (exercise agg / broadcast join shapes)


def _caption_dedup_sql() -> str:
    """DuckDB twin of q_caption_dedup: re-derive the caption word bodies
    (sources/images.caption_for) via splitmix64 over HUGEINT."""
    from .sources.images import _WORDS

    def word(k: int) -> str:
        whens = " ".join(f"WHEN {i} THEN '{w}'" for i, w in enumerate(_WORDS))
        return f"(CASE (u >> {6 * k}) % {len(_WORDS)} {whens} END)"

    body = " || ' ' || ".join(word(k) for k in range(3))
    return f"""
WITH u AS (
  SELECT p_partkey AS i, {so.splitmix64_sql('p_partkey + 1')} AS u FROM part
), bodies AS (
  SELECT i, {body} AS body FROM u
)
SELECT MIN(i) AS canonical_idx, COUNT(*)::BIGINT AS dup_count
FROM bodies GROUP BY body HAVING COUNT(*) >= 2
""".strip()


@gate("caption_dedup", oracle=_caption_dedup_sql, driver=True)
def q_caption_dedup(spark, sf_dir):
    """Image+caption near-dup: captions share their 5-word body (the unique
    'caption {i}: ' prefix stripped) — groups with ≥2 images are duplicate
    candidates; canonical = min image index. The oracle re-derives the
    caption bodies from the splitmix64 word sampling."""
    df = _images(spark, sf_dir)
    idx = F.substring("image_id", 4, 12).cast("bigint")
    # first 3 body words — 20^3 combos, so collisions exist at bench scale
    body = F.concat_ws(
        " ", F.slice(F.split(F.substring_index(F.col("caption"), ": ", -1), " "), 1, 3)
    )
    return (
        df.select(idx.alias("img_idx"), body.alias("body"))
        .groupBy("body")
        .agg(F.min("img_idx").alias("canonical_idx"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") >= 2)
        .select("canonical_idx", "dup_count")
    )


def _tpch_q1_sql() -> str:
    # NB: DuckDB's SUM over BIGINT returns HUGEINT (int128), which breaks
    # the driver's typed value hash even when every value is equal — cast
    # the aggregate back to BIGINT (values fit: cents sums < 2^53)
    return """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   (SUM(CAST(round(l_extendedprice * 100) AS BIGINT)))::BIGINT AS sum_base_price_cents,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus"""


@gate("tpch_q1", oracle=_tpch_q1_sql, driver=True, headline=True)
def q_tpch_q1(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # quantities are small integers in double — exact; prices summed
            # as bigint cents so the result is independent of addition order
            # (a float SUM would differ between engines in the last ulp)
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "sum_base_price_cents"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _top_customers_sql() -> str:
    return """
            SELECT c_custkey, c_name, COUNT(*) AS order_cnt,
                   (SUM(CAST(round(o_totalprice * 100) AS BIGINT)))::BIGINT AS total_spent_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            HAVING COUNT(*) >= 12"""


@gate("top_customers", oracle=_top_customers_sql, driver=True)
def q_top_customers(spark, sf_dir):
    c = _load(spark, sf_dir, "customer")
    o = _load(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "total_spent_cents"
            ),
        )
        .filter(F.col("order_cnt") >= 12)
    )


# ----------------------------------------------------------------------------
# documents / embeddings (training-data pipeline ops)


def _text_analysis_sql() -> str:
    lang_score = {
        lang: "(" + " + ".join(
            f"len(list_filter(string_split(text, ' '), w -> w = '{m}'))"
            for m in doc_ops.LANG_MARKERS[lang]
        ) + ")"
        for lang in sorted(doc_ops.LANG_MARKERS)
    }
    langs = sorted(doc_ops.LANG_MARKERS)
    # argmax with alphabetical tie-break, same fold as lang_scores
    best = f"'{langs[0]}'"
    best_score = f"s_{langs[0]}"
    for lang in langs[1:]:
        best = f"(CASE WHEN s_{lang} > {best_score} THEN '{lang}' ELSE {best} END)"
        best_score = f"(CASE WHEN s_{lang} > {best_score} THEN s_{lang} ELSE {best_score} END)"
    return f"""
            SELECT doc_id, n_tokens, n_chars_computed, stopword_cnt, mean_word_len_x100,
                   CASE WHEN n_tokens >= 20 AND stopword_cnt * 5 >= n_tokens THEN 'high'
                        WHEN n_tokens >= 20 THEN 'mid' ELSE 'low' END AS quality_bucket,
                   {best} AS lang_pred, fp
            FROM (
              SELECT doc_id,
                     len(string_split(text, ' '))::BIGINT AS n_tokens,
                     length(text)::BIGINT AS n_chars_computed,
                     len(list_filter(string_split(text, ' '),
                                     w -> w IN ('{STOP_SQL}')))::BIGINT AS stopword_cnt,
                     (length(text)::BIGINT * 100) // len(string_split(text, ' '))::BIGINT
                         AS mean_word_len_x100,
                     {', '.join(f"{lang_score[lang]}::BIGINT AS s_{lang}" for lang in langs)},
                     {do.fingerprint_sql("text")} AS fp
              FROM documents
            )"""


@gate("text_analysis", oracle=_text_analysis_sql, driver=True, headline=True)
def q_text_analysis(spark, sf_dir):
    """All four text-analysis operators (token counting, quality scoring,
    language-ID, fingerprinting) in one pass — one driver entry with a single
    full-value oracle gating all four; the individual operators remain
    available (operators/docs.py) and unit-tested."""
    return doc_ops.text_analysis_vectorized(_load_fanned(spark, sf_dir, "documents"))


def _dedup_exact_sql() -> str:
    return """
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
            FROM documents GROUP BY text"""


@gate("dedup_exact", oracle=_dedup_exact_sql, driver=True, headline=True)
def q_dedup_exact(spark, sf_dir):
    return doc_ops.dedup_exact(_load_fanned(spark, sf_dir, "documents"))


def _ngram_jaccard_pairs_sql() -> str:
    return """
            WITH grams AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(
                       range(len(string_split(text, ' ')) - 2),
                       i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS gram
              FROM documents
              WHERE len(string_split(text, ' ')) >= 3
            ), sizes AS (
              SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
              FROM grams a JOIN grams b USING (gram)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, inter_cnt, sa.n_grams + sb.n_grams - inter_cnt AS union_cnt
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE inter_cnt >= (sa.n_grams + sb.n_grams - inter_cnt) * 0.2::DOUBLE"""


@gate("ngram_jaccard_pairs", oracle=_ngram_jaccard_pairs_sql, driver=True, headline=True)
def q_ngram_jaccard_pairs(spark, sf_dir):
    return doc_ops.ngram_pairs(
        _load_fanned(spark, sf_dir, "documents"), n=3, min_jaccard=0.2,
        metrics_path=_scratch(sf_dir, "metrics"),
    )


# a document-frequency cap that BINDS at every fixture scale (45/29/24517
# grams exceed it at sf0.001/0.01/0.1), with the jaccard floor low enough
# that pairs survive the capped join at all three — the capped-REGIME gate
NGRAM_BIND_CAP = 5
NGRAM_BIND_MIN_J = 0.05


def _ngram_jaccard_capped_sql() -> str:
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS gram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), df AS (
  SELECT gram, COUNT(*) AS c FROM grams GROUP BY 1
), kept AS (
  SELECT g.doc_id, g.gram FROM grams g JOIN df USING (gram)
  WHERE df.c <= {NGRAM_BIND_CAP}
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
  FROM kept a JOIN kept b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_cnt, sa.n_grams + sb.n_grams - inter_cnt AS union_cnt
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter_cnt >= (sa.n_grams + sb.n_grams - inter_cnt) * {NGRAM_BIND_MIN_J}::DOUBLE
""".strip()


@gate("ngram_jaccard_capped", oracle=_ngram_jaccard_capped_sql)
def q_ngram_jaccard_capped(spark, sf_dir):
    """The n-gram cap's exactness claim value-proven WHERE THE CAP BINDS
    (VERDICT r4 task 3): gram_cap=5 drops thousands of boilerplate grams
    at sf0.1 (non-zero committed bucket_rows_dropped — see the sweep
    artifact's committed_metrics), and the oracle RESTATES the cap
    semantics exactly — intersections counted only over grams with
    df ≤ cap, union still over ALL grams (so jaccard is the documented
    lower bound). A full-value match in the binding regime proves the
    cap drops exactly the specified buckets and nothing else; the
    uncapped twin (ngram_jaccard_pairs) keeps proving the cap is a
    no-op when it does not bind."""
    return doc_ops.ngram_pairs(
        _load_fanned(spark, sf_dir, "documents"),
        n=3,
        min_jaccard=NGRAM_BIND_MIN_J,
        gram_cap=NGRAM_BIND_CAP,
        metrics_path=_scratch(sf_dir, "metrics"),
        operator="ngram_jaccard_capped",
        # gram STRINGS through the cap here: the capped oracle recomputes
        # df per gram text, so the engine must cap on a key DuckDB can
        # restate byte-for-byte (the hashed-key variant is covered by the
        # uncapped gate)
        hash_grams=False,
    )


@gate("changes_stream", oracle=_changes_merge_sql, driver=True)
def q_changes_stream(spark, sf_dir):
    """Structured-Streaming change application: the same orders-derived
    change set as changes_merge replayed as 3 micro-batches through the
    stateful latest-wins operator (streaming/changes.py); the converged
    survivor state must equal the batch result, so it shares the
    changes_merge oracle SQL."""
    from .streaming.changes import apply_changes_stream

    orders = _load(spark, sf_dir, "orders")
    batches = [
        orders.select(
            F.col("o_orderkey").alias("key"),
            F.lit(0).cast("bigint").alias("seq"),
            F.col("o_totalprice").alias("payload"),
            F.lit(0).cast("int").alias("changetype"),
        ),
        orders.filter(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").alias("key"),
            F.lit(1).cast("bigint").alias("seq"),
            (F.col("o_totalprice") * 2).alias("payload"),
            (F.col("o_orderkey") % 5 + 1).cast("int").alias("changetype"),
        ),
        orders.filter(F.col("o_orderkey") % 4 == 0).select(
            F.col("o_orderkey").alias("key"),
            F.lit(2).cast("bigint").alias("seq"),
            (F.col("o_totalprice") * 3).alias("payload"),
            (F.col("o_orderkey") % 2 + 4).cast("int").alias("changetype"),
        ),
    ]
    # complete mode: the memory sink holds exactly the converged state
    return _replay_stream(
        spark,
        batches,
        "key bigint, seq bigint, payload double, changetype int",
        lambda stream: apply_changes_stream(stream)
        .filter(~F.col("is_deleted"))
        .select("key", "payload", "changetype"),
        "complete",
        "key bigint, payload double, changetype int",
        "oqt_stream_",
    )


EMB_DUP_MIN_COS = 0.4  # synthetic embeddings top out at cos ≈ 0.51
EMB_DIM = 64  # testdata embeddings dimensionality (TESTDATA.md)

# run-local artifact root (exports + metrics): inside the repo, gitignored.
# The LSH soundness oracles read the exported candidate sets back in DuckDB;
# the oracle SQL is generated in the SAME process as the Spark query, so
# both sides resolve the path through _scratch below and always agree.
_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")

# Process-scoped run id: export-like artifacts (LSH/IVF/semantic candidate
# sets, the DSIR λ table, gate fixtures like filelist_cat/tile_sink_gate)
# land under .scratch/<sf>/run-<RUN_ID>/ so two concurrent sessions
# sweeping the SAME sf never clobber each other's exports mid-read — the
# round-4 fixed per-sf path let a concurrent pytest swap an export a
# running sweep had already file-listed, failing its metrics commit with
# FileNotFound (and, worse, would have served another run's candidate set
# to the soundness oracle until the swap). Exception: the `metrics` base
# stays run-SHARED because metrics.commit_pending already appends under
# its own run_id=<rid> subdirectory (never overwrites).
RUN_ID = uuid.uuid4().hex[:12]
_RUN_SHARED = ("metrics",)
# best-effort GC of abandoned run dirs: anything a concurrent LIVE session
# could still be reading is far younger than this (full sweep ≈ 12 min,
# full pytest ≈ 14 min)
_STALE_RUN_DIR_SEC = 2 * 3600
_PRUNED_BASES: set[str] = set()


def _prune_stale_runs(base: str) -> None:
    if base in _PRUNED_BASES:
        return
    _PRUNED_BASES.add(base)
    import shutil
    import time as _time

    try:
        entries = os.listdir(base)
    except OSError:
        return
    now = _time.time()
    for e in entries:
        if not e.startswith("run-") or e == f"run-{RUN_ID}":
            continue
        p = os.path.join(base, e)
        try:
            if now - os.path.getmtime(p) > _STALE_RUN_DIR_SEC:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _scratch(sf_dir: str, name: str) -> str:
    base = os.path.join(_SCRATCH, os.path.basename(os.path.normpath(sf_dir)))
    if name in _RUN_SHARED:
        return os.path.join(base, name)
    _prune_stale_runs(base)
    run_dir = os.path.join(base, f"run-{RUN_ID}")
    # heartbeat: a live run dir's mtime freezes after its first exports, so
    # every resolve touches it — another session's prune keys on that mtime
    try:
        os.utime(run_dir)
    except OSError:
        pass  # not written yet: nothing to protect
    return os.path.join(run_dir, name)


def _ORACLE_SF_DIR() -> str:
    # single source of truth for the driver's correctness scale — shared
    # with the group-table oracles so a scale change cannot drift between
    # the LSH-candidate exports and the derived group tables
    from .functions.group_oracle import oracle_sf_dir

    return oracle_sf_dir()



def _dedup_minhash_sql() -> str:
    return do.minhash_pairs_sql(n=3, min_matches=8)


@gate("dedup_minhash", oracle=_dedup_minhash_sql, driver=True, headline=True)
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs (16 hashes, 4 bands); the DuckDB twin is
    the all-pairs semantic spec, so a match also proves band-join
    completeness at this threshold."""
    from .operators import dedup as dd

    return dd.minhash_lsh_pairs(
        _load_fanned(spark, sf_dir, "documents"), n=3, min_matches=8,
        metrics_path=_scratch(sf_dir, "metrics"),
    )


def _dedup_simhash_sql() -> str:
    return do.simhash_pairs_sql(max_hamming=3)


@gate("dedup_simhash", oracle=_dedup_simhash_sql, driver=True, headline=True)
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (32-bit signature, pigeonhole block join,
    hamming ≤ 3); oracle = all-pairs hamming spec."""
    from .operators import dedup as dd

    return dd.simhash_pairs(
        _load_fanned(spark, sf_dir, "documents"), max_hamming=3,
        metrics_path=_scratch(sf_dir, "metrics"),
    )


def _dedup_embedding_pairs_sql() -> str:
    return do.embedding_pairs_sql(EMB_DUP_MIN_COS)


@gate("dedup_embedding_pairs", oracle=_dedup_embedding_pairs_sql, driver=True)
def q_dedup_embedding_pairs(spark, sf_dir):
    """Exact embedding near-dup pairs (cosine ≥ 0.4 on the synthetic
    corpus); the LSH-bucketed scale path is q_dedup_embedding_lsh."""
    from .operators import dedup as dd

    return dd.embedding_dup_pairs(_load_fanned(spark, sf_dir, "embeddings"), EMB_DUP_MIN_COS)


def _dedup_embedding_lsh_sql() -> str:
    # the LSH soundness oracles read the candidate sets the engine
    # exported for the sf the driver compares at (sf0.01 per contract;
    # local tests override via SPARK_GRAFT_ORACLE_SF_DIR, same knob the
    # group oracles use)
    return do.embedding_lsh_soundness_sql(
        EMB_DUP_MIN_COS, _scratch(_ORACLE_SF_DIR(), "lsh_dedup_candidates")
    )


@gate("dedup_embedding_lsh", oracle=_dedup_embedding_lsh_sql, driver=True, headline=True)
def q_dedup_embedding_lsh(spark, sf_dir):
    """Bucketed embedding near-dup pairs. Recall < 1 by construction (gated
    vs the exact operator in tests/test_dedup.py); VALUES are fully gated:
    the candidate set is committed to parquet and the DuckDB oracle
    re-scores those candidates from the raw embeddings — every emitted
    (id_a, id_b, cos) must match exactly (soundness oracle)."""
    from .operators import dedup as dd

    return dd.embedding_dup_pairs_lsh(
        _load_fanned(spark, sf_dir, "embeddings"), EMB_DUP_MIN_COS, dim=EMB_DIM,
        export_pairs_path=_scratch(sf_dir, "lsh_dedup_candidates"),
        metrics_path=_scratch(sf_dir, "metrics"),
    )


def _ann_cosine_topk_sql() -> str:
    return f"""
            WITH {do.norm_cte()}
            SELECT query_id, vec_id, rank FROM (
              SELECT q.vec_id AS query_id, p.vec_id AS vec_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_reduce(list_prepend(0.0::DOUBLE,
                                  list_transform(list_zip(p.e, q.e),
                                                 t -> t[1] * t[2])), (a, b) -> a + b)
                                / (p.nrm * q.nrm) DESC,
                              p.vec_id ASC) AS rank
              FROM n p CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) q
            ) WHERE rank <= {ANN_K}"""


@gate("ann_cosine_topk", oracle=_ann_cosine_topk_sql, driver=True, headline=True)
def q_ann_cosine_topk(spark, sf_dir):
    emb = _load_fanned(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ops.cosine_topk(emb, queries, ANN_K)


def _ann_lsh_topk_sql() -> str:
    return do.ann_lsh_soundness_sql(
        ANN_K, _scratch(_ORACLE_SF_DIR(), "lsh_ann_candidates")
    )


@gate("ann_lsh_topk", oracle=_ann_lsh_topk_sql, driver=True, headline=True)
def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN — the 10^12-scale path; exact within candidates.
    The candidate set is committed to parquet and the DuckDB oracle
    re-ranks those candidates from the raw embeddings — the within-set
    top-k must match exactly (soundness oracle; recall vs brute force
    stays pytest-gated)."""
    emb = _load_fanned(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ops.lsh_topk(
        emb, queries, ANN_K, dim=EMB_DIM,
        export_pairs_path=_scratch(sf_dir, "lsh_ann_candidates"),
        metrics_path=_scratch(sf_dir, "metrics"),
    )


def clear_session_caches(keep_input_stores: bool = False) -> None:
    """Drop per-(session, sf) memos. tools/gates.py calls this between repeat
    sweeps so a best-of-N timing never reports a query's OWN computation as
    a memo hit.

    ``keep_input_stores=True`` preserves only the ``input_store=True``
    memos (the fixture source frames of ``_osm_fixture``) — they stand in
    for the input parquet tables themselves. Old element cells are no
    longer a memo at all: the update queries read them from the persistent
    parquet qts store (sources/qts_store) on every run, so the old-qt
    derivation memo (``_old_state``, serving only the three calcqts
    queries) clears on every sweep like any other computation."""
    for store, input_store in _SESSION_MEMOS:
        if not (keep_input_stores and input_store):
            store.clear()
    # release the persisted frames, then commit the run's operator metrics
    # (hot-bucket drops, candidate counts): any endpoint that clears
    # session caches also commits, so "no silent caps" holds per run, not
    # per plan construction. The commit writes driver-side values, so a
    # failed base is a real defect (disk full) and fails loudly.
    from . import metrics as _metrics
    from .cache import release_all

    release_all()
    mc = _metrics.commit_pending()
    if mc["errors"]:
        raise RuntimeError(f"metrics commit failed: {mc['errors']}")


# ----------------------------------------------------------------------------
# gates beyond the external driver's 50-entry cap (driver=False): the SAME
# value gate, run by tools/gates.py --check over every entry of GATES.


def _ann_ivf_topk_sql() -> str:
    return do.ann_lsh_soundness_sql(
        ANN_K, _scratch(_ORACLE_SF_DIR(), "ivf_ann_candidates")
    )


@gate("ann_ivf_topk", oracle=_ann_ivf_topk_sql)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN (deterministic sampled-k-means codebook, nprobe
    centroid-list probe, exact re-score) behind the same soundness oracle
    as ann_lsh_topk: the candidate set is exported and DuckDB re-ranks it
    from the raw embeddings — the within-candidate-set top-k must match
    exactly. Recall vs brute force stays pytest-gated
    (tests/test_spatial.test_ivf_recall_vs_exact_and_determinism)."""
    emb = _load_fanned(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ops.ivf_topk(
        emb, queries, ANN_K, n_centroids=16, nprobe=4,
        export_pairs_path=_scratch(sf_dir, "ivf_ann_candidates"),
        metrics_path=_scratch(sf_dir, "metrics"),
    )


def _minzoom_counters_sql() -> str:
    """DuckDB twin of q_minzoom_counters: unpivot the node/way kv CTEs to
    tag rows, join MINZOOM_SPEC (exact shadows wildcard), window winner
    per element with the engine's exact tie order, aggregate."""
    from .functions import geometry_oracle as go
    from .functions.geostyle import MINZOOM_SPEC
    from .sources.osm_fixture import NODE_TAG_RULES, WAY_TAG_RULES, nodes_sql

    def q(s: str) -> str:
        return s.replace("'", "''")

    def unpivot(cte: str, id_col: str, rules, cls_expr: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {id_col} AS eid, {cls_expr} AS cls, '{q(k)}' AS key, "
            f"v_{k.replace(':', '__')} AS val "
            f"FROM {cte} WHERE v_{k.replace(':', '__')} IS NOT NULL"
            for k, _, _ in rules
        )

    spec_rows = ", ".join(
        f"({c}, '{q(k)}', '{q(v)}', {z})" for c, k, v, z in MINZOOM_SPEC
    )
    way_keys = go._present(WAY_TAG_RULES)
    way_cls = (
        f"CASE WHEN way_id % 6 = 0 AND {go._is_polygon_sql(way_keys)} "
        "THEN 2 ELSE 1 END"
    )
    return f"""
WITH nkv AS ({go._kv_cte(NODE_TAG_RULES, nodes_sql(), "node_id")}),
wkv AS ({go._kv_cte(WAY_TAG_RULES, go._ways_src(), "way_id")}),
trows AS (
  {unpivot("nkv", "node_id", NODE_TAG_RULES, "0")}
  UNION ALL
  {unpivot("wkv", "1000000000000 + way_id", WAY_TAG_RULES, way_cls)}
),
spec(cls, key, val, z) AS (VALUES {spec_rows}),
j AS (
  SELECT t.eid, t.cls, t.key, t.val,
         COALESCE(se.z, sw.z) AS zz,
         (se.z IS NULL AND sw.z IS NOT NULL) AS wildcard
  FROM trows t
  LEFT JOIN spec se ON se.cls = t.cls AND se.key = t.key AND se.val = t.val AND se.val <> '*'
  LEFT JOIN spec sw ON sw.cls = t.cls AND sw.key = t.key AND sw.val = '*'
),
winners AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY eid
      ORDER BY zz ASC, wildcard ASC, key ASC, val ASC) AS rn
  FROM j WHERE zz IS NOT NULL
)
SELECT cls, key, CASE WHEN wildcard THEN '*' ELSE val END AS val,
       zz AS z, COUNT(*) AS n_used
FROM winners WHERE rn = 1
GROUP BY 1, 2, 3, 4
""".strip()


@gate("minzoom_counters", oracle=_minzoom_counters_sql)
def q_minzoom_counters(spark, sf_dir):
    """findminzoom usage counters (findminzoom.cpp:58-64, 121): how many
    elements each spec row decided — nodes as class 0, ways as class 1 or
    (polygon-typed rings, way_id % 6 == 0) class 2. Winner per element =
    matching row with the smallest zoom; equal-zoom ties break (exact,
    key, val) — operators/geometry.minzoom_usage."""
    from .operators import geometry as geo
    from .sources import osm_fixture as fx

    _load(spark, sf_dir, "orders")
    _load(spark, sf_dir, "lineitem")
    nt = fx.fixture_node_tags(spark, sf_dir)
    nodes = geo.minzoom_usage(nt, "tags", F.lit(0), ["node_id"])
    wt = fx.fixture_way_tags(spark, sf_dir)
    gclass = F.when(
        (F.col("way_id") % 6 == 0) & geo.is_polygon_col("tags"), F.lit(2)
    ).otherwise(F.lit(1))
    ways = geo.minzoom_usage(wt, "tags", gclass, ["way_id"])
    return nodes.unionByName(ways)


@gate("filelist_merge", oracle=_changes_merge_sql)
def q_filelist_merge(spark, sf_dir):
    """filelist.json catalog source driving the latest-wins merge
    (readblockscaller.cpp:38-82): snapshot + 2 diffs resolved through the
    JSON catalog, plus a THIRD diff whose EndDate is beyond the requested
    enddate — the skip-newer rule must drop it, so the result equals the
    2-diff changes_merge oracle (a wrongly-included diff would corrupt
    every %5==0 payload)."""
    import os as _os

    from .sources.filelist import catalog_tables, read_date, write_filelist

    orders = _load(spark, sf_dir, "orders")
    main, ch1, ch2 = _changes_merge_inputs(orders)
    poison = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_totalprice") * 999).alias("payload"),
        F.lit(5).cast("int").alias("changetype"),
    )
    prfx = _scratch(sf_dir, "filelist_cat")
    _os.makedirs(prfx, exist_ok=True)
    for name, df in (("main", main), ("ch1", ch1), ("ch2", ch2), ("ch3", poison)):
        df.write.mode("overwrite").parquet(_os.path.join(prfx, name))
    write_filelist(
        prfx,
        [
            {"Filename": "main", "EndDate": "2020-01-01T00:00:00", "NumTiles": 1, "State": 1},
            {"Filename": "ch1", "EndDate": "2020-01-02T00:00:00", "NumTiles": 1, "State": 2},
            {"Filename": "ch2", "EndDate": "2020-01-03T00:00:00", "NumTiles": 1, "State": 3},
            {"Filename": "ch3", "EndDate": "2020-01-04T00:00:00", "NumTiles": 1, "State": 4},
        ],
    )
    m, chs, _last = catalog_tables(spark, prfx, enddate=read_date("2020-01-03T00:00:00"))
    return apply_changes(m, chs, ["key"])


def _seg_intersections_sql() -> str:
    from .sources.geo import elements_sql

    p1x, p1y, p2x, p2y = -900000, -600000, 1100000, 800000
    bx0, by0, bx1, by1 = -500000, -400000, 700000, 600000

    def side(ax, ay, bx, by, qx, qy):
        return (
            f"sign(({qx} - ({ax})) * (({by}) - ({ay})) - (({bx}) - ({ax})) * ({qy} - ({ay})))"
        )

    # integer // in numpy floors; DuckDB's // on BIGINT truncates — use
    # explicit floor division via CASE-free arithmetic: floor(x/1000.0)
    cte = (
        "SELECT elem_id, "
        "CAST(floor(minx / 1000.0) AS BIGINT) AS x1, "
        "CAST(floor(miny / 1000.0) AS BIGINT) AS y1, "
        "CAST(floor(maxx / 1000.0) AS BIGINT) AS x2, "
        "CAST(floor(maxy / 1000.0) AS BIGINT) AS y2 "
        f"FROM ({elements_sql()})"
    )
    pq1 = side("x1", "y1", "x2", "y2", p1x, p1y)
    pq2 = side("x1", "y1", "x2", "y2", p2x, p2y)
    qp1 = side(p1x, p1y, p2x, p2y, "x1", "y1")
    qp2 = side(p1x, p1y, p2x, p2y, "x2", "y2")
    return f"""
WITH e AS ({cte})
SELECT elem_id,
       ({pq1} <> {pq2} AND {qp1} <> {qp2}) AS seg_x,
       (x1 <= {bx1} AND x2 >= {bx0} AND y1 <= {by1} AND y2 >= {by0}) AS box_x
FROM e
""".strip()


@gate("seg_intersections", oracle=_seg_intersections_sql)
def q_seg_intersections(spark, sf_dir):
    """Segment/box intersection kernels (geometry.cpp:83-101,
    bbox.hpp:41-44) over element diagonals at 1/1000 coordinate scale
    (products stay < 2^63 in BOTH engines — DuckDB raises on BIGINT
    overflow instead of wrapping): each element's (minx,miny)→(maxx,maxy)
    diagonal vs a fixed probe segment, and its bbox vs a fixed probe box."""
    import pandas as pd

    from .kernels.geom import box_overlaps, segment_intersects

    P1, P2 = (-900000, -600000), (1100000, 800000)
    B = (-500000, -400000, 700000, 600000)

    def gen(batches):
        for pdf in batches:
            x1 = pdf["minx"].to_numpy("int64") // 1000
            y1 = pdf["miny"].to_numpy("int64") // 1000
            x2 = pdf["maxx"].to_numpy("int64") // 1000
            y2 = pdf["maxy"].to_numpy("int64") // 1000
            seg = segment_intersects((x1, y1), (x2, y2), P1, P2)
            box = box_overlaps(x1, y1, x2, y2, *B)
            yield pd.DataFrame(
                {"elem_id": pdf["elem_id"], "seg_x": seg, "box_x": box}
            )

    df = _elements(spark, sf_dir).select("elem_id", "minx", "miny", "maxx", "maxy")
    return df.mapInPandas(gen, "elem_id bigint, seg_x boolean, box_x boolean")


def _diff_sides(spark, sf_dir):
    """Deterministic left/right element tables for the element_diff gate:
    every reason-class is planted by a modulus rule (shared with the SQL
    twin below)."""
    o = _load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    base = o.select(
        (F.col("k") % 3).cast("int").alias("element_type"),
        F.col("k").alias("id"),
        (F.col("k") % 7).cast("int").alias("version"),
        (F.col("k") * 11 % 1000).alias("lon"),
        (F.col("k") * 13 % 1000).alias("lat"),
        (F.col("k") * 17 % 100000).alias("qt"),
        (F.col("k") % 5).cast("int").alias("changetype"),
        F.array(
            F.concat(F.lit("a="), (F.col("k") % 4).cast("string")),
            F.concat(F.lit("b="), (F.col("k") % 6).cast("string")),
        ).alias("tags"),
    )
    left = base.filter(F.col("id") % 13 != 0)  # %13==0 → NoLeft
    k = F.col("id")
    right = (
        base.filter(k % 11 != 0)  # %11==0 → NoRight
        .withColumn(
            "version",
            F.when(k % 5 == 0, F.col("version") + 1).otherwise(F.col("version")),
        )
        .withColumn(
            "tags",
            F.when(
                k % 19 == 0,
                F.array(F.lit("a=X"), F.element_at("tags", 2)),
            )
            .when(k % 17 == 0, F.reverse("tags"))  # order-only → Same
            .otherwise(F.col("tags")),
        )
        .withColumn("lon", F.when(k % 7 == 0, F.col("lon") + 1).otherwise(F.col("lon")))
        .withColumn("qt", F.when(k % 3 == 0, F.col("qt") + 1).otherwise(F.col("qt")))
        .withColumn(
            "changetype",
            F.when(k % 2 == 0, (F.col("changetype") + 1) % 6).otherwise(
                F.col("changetype")
            ).cast("int"),
        )
    )
    return left, right


def _element_diff_sql() -> str:
    """DuckDB twin of q_element_diff: same modulus fixture, same
    precedence chain, list_sort for the tag compare."""
    base = """
      SELECT CAST(o_orderkey % 3 AS INT) AS element_type,
             o_orderkey AS id,
             CAST(o_orderkey % 7 AS INT) AS version,
             o_orderkey * 11 % 1000 AS lon,
             o_orderkey * 13 % 1000 AS lat,
             o_orderkey * 17 % 100000 AS qt,
             CAST(o_orderkey % 5 AS INT) AS changetype,
             ['a=' || CAST(o_orderkey % 4 AS VARCHAR),
              'b=' || CAST(o_orderkey % 6 AS VARCHAR)] AS tags
      FROM orders"""
    return f"""
WITH base AS ({base}),
l AS (SELECT * FROM base WHERE id % 13 <> 0),
r AS (
  SELECT element_type, id,
         CASE WHEN id % 5 = 0 THEN version + 1 ELSE version END AS version,
         CASE WHEN id % 7 = 0 THEN lon + 1 ELSE lon END AS lon,
         lat,
         CASE WHEN id % 3 = 0 THEN qt + 1 ELSE qt END AS qt,
         CAST(CASE WHEN id % 2 = 0 THEN (changetype + 1) % 6 ELSE changetype END AS INT) AS changetype,
         CASE WHEN id % 19 = 0 THEN ['a=X', tags[2]]
              WHEN id % 17 = 0 THEN list_reverse(tags)
              ELSE tags END AS tags
  FROM base WHERE id % 11 <> 0
),
j AS (
  SELECT COALESCE(l.element_type, r.element_type) AS element_type,
         COALESCE(l.id, r.id) AS id,
         l.id IS NOT NULL AS lp, r.id IS NOT NULL AS rp,
         l.version AS lv, r.version AS rv,
         l.lon AS llon, r.lon AS rlon, l.lat AS llat, r.lat AS rlat,
         l.qt AS lqt, r.qt AS rqt,
         l.changetype AS lct, r.changetype AS rct,
         l.tags AS ltags, r.tags AS rtags
  FROM l FULL OUTER JOIN r ON l.element_type = r.element_type AND l.id = r.id
)
SELECT element_type, id,
  CASE WHEN NOT lp THEN 'NoLeft'
       WHEN NOT rp THEN 'NoRight'
       WHEN lv IS DISTINCT FROM rv THEN 'Info'
       WHEN list_sort(ltags) IS DISTINCT FROM list_sort(rtags) THEN 'Tags'
       WHEN llon IS DISTINCT FROM rlon OR llat IS DISTINCT FROM rlat THEN 'LonLat'
       WHEN lqt IS DISTINCT FROM rqt THEN 'Quadtree'
       WHEN lct IS DISTINCT FROM rct THEN 'ChangeType'
       ELSE 'Same' END AS reason
FROM j
WHERE NOT (lp AND rp AND lv IS NOT DISTINCT FROM rv
           AND list_sort(ltags) IS NOT DISTINCT FROM list_sort(rtags)
           AND llon IS NOT DISTINCT FROM rlon AND llat IS NOT DISTINCT FROM rlat
           AND lqt IS NOT DISTINCT FROM rqt AND lct IS NOT DISTINCT FROM rct)
""".strip()


@gate("element_diff", oracle=_element_diff_sql)
def q_element_diff(spark, sf_dir):
    """compare_element / diffreason (count_python.cpp:82-186): full-outer
    join + CASE chain in the reference's check precedence (NoLeft/NoRight
    → Info → Tags → LonLat → Refs → Members → Quadtree → ChangeType →
    Same), tags compared SORTED — an order-only tag permutation is Same."""
    from .operators.stats import element_diff

    left, right = _diff_sides(spark, sf_dir)
    return element_diff(left, right)


def _geojson_diff_sql() -> str:
    def feats(perturb: bool) -> str:
        vals = []
        for i in range(5):
            v = f"(k * 31 + {i}) % 10"
            if perturb:
                v = f"(CASE WHEN (k + {i}) % 6 = 0 THEN {v} + 100 ELSE {v} END)"
            vals.append(f"CAST(k AS VARCHAR) || ':{i}:' || CAST({v} AS VARCHAR)")
        return "[" + ", ".join(vals) + "]"

    return f"""
WITH o AS (SELECT o_orderkey AS k FROM orders),
l AS (SELECT k AS tile, k % 3 AS kind,
             list_slice({feats(False)}, 1, CAST(k % 4 + 1 AS INT)) AS f
      FROM o WHERE k % 13 <> 0),
r AS (SELECT k AS tile, k % 3 AS kind,
             list_slice({feats(True)}, 1, CAST(k % 5 + 1 AS INT)) AS f
      FROM o WHERE k % 11 <> 0),
j AS (
  SELECT COALESCE(l.tile, r.tile) AS tile, COALESCE(l.kind, r.kind) AS kind,
         l.f AS lf, r.f AS rf
  FROM l FULL OUTER JOIN r ON l.tile = r.tile AND l.kind = r.kind
),
ex AS (
  SELECT tile, kind, lf, rf,
         unnest(range(1, GREATEST(COALESCE(len(lf), 0), COALESCE(len(rf), 0)) + 1)) AS p
  FROM j
)
SELECT tile, kind, CAST(p - 1 AS INT) AS pos,
       lf[p] AS left_feature, rf[p] AS right_feature
FROM ex
WHERE (lf IS NULL OR rf IS NULL)
   OR (p <= LEAST(len(lf), len(rf)) AND lf[p] <> rf[p])
""".strip()


@gate("geojson_diff", oracle=_geojson_diff_sql)
def q_geojson_diff(spark, sf_dir):
    """geojson_diff operator gate (process.py:293-307 semantics) over
    deterministic synthetic FeatureCollections: collections on both sides
    zip POSITIONALLY with zip-truncation (trailing extras unreported),
    one-sided keys emit every feature paired with NULL, features compare
    as strings. The sink's JSON itself is separately gated by
    geojson_tiles; this gates the reconciliation operator."""
    from .operators.sinks import geojson_diff

    k = F.col("k")
    o = _load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))

    def feats(perturb: bool):
        def f(i):
            v = (k * 31 + i) % 10
            if perturb:
                v = F.when((k + i) % 6 == 0, v + 100).otherwise(v)
            return F.concat(
                k.cast("string"), F.lit(":"), F.lit(str(i)), F.lit(":"), v.cast("string")
            )

        return F.array(*[f(i) for i in range(5)])

    left = o.filter(k % 13 != 0).select(
        k.alias("tile"),
        (k % 3).alias("kind"),
        F.to_json(F.struct(F.slice(feats(False), 1, (k % 4 + 1).cast("int")).alias("features"))).alias(
            "geojson"
        ),
    )
    right = o.filter(k % 11 != 0).select(
        k.alias("tile"),
        (k % 3).alias("kind"),
        F.to_json(F.struct(F.slice(feats(True), 1, (k % 5 + 1).cast("int")).alias("features"))).alias(
            "geojson"
        ),
    )
    return geojson_diff(left, right)


def _replay_stream(
    spark,
    batches,
    src_schema: str,
    build,
    output_mode: str,
    out_schema: str,
    prefix: str,
    distinct: bool = False,
    pin_mtimes: bool = False,
):
    """Shared micro-batch replay scaffold for the streaming value gates:
    write ``batches`` (one parquet dir each) under a tmp source, replay
    them one file per trigger through ``build(stream)`` into a memory
    sink, and re-materialize the result before the tmp dirs disappear.
    ``pin_mtimes`` makes the file source's mtime batch order explicit
    (needed when replay order is part of the contract)."""
    import shutil
    import tempfile
    import uuid

    root = tempfile.mkdtemp(prefix=prefix)
    try:
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("overwrite").parquet(f"{root}/src/b{i}")
        if pin_mtimes:
            for i in range(len(batches)):
                d = f"{root}/src/b{i}"
                for f_ in os.listdir(d):
                    os.utime(os.path.join(d, f_), (1_700_000_000 + i * 10,) * 2)
        stream = (
            spark.readStream.schema(src_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(root + "/src/*")
        )
        sink = f"{prefix}{uuid.uuid4().hex[:8]}"
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", root + "/chk")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(f"{prefix} replay did not finish within 300 s")
        res = spark.table(sink)
        if distinct:
            res = res.distinct()
        return spark.createDataFrame(res.toPandas(), out_schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ingest_stream_sql() -> str:
    from .functions.sql_oracle import round_sql

    tile = f"CASE WHEN (qt & 31) >= 3 THEN {round_sql('qt', 3)} ELSE 0 END"
    return f"""
SELECT {tile} AS group_qt, COUNT(*) AS row_count
FROM ({_qt_cte()})
GROUP BY 1
""".strip()


@gate("ingest_stream", oracle=_ingest_stream_sql)
def q_ingest_stream(spark, sf_dir):
    """Structured-Streaming ingest (streaming/ingest.py): the element table
    replayed as 3 micro-batches through the stateless qt kernel + group
    assignment against the complete depth-3 table, with the live per-tile
    count aggregate in complete mode — the converged state must equal the
    batch aggregation (oracle: SQL find_tile over the restated cells)."""
    from .streaming.ingest import tile_counts_stream, with_cells_stream

    base = _elements(spark, sf_dir).select("elem_id", "minx", "miny", "maxx", "maxy")
    groups = _level3_groups()
    return _replay_stream(
        spark,
        [base.filter(F.col("elem_id") % 3 == i) for i in range(3)],
        "elem_id bigint, minx bigint, miny bigint, maxx bigint, maxy bigint",
        lambda stream: tile_counts_stream(with_cells_stream(stream, groups)),
        "complete",
        "group_qt bigint, row_count bigint",
        "oqt_ingest_",
    )


@gate("dedup_stream", oracle=_dedup_minhash_sql)
def q_dedup_stream(spark, sf_dir):
    """Streaming MinHash-LSH near-dup pairs (streaming/dedup.py): the
    documents table replayed as 3 micro-batches through the stateful
    per-(band, bucket) membership operator; the DISTINCT emitted pair set
    must equal the batch operator's all-pairs DuckDB spec — the module's
    convergence contract, value-gated at the driver surface."""
    from .streaming.dedup import minhash_pairs_stream

    base = _load_fanned(spark, sf_dir, "documents").select("doc_id", "text")
    # a pair found via several shared buckets emits identical rows ->
    # distinct before the compare
    return _replay_stream(
        spark,
        [base.filter(F.col("doc_id") % 3 == i) for i in range(3)],
        "doc_id bigint, text string",
        lambda stream: minhash_pairs_stream(stream, n=3, min_matches=8, bucket_cap=None),
        "update",
        "doc_a bigint, doc_b bigint, match_cnt bigint",
        "oqt_dedup_stream_",
        distinct=True,
    )


def _event_order_batches(
    spark, sf_dir, with_user: bool = False, cols=None, sentinel=True, per_batch=None
):
    """The events table replayed IN EVENT ORDER as 3 micro-batches plus a
    far-future flush sentinel — the shared scaffold of every event-time
    stream gate (windowed + session + stream-stream join + exact dedup).
    event_id-range split preserves event-time order (ts is monotone in
    event_id in this corpus, verified at all three scales); the sentinel
    sits 100 days past the corpus at 00:30 of its day so its own
    window/session stays ahead of the watermark and never emits.
    ``with_user`` adds the user_id column (the stream-stream join key);
    the sentinel carries user_id -1, which matches no real user and is
    filtered by the join's type predicates anyway. ``cols`` overrides the
    projected columns (then no sentinel is synthesized unless its shape
    is the default); ``per_batch`` maps each real batch (e.g. the exact
    dedup gate's per-batch key dedup)."""
    cols = cols or (
        ["event_id", "ts"] + (["user_id"] if with_user else []) + ["event_type"]
    )
    base = spark.read.parquet(f"{sf_dir}/events.parquet").select(*cols)
    n = base.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    batches = [
        base.filter(
            (F.col("event_id") >= cuts[i]) & (F.col("event_id") < cuts[i + 1])
        )
        for i in range(3)
    ]
    if per_batch is not None:
        batches = [per_batch(b) for b in batches]
    if sentinel:
        user_col = "CAST(-1 AS BIGINT) AS user_id, " if with_user else ""
        batches.append(
            spark.sql(
                "SELECT CAST(-1 AS BIGINT) AS event_id, "
                "timestamp'2024-05-10 00:30:00' AS ts, "
                f"{user_col}"
                "CAST('__flush__' AS STRING) AS event_type"
            )
        )
    return batches


def _windowed_events_stream_sql() -> str:
    """DuckDB twin: day-truncated event-time counts. epoch() of the naive
    timestamp == Spark's epoch-based window alignment, timezone-free."""
    return """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS win_start,
       CAST(epoch(date_trunc('day', ts) + INTERVAL 1 DAY) AS BIGINT) AS win_end,
       event_type,
       COUNT(*) AS row_count
FROM events
GROUP BY 1, 2, 3
""".strip()


@gate("windowed_events_stream", oracle=_windowed_events_stream_sql)
def q_windowed_events_stream(spark, sf_dir):
    """Event-time windowed aggregate with watermark (streaming/ingest.py
    windowed_counts_stream): the events table replayed IN EVENT ORDER as 3
    micro-batches (+ one far-future sentinel row that advances the
    watermark past every real window, flushing append-mode output).
    In-order delivery + 1h delay means nothing is dropped, so the emitted
    finalized windows must equal the batch day×event_type aggregate —
    DuckDB date_trunc oracle. The drop/keep late-data semantics are pinned
    separately in tests/test_streaming.py (they need controlled arrival
    order, which a value gate cannot assume)."""
    from .streaming.ingest import windowed_counts_stream

    return _replay_stream(
        spark,
        _event_order_batches(spark, sf_dir),
        "event_id bigint, ts timestamp, event_type string",
        lambda stream: windowed_counts_stream(
            stream, ts_col="ts", keys=("event_type",), window="1 day", watermark="1 hour"
        ),
        "append",
        "win_start bigint, win_end bigint, event_type string, row_count bigint",
        "oqt_winevt_",
        pin_mtimes=True,
    )


def _session_events_stream_sql(gap_minutes: int = 15) -> str:
    """DuckDB twin: gaps-and-islands sessionization in epoch MICROseconds
    (the events corpus carries microsecond timestamps, so second-truncated
    bounds would collide)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH {_gaps_islands_ctes('events', 'event_type', gap_us)}
SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS sess_start,
       CAST(epoch_us(MAX(ts)) + {gap_us} AS BIGINT) AS sess_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS row_count
FROM s GROUP BY event_type, sid
""".strip()


@gate("session_events_stream", oracle=_session_events_stream_sql)
def q_session_events_stream(spark, sf_dir):
    """Event-time session windows with watermark (streaming/ingest.py
    session_counts_stream): the events table replayed IN EVENT ORDER as 3
    micro-batches (+ the far-future flush sentinel). In-order delivery +
    1h delay means no session is dropped or split by late data, so the
    emitted finalized sessions must equal the batch gaps-and-islands
    sessionization — DuckDB lag/cumsum oracle (break at diff >= gap:
    Spark's session end is exclusive). The session MERGE semantics (an
    out-of-order bridge event fusing two open sessions) need controlled
    arrival order and are pinned in tests/test_streaming.py instead."""
    from .streaming.ingest import session_counts_stream

    return _replay_stream(
        spark,
        _event_order_batches(spark, sf_dir),
        "event_id bigint, ts timestamp, event_type string",
        lambda stream: session_counts_stream(
            stream, ts_col="ts", keys=("event_type",), gap="15 minutes", watermark="1 hour"
        ),
        "append",
        "sess_start bigint, sess_end bigint, event_type string, row_count bigint",
        "oqt_sessevt_",
        pin_mtimes=True,
    )


def _gaps_islands_ctes(src_sql: str, key: str, gap_us: int) -> str:
    """Shared DuckDB lag/cumsum sessionization CTE pair (d, s) — used by
    BOTH event-time session oracles (_session_events_stream_sql and
    _events_interval_join_sql). Break at diff >= gap because Spark's
    session end (last + gap) is exclusive — an event at exactly
    last + gap opens a NEW session."""
    return f"""
d AS (
  SELECT {key}, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {gap_us}
              THEN 1 ELSE 0 END AS brk
  FROM {src_sql}
  WINDOW w AS (PARTITION BY {key} ORDER BY ts)
),
s AS (
  SELECT {key}, ts,
         SUM(brk) OVER (PARTITION BY {key} ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)""".strip()


OVERLAP_BOX = (-1234567890, -456789012, 345678901, 567890123)


def _qt_box_overlaps_sql() -> str:
    """DuckDB twin: decode level-8 cells to (x, y) (sql_oracle.xyz_sql),
    rebuild the mercator-space bbox (exact binary arithmetic at a fixed
    level), un-mercator the latitudes, apply the 0.05 buffer and the
    reference's fixed-point rounding, then the closed-interval overlap."""
    from .functions import sql_oracle as so

    x_expr, y_expr = so.xyz_sql("cell", 8)
    w = 360.0 / 256.0  # exact in binary
    h = 180.0 / 256.0
    unmerc = lambda m: f"(atan(exp(({m}) * pi() / 90e0)) * 4e0 / pi() - 1e0) * 90e0"
    to_int = lambda v: (
        f"CAST(trunc(CASE WHEN ({v}) > 0 THEN ({v}) * 10000000e0 + 0.5e0 "
        f"ELSE ({v}) * 10000000e0 - 0.5e0 END) AS BIGINT)"
    )
    a, b, x1, y1 = OVERLAP_BOX
    return f"""
WITH cells AS (
  SELECT DISTINCT {so.round_sql('qt', 8)} AS cell
  FROM ({_qt_cte()}) WHERE qt >= 0 AND (qt & 31) >= 8
),
xy AS (SELECT cell, {x_expr} AS tx, {y_expr} AS ty FROM cells),
deg AS (
  SELECT cell,
         -180e0 + tx * {w!r}::DOUBLE AS mx0,
         -180e0 + (tx + 1) * {w!r}::DOUBLE AS mx1,
         {unmerc(f"90e0 - (ty + 1) * {h!r}::DOUBLE")} AS my0,
         {unmerc(f"90e0 - ty * {h!r}::DOUBLE")} AS my1
  FROM xy
),
buf AS (
  SELECT cell,
         mx0 - (mx1 - mx0) * 0.05e0 AS bx0, mx1 + (mx1 - mx0) * 0.05e0 AS bx1,
         my0 - (my1 - my0) * 0.05e0 AS by0, my1 + (my1 - my0) * 0.05e0 AS by1
  FROM deg
)
SELECT cell,
       NOT ({to_int('bx0')} > {x1} OR {to_int('bx1')} < {a}
            OR {to_int('by0')} > {y1} OR {to_int('by1')} < {b}) AS overlaps
FROM buf
""".strip()


@gate("qt_box_overlaps", oracle=_qt_box_overlaps_sql)
def q_qt_box_overlaps(spark, sf_dir):
    """overlaps_quadtree (quadtree.cpp:259-262): per distinct depth-≥8
    element cell rounded to level 8, does the 0.05-buffered cell bbox
    (mercator walk + un-mercator + fixed-point rounding,
    quadtree.cpp:121-159) overlap the fixed filter box — the tile-prune
    predicate, value-gated cell by cell."""
    import pandas as pd

    cells = (
        _elements_qt(spark, sf_dir)
        .filter((F.col("qt") >= 0) & (F.expr("(qt & 31)") >= 8))
        .select(round_qt_col(F.col("qt"), 8).alias("cell"))
        .distinct()
    )

    def gen(batches):
        for pdf in batches:
            c = pdf["cell"].to_numpy("int64")
            minx, miny, maxx, maxy = qtk.bbox_arr(c, qtk.BUFFER_DEFAULT)
            a, b, x, y = OVERLAP_BOX
            ov = ~((minx > x) | (maxx < a) | (miny > y) | (maxy < b))
            yield pd.DataFrame({"cell": c, "overlaps": ov})

    return cells.mapInPandas(gen, "cell bigint, overlaps boolean")


@gate("pruned_bbox_extract", oracle=_bbox_extract_sql)
def q_pruned_bbox_extract(spark, sf_dir):
    """End-to-end soundness of the pruned scan by tile locs (SURVEY §2.1;
    the reference reads only blocks whose index cell overlaps the filter
    box — readpbffile.cpp's locs prune): assign every element to its group
    tile, DROP whole tiles whose buffered cell bbox cannot overlap BOX
    (driver-side prune_tiles — the partition-prune set), then apply the
    exact bbox filter to the survivors. The oracle is the plain FULL-SCAN
    bbox SQL (bbox_extract's oracle verbatim): equality proves the prune
    lost no qualifying element. Unindexed rows (qt < 0) are never pruned —
    a block index can only prune indexed blocks."""
    import numpy as np

    from .operators.extract import prune_tiles
    from .operators.sortblocks import compute_groups_scalable

    df = _elements_qt(spark, sf_dir)
    gqt, _, _ = compute_groups_scalable(df, "qt", target=1000, minsize=500, tree_level=15)
    pruned = prune_tiles(np.asarray(gqt, dtype=np.int64), BOX)
    assigned = with_group_column(df, gqt, "qt")
    kept = assigned.filter(
        F.col("group_qt").isin([int(t) for t in pruned]) | (F.col("qt") < 0)
    )
    a, b, c, d = BOX
    return kept.filter(
        (F.col("minx") <= c) & (F.col("maxx") >= a)
        & (F.col("miny") <= d) & (F.col("maxy") >= b)
    ).select("elem_id")


@_session_memo()
def _tile_sink(spark, sf_dir) -> str:
    """Committed tile sink shared by the lineage gate and the
    physical-layout gate (identical grouping params + sort key): built
    once per (session, sf) under the run-scoped scratch, cleared with
    the other session memos (clear_session_caches) so every bench sweep
    still pays the full write — within one sweep the two gates verify
    the SAME committed artifact from two angles (lineage table vs
    physical row order), which is the point."""
    import numpy as np

    from .operators.sortblocks import compute_groups_scalable, write_tile_sorted

    df = _elements_qt(spark, sf_dir)
    gqt, _, _ = compute_groups_scalable(df, "qt", target=1000, minsize=500, tree_level=15)
    path = _scratch(sf_dir, "tile_sink_gate")
    write_tile_sorted(df, path, np.asarray(gqt, dtype=np.int64), "qt", sort_cols=["elem_id"])
    return path


def _tile_sink_lineage_sql() -> str:
    """DuckDB twin of q_tile_sink_lineage: per-tile row count + cell
    extrema from the independently SQL-derived cell + group assignment."""
    gqt = grpo._group_qts(grpo.oracle_sf_dir(), 1000, 500, 15, rollup=True)
    return f"""
SELECT group_qt,
       COUNT(*) AS row_count,
       MIN(qt) AS min_cell,
       MAX(qt) AS max_cell
FROM (SELECT qt, {grpo.find_tile_sql('qt', gqt)} AS group_qt FROM ({_qt_cte()}))
GROUP BY 1
""".strip()


@gate("tile_sink_lineage", oracle=_tile_sink_lineage_sql)
def q_tile_sink_lineage(spark, sf_dir):
    """Indexed tile sink value gate (SURVEY §2.1): run the REAL sink
    (write_tile_sorted — place each group tile in the partition its DFS
    position names, sort within partitions, write data + per-(partition,
    tile) lineage metrics + atomic manifest; the `-index.pbf`/Iceberg-manifest analog,
    writepbffile.cpp:151-199), read the committed ``_metrics`` table back,
    and aggregate it per tile. The oracle re-derives (tile, row_count,
    min/max cell) straight from the element table with the SQL find_tile
    restatement — a mismatch means the sink wrote wrong lineage (lost or
    duplicated rows, wrong extrema), exactly what a resume would then
    trust. Physical partition ids are summed out: they are a layout
    choice (DFS position × partitions ÷ groups), not semantics."""
    path = _tile_sink(spark, sf_dir)
    m = spark.read.parquet(os.path.join(path, "_metrics"))
    return m.groupBy("group_qt").agg(
        F.sum("row_count").cast("bigint").alias("row_count"),
        F.min("min_cell").alias("min_cell"),
        F.max("max_cell").alias("max_cell"),
    )


def _sorted_layout_sql() -> str:
    """DuckDB twin of q_sorted_layout: the EXPECTED layout — per-tile
    position = rank by elem_id (the sink's sort key), every tile in
    exactly one file/partition, DFS order holding — derived from base
    tables via the independent SQL cell kernel + greedy + find_tile."""
    gqt = grpo._group_qts(grpo.oracle_sf_dir(), 1000, 500, 15, rollup=True)
    return f"""
WITH pos AS (
  SELECT group_qt, qt, elem_id,
         ROW_NUMBER() OVER (PARTITION BY group_qt ORDER BY elem_id) AS rn
  FROM (SELECT qt, elem_id, {grpo.find_tile_sql('qt', gqt)} AS group_qt
        FROM ({_qt_cte()}))
)
SELECT group_qt,
       COUNT(*) AS row_count,
       MIN(qt) AS min_cell,
       MAX(qt) AS max_cell,
       CAST(1 AS INTEGER) AS n_files,
       CAST(1 AS INTEGER) AS n_parts,
       CAST(SUM((rn - 1) * (elem_id % 1000003)) AS BIGINT) AS order_sum,
       TRUE AS dfs_ok
FROM pos
GROUP BY 1
""".strip()


@gate("sorted_layout", oracle=_sorted_layout_sql)
def q_sorted_layout(spark, sf_dir):
    """Physical-layout gate over the committed tile sink (round-5 close of
    the last plan-only §2.6 rows): restates the reference's strict-order
    guard (splitbyid.cpp:54-65 — objects inside a tile must arrive in id
    order) and the resort_objects layout contract (resortobjects.cpp:
    112-140 — one tile never straddles partitions, partitions follow DFS
    tile order) as a VALUE query. Per tile, from the committed parquet's
    OWN physical order (`_metadata.file_path` / `_metadata.row_index` —
    JVM-side file metadata columns, no driver tricks):

      - ``order_sum`` — Σ (physical_position_in_tile × elem_id mod p), a
        position-sensitive checksum the oracle recomputes with
        ROW_NUMBER() OVER (ORDER BY elem_id): equal iff the physical row
        order inside every tile IS elem_id order;
      - ``n_files`` / ``n_parts`` — files/partitions holding the tile
        (oracle says exactly 1: a tile's partition is a function of the
        tile);
      - ``dfs_ok`` — this tile's partition id is ≥ every smaller tile's
        (oracle says TRUE: the partition id is monotone in the tile's DFS
        position);
      - row_count + cell extrema as in the lineage gate.
    """
    from pyspark.sql import Window

    path = _tile_sink(spark, sf_dir)
    data = spark.read.parquet(os.path.join(path, "data")).select(
        "group_qt",
        "qt",
        "elem_id",
        "_part_id",
        F.col("_metadata.file_path").alias("_file"),
        F.col("_metadata.row_index").alias("_ri"),
    )
    w_tile = Window.partitionBy("group_qt").orderBy("_file", "_ri")
    pos = data.withColumn("rn", F.row_number().over(w_tile))
    per_tile = pos.groupBy("group_qt").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.min("qt").alias("min_cell"),
        F.max("qt").alias("max_cell"),
        F.countDistinct("_file").cast("int").alias("n_files"),
        F.countDistinct("_part_id").cast("int").alias("n_parts"),
        F.max("_part_id").alias("_maxp"),
        F.sum((F.col("rn") - 1) * (F.col("elem_id") % F.lit(1000003)))
        .cast("bigint")
        .alias("order_sum"),
    )
    w_dfs = Window.orderBy("group_qt").rowsBetween(Window.unboundedPreceding, -1)
    return per_tile.withColumn(
        "dfs_ok",
        F.coalesce(F.col("_maxp") >= F.max("_maxp").over(w_dfs), F.lit(True)),
    ).drop("_maxp")


def _group_scalable_equiv_sql() -> str:
    rows = grpo._group_rows(grpo.oracle_sf_dir(), 1000, 500, 15, rollup=True)
    vals = ", ".join(f"({q}, {i}, {w})" for q, i, w in rows)
    return f"""
WITH g(group_qt, group_idx, weight) AS (VALUES {vals})
SELECT 'exact' AS path, group_qt, group_idx, weight FROM g
UNION ALL
SELECT 'scalable' AS path, group_qt, group_idx, weight FROM g
""".strip()


@gate("group_scalable_equiv", oracle=_group_scalable_equiv_sql)
def q_group_scalable_equiv(spark, sf_dir):
    """Value restatement of the exact≡scalable grouping equivalence
    (tests/test_qttree_groups.py, test_sortblocks.py) at sweep scale: the
    dense-histogram driver greedy (compute_groups, rollup=True — the
    reference find_groups_copy path, qttreegroups.cpp:200-264) and the
    survivor-aggregate scalable grouping (compute_groups_scalable — the
    10^12-row path whose driver collect is bounded by OUTPUT size) must
    emit the IDENTICAL (group_qt, group_idx, weight) table. Both tables
    return side by side under a ``path`` label; the oracle emits its own
    independently derived table TWICE — EQ holds only if exact ≡ scalable
    ≡ the DuckDB-histogram + per-item reference greedy."""
    from .operators.sortblocks import compute_groups, compute_groups_scalable

    df = _elements_qt(spark, sf_dir)
    rows = []
    for path_name, (gqt, gidx, gw) in (
        ("exact", compute_groups(df, "qt", target=1000, minsize=500, tree_level=15, rollup=True)),
        ("scalable", compute_groups_scalable(df, "qt", target=1000, minsize=500, tree_level=15)),
    ):
        rows += [
            (path_name, int(q), int(i), int(w)) for q, i, w in zip(gqt, gidx, gw)
        ]
    # the group table is the driver-bounded broadcast artifact by design
    # (≤ output-size rows — the same boundedness argument as the
    # assignment kernel's broadcast side), so a createDataFrame is the
    # honest representation, not a collect() smell
    return spark.createDataFrame(
        rows, "path string, group_qt bigint, group_idx bigint, weight bigint"
    )


def _image_phash_dedup_sql() -> str:
    """All-pairs hamming ≤ 3 over the splitmix64-restated phash catalog
    (HUGEINT domain for the bit flips, two's-complement reinterpretation
    to BIGINT to match Spark's signed phash)."""
    return f"""
WITH {_phash_catalog_cte()},
{_PHASH_PAIRS_CTE}
SELECT img_a, img_b, hamming FROM pairs
""".strip()


@gate("image_phash_dedup", oracle=_image_phash_dedup_sql)
def q_image_phash_dedup(spark, sf_dir):
    """Perceptual-hash near-dup pairs over the image catalog (north-rule
    input shape: phash is an input_hint column): 64-bit pigeonhole block
    equi-join, hamming ≤ 3, planted 're-encoded upload' variants
    (sources/images.phash_catalog). The DuckDB twin is the all-pairs
    hamming spec over the SQL-restated catalog, so a match proves block
    completeness AND catalog parity."""
    _, pairs = _phash_pairs(spark, sf_dir)
    return pairs


def _phash_catalog_cte(materialized: bool = True) -> str:
    """The splitmix64-restated phash catalog as a CTE chain ending in
    ``s`` (img_idx, phash) — shared by the phash pair and cluster oracles
    so the planted-variant catalog spec exists once. ``materialized``
    off for WITH RECURSIVE contexts (DuckDB disallows the hint there)."""
    m = " MATERIALIZED" if materialized else ""
    return f"""u AS{m} (
  SELECT p_partkey AS i, {so.splitmix64_sql('p_partkey')} AS u FROM part
),
cat AS (
  SELECT i AS img_idx, u FROM u
  UNION ALL
  SELECT -1 - i, xor(u, (1::HUGEINT << (i % 64))) FROM u WHERE i % 7 = 3
  UNION ALL
  SELECT -1000000001 - i,
         xor(xor(xor(u, (1::HUGEINT << ((i * 7) % 64))),
                 (1::HUGEINT << ((i * 13 + 5) % 64))),
             (1::HUGEINT << ((i * 29 + 11) % 64)))
  FROM u WHERE i % 11 = 5
),
s AS{m} (
  SELECT img_idx,
         (CASE WHEN u >= 9223372036854775808::HUGEINT
               THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS phash
  FROM cat
)""".strip()


_PHASH_PAIRS_CTE = """pairs AS (
  SELECT a.img_idx AS img_a, b.img_idx AS img_b,
         CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
  FROM s a JOIN s b
    ON a.img_idx < b.img_idx
  WHERE bit_count(xor(a.phash, b.phash)) <= 3
)"""  # THE hamming ≤ 3 pair spec — one copy, consumed by both phash oracles


def _phash_pairs(spark, sf_dir):
    """Shared Spark-side construction: catalog → pigeonhole hamming pairs
    (one copy of the count/catalog/near-dup chain for the phash dedup and
    cluster gates — an edit to the pair spec cannot desynchronize them)."""
    from .sources.images import phash_catalog

    n = _load(spark, sf_dir, "part").count()  # also registers the oracle view
    cat = phash_catalog(spark, n)
    return cat, img_ops.phash_near_dup(
        cat, max_hamming=3, metrics_path=_scratch(sf_dir, "metrics")
    )


def _image_phash_clusters_sql() -> str:
    """Recursive-CTE twin: the shared catalog spec + hamming pair spec +
    min-label propagation to a fixpoint (same walk shape as the document
    components oracle)."""
    return f"""
WITH RECURSIVE {_phash_catalog_cte(materialized=False)},
{_PHASH_PAIRS_CTE},
edges AS (
  SELECT img_a AS src, img_b AS dst FROM pairs
  UNION
  SELECT img_b, img_a FROM pairs
),
walk(node, lbl) AS (
  SELECT img_idx, img_idx FROM s
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.lbl < e.dst
),
comp AS (SELECT node AS img_idx, MIN(lbl) AS component_id FROM walk GROUP BY node),
csize AS (
  SELECT component_id, COUNT(*) AS component_size FROM comp GROUP BY component_id
)
SELECT c.img_idx, c.component_id, z.component_size,
       c.img_idx = c.component_id AS is_representative
FROM comp c JOIN csize z USING (component_id)
""".strip()


@gate("image_phash_clusters", oracle=_image_phash_clusters_sql)
def q_image_phash_clusters(spark, sf_dir):
    """Image near-dup cluster canonicalization: the image-payload twin of
    dedup_components — phash hamming ≤ 3 pairs (pigeonhole block join)
    feed the same large-star/small-star components, yielding one row per
    catalog image with its canonical representative (smallest img_idx),
    cluster size and keep/drop flag. The planted re-encode variants
    (1-bit and 3-bit perturbations) must land in their source image's
    cluster. Convergence metrics are recorded under their own operator key
    so a pipeline running doc AND image clustering commits both."""
    from .operators.components import dup_clusters

    cat, pairs = _phash_pairs(spark, sf_dir)
    return dup_clusters(
        cat.select("img_idx"),
        pairs.select("img_a", "img_b"),
        id_col="img_idx",
        id_a="img_a",
        id_b="img_b",
        metrics_path=_scratch(sf_dir, "metrics"),
        operator="image_phash_components",
    )


TILE_SAMPLE_LEVEL = 5
TILE_SAMPLE_CAP = 3


def _tile_sample_sql() -> str:
    qt_cte = so.calculate_cte(
        so.image_elements_sql("SELECT p_partkey AS i FROM part"), "img_idx"
    )
    sm = so.splitmix64_sql("img_idx")
    return f"""
WITH qts AS ({qt_cte}),
marked AS (
  SELECT img_idx, {so.round_sql('qt', TILE_SAMPLE_LEVEL)} AS tile,
         CAST(({sm}) % 9223372036854775808 AS BIGINT) AS mark
  FROM qts WHERE img_idx IS NOT NULL
),
ranked AS (
  SELECT img_idx, tile,
         ROW_NUMBER() OVER (PARTITION BY tile ORDER BY mark, img_idx) AS rk
  FROM marked
)
SELECT img_idx, tile, CAST(rk AS BIGINT) AS quota_rank
FROM ranked WHERE rk <= {TILE_SAMPLE_CAP}
""".strip()


@gate("tile_sample", oracle=_tile_sample_sql)
def q_tile_sample(spark, sf_dir):
    """K preview images per map tile (source_quota_cap keyed by the
    level-5 cell): the deterministic "thumbnails for the tile browser"
    sample, joining the curation operator to the tiling engine — same
    mark, same prefilter+fallback exactness argument, the key is just a
    rounded quadtree cell instead of a domain. Default oversample: with
    cap 3 and fixture tiles holding tens-to-hundreds of images, the mark
    prefilter is ACTIVE — exactly the hot-key regime it exists for — so
    this gate exercises the pruned path over a second key shape (the
    pass-everything branch is covered by the per-file quota tests)."""
    from .operators.docs import source_quota_cap

    from .cache import cached

    _load(spark, sf_dir, "part")  # register the oracle view
    # cached: the quota operator scans its input twice (per-key counts,
    # rank join) and the upstream here is the fused footprint→cell Arrow
    # kernel — cache the SLIM (img_idx, tile) projection so the kernel
    # runs once (the operator itself deliberately leaves input caching to
    # callers: only they know whether upstream is a cheap scan or an
    # expensive derivation)
    df = cached(
        img_ops.with_footprint(_images(spark, sf_dir)).select(
            F.substring("image_id", 4, 12).cast("bigint").alias("img_idx"),
            round_qt_col(F.col("qt"), TILE_SAMPLE_LEVEL).alias("tile"),
        )
    )
    return source_quota_cap(df, TILE_SAMPLE_CAP, key_col="tile", id_col="img_idx")


ASOF_TOLERANCE = "24 hours"  # ~36% of probes match at sf0.01 — both the
_ASOF_TOLERANCE_US = 24 * 3600 * 1_000_000  # matched and nulled branches real


def _events_asof_sql() -> str:
    return f"""
WITH refs AS (
  SELECT user_id, ts, MAX(event_id) AS ref_event_id
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       CASE WHEN epoch_us(p.ts) - epoch_us(r.ts) <= {_ASOF_TOLERANCE_US}
            THEN r.ref_event_id END AS ref_event_id,
       CASE WHEN epoch_us(p.ts) - epoch_us(r.ts) <= {_ASOF_TOLERANCE_US}
            THEN r.ts END AS ref_ts
FROM p ASOF LEFT JOIN refs r
  ON p.user_id = r.user_id AND p.ts >= r.ts
""".strip()


@gate("events_asof", oracle=_events_asof_sql)
def q_events_asof(spark, sf_dir):
    """As-of join (operators/asof.py): every 'purchase' event attached to
    the user's most recent 'view' at-or-before its timestamp, 24-hour
    tolerance; refs pre-deduped per (user, ts) keep-max-id on BOTH sides
    (SQL ASOF leaves the equal-ts ref tie unspecified). Timestamps stay
    TIMESTAMP_NTZ end to end — Spark's naive collect values equal
    DuckDB's naive TIMESTAMPs with no session-timezone dependence. The
    DuckDB twin is a native ASOF LEFT JOIN + tolerance CASE."""
    from .operators.asof import asof_join

    ev = _load(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    refs = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    out = asof_join(
        probes, refs, on=["user_id"], ts_col="ts", ref_cols=("event_id",),
        tolerance=ASOF_TOLERANCE,
    )
    return out.select("event_id", "user_id", "ts", "ref_event_id", "ref_ts")


INTERVAL_GAP = "12 hours"
_INTERVAL_GAP_US = 12 * 3600 * 1_000_000


def _events_interval_join_sql() -> str:
    views = "(SELECT user_id, ts FROM events WHERE event_type = 'view') v"
    return f"""
WITH {_gaps_islands_ctes(views, 'user_id', _INTERVAL_GAP_US)},
sess AS MATERIALIZED (
  SELECT user_id, MIN(ts) AS sess_start,
         MAX(ts) + INTERVAL 12 HOUR AS sess_end
  FROM s GROUP BY user_id, sid
)
SELECT p.event_id, p.user_id, p.ts, sess.sess_start, sess.sess_end
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN sess ON p.user_id = sess.user_id
         AND sess.sess_start <= p.ts AND p.ts < sess.sess_end
""".strip()


@gate("events_interval_join", oracle=_events_interval_join_sql)
def q_events_interval_join(spark, sf_dir):
    """Interval-containment (range) join (operators/interval.py): each
    'purchase' attributed to the user's browsing session containing it —
    sessions are batch gaps-and-islands over 'view' events (12h gap,
    half-open [first, last + gap), the streaming session convention), and
    the join is the bucketized equi-join shape (1-day buckets), NOT a
    nested-loop range predicate. DuckDB twin: lag/cumsum sessionization +
    a plain range-predicate join."""
    from .operators.interval import interval_join, sessionize

    ev = _load(spark, sf_dir, "events")
    sessions = sessionize(
        ev.filter(F.col("event_type") == "view").select("user_id", "ts"),
        on=["user_id"], gap=INTERVAL_GAP,
    ).select("user_id", "sess_start", "sess_end")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = interval_join(
        purchases, sessions, on=["user_id"], ts_col="ts",
        start_col="sess_start", end_col="sess_end", bucket="1 day",
    )
    return out.select("event_id", "user_id", "ts", "sess_start", "sess_end")


CHUNK_WORDS, CHUNK_STRIDE = 24, 16
SAMPLE_MOD = 10_000
SAMPLE_RATES = {"en": 1500, "de": 5000, "zh": 9000}  # per-SAMPLE_MOD thresholds
SAMPLE_DEFAULT = 500


def _doc_chunks_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE text IS NOT NULL
),
e AS (
  SELECT doc_id, words,
         unnest(range(1, len(words) + 1, {CHUNK_STRIDE})) AS gs
  FROM w
)
SELECT doc_id,
       CAST((gs - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(gs AS BIGINT) AS start_word,
       CAST(len(words[gs : gs + {CHUNK_WORDS} - 1]) AS BIGINT) AS n_words,
       array_to_string(words[gs : gs + {CHUNK_WORDS} - 1], ' ') AS chunk_text
FROM e
""".strip()


@gate("doc_chunks", oracle=_doc_chunks_sql)
def q_doc_chunks(spark, sf_dir):
    """Context-window chunking over the documents table (docs.doc_chunks):
    24-word chunks, stride 16 (overlapping), clipped tails, 0-based
    chunk_id. DuckDB twin: string_split + unnest(range(...)) + 1-based
    inclusive list slices (auto-clipping)."""
    from .operators.docs import doc_chunks

    return doc_chunks(
        _load(spark, sf_dir, "documents"),
        chunk_words=CHUNK_WORDS, stride=CHUNK_STRIDE,
    )


def _sample_by_hash_sql() -> str:
    case = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
    ) + f" ELSE {SAMPLE_DEFAULT} END"
    return f"""
WITH m AS (
  SELECT doc_id, lang,
         CAST(({so.splitmix64_sql('doc_id')}) % {SAMPLE_MOD} AS BIGINT) AS sample_mark
  FROM documents
)
SELECT doc_id, lang, sample_mark FROM m WHERE sample_mark < {case}
""".strip()


@gate("sample_by_hash", oracle=_sample_by_hash_sql)
def q_sample_by_hash(spark, sf_dir):
    """Deterministic stratified sampling (docs.sample_by_hash): keep a doc
    iff splitmix64(doc_id) % 10000 < its lang's threshold — reproducible
    train/eval splits, stable under repartitioning. DuckDB twin restates
    splitmix64 over HUGEINT and the same CASE thresholds."""
    from .operators.docs import sample_by_hash

    return sample_by_hash(
        _load(spark, sf_dir, "documents").select("doc_id", "lang"),
        rates=SAMPLE_RATES, default_rate=SAMPLE_DEFAULT, mod=SAMPLE_MOD,
    ).select("doc_id", "lang", "sample_mark")


def _tile_pyramid_sql() -> str:
    x_expr, y_expr = so.xyz_sql(so.round_sql("qt", 8), 8)
    return f"""
WITH leaf AS (
  SELECT {x_expr} AS tile_x, {y_expr} AS tile_y, COUNT(*) AS cnt
  FROM ({_qt_cte()}) WHERE qt >= 0 AND (qt & 31) >= 8 GROUP BY 1, 2
)
SELECT z.zoom, tile_x >> (8 - z.zoom) AS tile_x, tile_y >> (8 - z.zoom) AS tile_y,
       CAST(SUM(cnt) AS BIGINT) AS cnt
FROM leaf CROSS JOIN (SELECT UNNEST(range(0, 9)) AS zoom) z
GROUP BY 1, 2, 3
""".strip()


@gate("tile_pyramid", oracle=_tile_pyramid_sql)
def q_tile_pyramid(spark, sf_dir):
    """Raster tile pyramid: the zoom-8 xyz histogram rolled up to every
    ancestor zoom 0..8 (operators/spatial.tile_pyramid — the flat-DataFrame
    analog of qttree.cpp's tree weight accumulation). The big shuffle is
    the leaf histogram; the rollup re-shuffles only (zoom+1)×leaf-cell
    pre-aggregated rows, independent of input size."""
    from .operators.spatial import tile_pyramid

    return tile_pyramid(q_xyz_tiles(spark, sf_dir), max_zoom=8)


def _geohash_cells_sql() -> str:
    return so.geohash_cte(
        f"SELECT elem_id, minx AS lon, miny AS lat FROM ({_ELEM_CTE}) WHERE NOT is_box",
        "elem_id",
        precision=8,
    )


@gate("geohash_cells", oracle=_geohash_cells_sql)
def q_geohash_cells(spark, sf_dir):
    """Geohash-8 cell ids for every point element — the third index family
    (quadtree / S2 / geohash), pure JVM bit arithmetic sharing its step
    expressions verbatim with the oracle
    (functions/sql_oracle.geohash_steps)."""
    from .operators.spatial import geohash_encode

    pts = _elements(spark, sf_dir).filter(~F.col("is_box")).select(
        "elem_id", "minx", "miny"
    )
    return geohash_encode(pts, "minx", "miny", precision=8).select(
        "elem_id", "geohash"
    )


def _doc_repetition_sql() -> str:
    """DuckDB twin: explodes bigrams and takes the per-doc mode via a
    window — a deliberately different formulation (group/count/rank) from
    the engine's shuffle-free sorted-run fold."""
    return """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
st AS (
  SELECT doc_id, len(words) AS n_words, len(list_distinct(words)) AS n_distinct
  FROM base
),
bg AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])) AS bigram
  FROM base WHERE len(words) >= 2
),
cnts AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (
  SELECT doc_id, bigram, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram ASC) AS rn
    FROM cnts
  ) WHERE rn = 1
)
SELECT s.doc_id,
       CAST(s.n_words AS BIGINT) AS n_words,
       CAST(s.n_distinct AS BIGINT) AS n_distinct,
       CAST((s.n_words - s.n_distinct) * 10000 // s.n_words AS BIGINT) AS dup_word_x10000,
       t.bigram AS top_bigram,
       CAST(CASE WHEN s.n_words IS NULL THEN NULL ELSE COALESCE(t.c, 0) END AS BIGINT)
         AS top_bigram_cnt,
       CAST(CASE WHEN s.n_words IS NULL THEN NULL
                 WHEN s.n_words < 2 THEN 0
                 ELSE t.c * 10000 // (s.n_words - 1) END AS BIGINT) AS top_bigram_x10000
FROM st s LEFT JOIN top t USING (doc_id)
""".strip()


@gate("doc_repetition", oracle=_doc_repetition_sql)
def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (operators/docs
    .repetition_stats): duplicate-word fraction + most-frequent bigram,
    computed shuffle-free via a sorted-array run fold per row."""
    from .operators.docs import repetition_stats

    return repetition_stats(_load(spark, sf_dir, "documents"))


def _ann_sq8_sql() -> str:
    scale_list = ", ".join(
        f"CAST(MAX(ABS(embedding[{i + 1}])) AS DOUBLE)" for i in range(EMB_DIM)
    )
    return f"""
WITH scales AS (SELECT [{scale_list}] AS s FROM embeddings),
codes AS (
  SELECT vec_id,
         list_transform(embedding, (x, i) ->
           CASE WHEN s[i] = 0 THEN 0
                ELSE CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / s[i] + 0.5) AS INT) END) AS c
  FROM embeddings, scales
),
q AS (SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id,
         CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}), i ->
              CAST(v.c[i] AS BIGINT) * qc[i])) AS BIGINT) AS score
  FROM codes v CROSS JOIN q
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {ANN_K}
""".strip()


@gate("ann_sq8_topk", oracle=_ann_sq8_sql)
def q_ann_sq8_topk(spark, sf_dir):
    """SQ8 quantized ANN (operators/ann.sq8_topk): per-dim max-abs int8
    quantization, then top-k by INTEGER dot product — exact int64
    arithmetic end to end, so the full result (score included) is
    bit-reproducible against the SQL twin with no candidate export."""
    emb = _load_fanned(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ops.sq8_topk(emb, queries, ANN_K, dim=EMB_DIM)


NGRAM_EDGE_JACCARD = 0.2  # shared by dedup_components' spark edges + oracle
DECON_BENCH_MOD = 41  # every 41st doc is the synthetic benchmark/eval set
DECON_MIN_HITS = 2


@_session_memo()
def _doc_cluster_frame(spark, sf_dir):
    """Shared near-dup cluster table (exact-dup ∪ 3-gram-jaccard edges →
    large-star/small-star components) feeding BOTH the dedup_components
    gate and the leakage-safe split gate — memoized per (session, sf) and
    persisted via the cache registry so the multi-round star fixpoint and
    the 3-gram self-join run once per sweep, not once per gate (cleared
    by clear_session_caches like every derived memo)."""
    from .operators import components as ccm
    from .operators import docs as dops

    docs = _load_fanned(spark, sf_dir, "documents")
    # exact-dup edges: one LINEAR edge (doc, group-min) per duplicated text
    # (never all-pairs within a group); grouped on xxhash64(text) so the
    # shuffle moves an int64, not the document — hash-invariant vs the
    # oracle's GROUP BY text modulo 2^-64 collisions (ngram_pairs contract)
    h = docs.select("doc_id", F.xxhash64("text").alias("_h"))
    grp = h.groupBy("_h").agg(F.min("doc_id").alias("_rep"))
    exact_edges = (
        h.join(grp, "_h")
        .filter(F.col("doc_id") != F.col("_rep"))
        .select(F.col("doc_id").alias("doc_a"), F.col("_rep").alias("doc_b"))
    )
    ngram_edges = dops.ngram_pairs(
        docs, n=3, min_jaccard=NGRAM_EDGE_JACCARD
    ).select("doc_a", "doc_b")
    from .cache import cached

    return cached(
        ccm.dup_clusters(
            docs, exact_edges.unionByName(ngram_edges),
            metrics_path=_scratch(sf_dir, "metrics"),
        )
    )


def _dedup_components_sql() -> str:
    """Recursive-CTE twin of q_dedup_components: same edge set (identical
    text groups + 3-gram jaccard pairs), min-label propagation to a
    fixpoint (the `w.lbl < e.dst` guard keeps only labels that can still
    win, so the walk state stays bounded), then per-component sizes."""
    return f"""
WITH RECURSIVE {_components_cte()}, csize AS (
  SELECT component_id, COUNT(*) AS component_size FROM comp GROUP BY component_id
)
SELECT c.doc_id, c.component_id, s.component_size,
       c.doc_id = c.component_id AS is_representative
FROM comp c JOIN csize s USING (component_id)
""".strip()


@gate("dedup_components", oracle=_dedup_components_sql)
def q_dedup_components(spark, sf_dir):
    """Near-dup cluster canonicalization — the pipeline step AFTER the pair
    operators: edges = exact-dup edges (identical text → group min) ∪ word
    3-gram jaccard ≥ 0.2 pairs (ngram_pairs), components via alternating
    large-star/small-star (operators/components.py, Kiveris et al. SoCC'14),
    output one row per document with its canonical representative, cluster
    size and keep/drop flag. Oracle: DuckDB recursive-CTE min-label
    propagation over the identical edge set."""
    return _doc_cluster_frame(spark, sf_dir)


def _components_cte() -> str:
    """The recursive min-label-propagation CTE chain ending in ``comp``
    (doc_id, component_id) — shared by the dedup_components and
    split_by_cluster oracles so the edge-set + fixpoint definition exists
    once."""
    return f"""grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS gram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
), npairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_cnt
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), nedges AS (
  SELECT doc_a, doc_b FROM npairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter_cnt >= (sa.n_grams + sb.n_grams - inter_cnt) * {NGRAM_EDGE_JACCARD!r}::DOUBLE
), eedges AS (
  SELECT doc_id AS doc_a, MIN(doc_id) OVER (PARTITION BY text) AS doc_b
  FROM documents
), pairs AS (
  SELECT doc_a, doc_b FROM nedges
  UNION
  SELECT doc_a, doc_b FROM eedges WHERE doc_a <> doc_b
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.lbl < e.dst
), comp AS (
  SELECT node AS doc_id, MIN(lbl) AS component_id FROM walk GROUP BY node
)""".strip()


SPLIT_TRAIN_PM, SPLIT_VAL_PM = 800, 100  # per-mille; rest = test


def _split_by_cluster_sql() -> str:
    sm = so.splitmix64_sql("component_id")
    return f"""
WITH RECURSIVE {_components_cte()}, bkt AS (
  SELECT doc_id, component_id,
         CAST(({sm}) % 1000 AS BIGINT) AS b
  FROM comp
)
SELECT doc_id, component_id,
       CASE WHEN b < {SPLIT_TRAIN_PM} THEN 'train'
            WHEN b < {SPLIT_TRAIN_PM + SPLIT_VAL_PM} THEN 'val'
            ELSE 'test' END AS split
FROM bkt
""".strip()


@gate("split_by_cluster", oracle=_split_by_cluster_sql)
def q_split_by_cluster(spark, sf_dir):
    """Leakage-safe train/val/test split (components.cluster_split over
    the shared near-dup cluster table): the bucket is
    splitmix64(component_id) mod 1000, so every member of a near-dup
    cluster lands in the same split — a near-duplicate of a test document
    can never leak into train. The oracle recomputes the identical
    components AND the identical HUGEINT splitmix64 bucket."""
    from .operators.components import cluster_split

    return cluster_split(
        _doc_cluster_frame(spark, sf_dir),
        train_per_mille=SPLIT_TRAIN_PM,
        val_per_mille=SPLIT_VAL_PM,
    )


def _decontaminate_sql() -> str:
    return f"""
WITH tg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS gram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id
), hits AS (
  SELECT t.doc_id, b.doc_id AS bench_id, COUNT(*) AS hits
  FROM tg t JOIN tg b USING (gram)
  WHERE b.doc_id % {DECON_BENCH_MOD} = 0 AND t.doc_id <> b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= {DECON_MIN_HITS}
)
SELECT h.doc_id, h.bench_id, h.hits, s.n_grams,
       h.hits / s.n_grams AS overlap_frac
FROM hits h JOIN sizes s ON s.doc_id = h.doc_id
""".strip()


@gate("decontaminate", oracle=_decontaminate_sql)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (docs.benchmark_overlap): the synthetic
    eval set is every {DECON_BENCH_MOD}th document; a training doc is
    contaminated when it shares ≥ {DECON_MIN_HITS} distinct word 3-grams
    with a benchmark doc. Self-rows excluded (the bench set is drawn from
    the corpus here; in production it is disjoint by construction)."""
    from .operators import docs as dops

    docs = _load_fanned(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    out = dops.benchmark_overlap(docs, bench, n=3, min_hits=DECON_MIN_HITS)
    return out.filter(F.col("doc_id") != F.col("bench_id"))


def _dedup_semantic_sql() -> str:
    return do.embedding_lsh_soundness_sql(
        EMB_DUP_MIN_COS, _scratch(_ORACLE_SF_DIR(), "semantic_dedup_candidates")
    )


@gate("dedup_semantic", oracle=_dedup_semantic_sql)
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic near-dup pairs (dedup.semantic_dup_pairs):
    deterministic spherical-k-means codebook, within-cluster candidates
    (nprobe=2 closes the Voronoi-boundary seam), exact-cosine rescore.
    Values fully gated through the shared export-soundness surface: the
    candidate set is committed to parquet and DuckDB re-scores it from the
    raw embeddings (same oracle as dedup_embedding_lsh); recall is
    pytest-gated vs the exact operator (tests/test_dedup.py)."""
    from .operators import dedup as dd

    return dd.semantic_dup_pairs(
        _load_fanned(spark, sf_dir, "embeddings"), EMB_DUP_MIN_COS,
        n_centroids=16, nprobe=2,
        export_pairs_path=_scratch(sf_dir, "semantic_dedup_candidates"),
        metrics_path=_scratch(sf_dir, "metrics"),
    )


def _dedup_incremental_sql() -> str:
    from .sources.dedup_store import INCR_NEW_MOD

    return f"""
SELECT doc_a, doc_b, match_cnt
FROM ({do.minhash_pairs_sql(n=3, min_matches=8)}) t
WHERE doc_a % {INCR_NEW_MOD} = 0 OR doc_b % {INCR_NEW_MOD} = 0
""".strip()


@gate("dedup_incremental", oracle=_dedup_incremental_sql)
def q_dedup_incremental(spark, sf_dir):
    """Daily-batch MinHash dedup against the pre-mined signature store
    (sources/dedup_store.py — the dedup twin of the qts store / the
    reference's -index.pbf prune): documents with doc_id % 5 == 0 are
    "today's batch", the rest were mined at store-build time. Every run
    pays a parquet SCAN of the store plus the signature kernel over the
    batch only; the result equals the full-corpus minhash_lsh_pairs
    restricted to pairs touching the batch (the oracle: the all-pairs
    minhash SQL spec with that WHERE clause)."""
    from .operators import dedup as dd
    from .sources import dedup_store

    sigs, bands = dedup_store.read_tables(spark, sf_dir)
    docs = _load_fanned(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % dedup_store.INCR_NEW_MOD == 0)
    # broadcast_new=False: this fixture's "batch" is 20% of the corpus —
    # a backfill, not a diff; the broadcast fast path is for true
    # diff-scale batches (see the operator docstring)
    return dd.minhash_lsh_pairs_incremental(
        new, sigs, bands, metrics_path=_scratch(sf_dir, "metrics"),
        broadcast_new=False,
    )


BM25_QUERY_MOD = 97  # every 97th doc's first 8 words are a search query
BM25_K = 10


def _bm25_sql() -> str:
    from .operators.search import IDF_INT_MAX, SCALE

    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT SUM(tf) FROM tf) AS total_len
), q AS (
  SELECT doc_id AS query_id,
         array_to_string(string_split(text, ' ')[1:8], ' ') AS qtext
  FROM documents WHERE doc_id % {BM25_QUERY_MOD} = 0
), qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q
  ) WHERE term <> ''
), qdf AS (
  SELECT term, COUNT(*) AS df FROM tf
  WHERE term IN (SELECT term FROM qterms) GROUP BY term
), hits AS (
  SELECT qt.query_id, t.doc_id, t.tf, d.df, l.dl
  FROM tf t
  JOIN qterms qt USING (term)
  JOIN qdf d USING (term)
  JOIN dl l ON l.doc_id = t.doc_id
), scored AS (
  SELECT query_id, doc_id,
         SUM(
           LEAST(CAST(FLOOR({SCALE:e} *
                (((s.n_docs - df) + 0.5e0) / (df + 0.5e0))) AS BIGINT),
                 {IDF_INT_MAX})
           *
           CAST(FLOOR(({SCALE:e} * tf) /
                (tf + 1.2e0 * (1e0 - 0.75e0 +
                 (0.75e0 * dl) / (s.total_len / s.n_docs)))) AS BIGINT)
         ) AS score
  FROM hits CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {BM25_K}
""".strip()


@gate("bm25_topk", oracle=_bm25_sql)
def q_bm25_topk(spark, sf_dir):
    """Inverted-index BM25 top-k (operators/search.py): integer-scaled
    scores built from exactly-rounded double ops only (no transcendentals,
    no float sums), so Spark and DuckDB agree bit for bit — ranks AND
    scores. Queries are the first 8 words of every {BM25_QUERY_MOD}th
    document (deterministic, no external data)."""
    from .operators import search as srch

    docs = _load_fanned(spark, sf_dir, "documents")
    queries = docs.filter(F.col("doc_id") % BM25_QUERY_MOD == 0).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)).alias("text"),
    )
    return srch.bm25_topk(docs, queries, k=BM25_K)


def _pii_injected(docs: DataFrame) -> DataFrame:
    """Deterministic PII fixture: the synthetic corpus is word salad with
    no emails/phones/IPs, so the scrub gate would trivially pass on zero
    matches. Inject doc_id-derived PII (every doc an email, every 3rd a
    phone, every 2nd an IP) so the redaction counts are non-trivial and
    the whole injection is restatable in SQL — same pattern as the
    media-stub waveform fixtures. Spark `concat` and DuckDB `||` both
    propagate NULL text."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), d.cast("string"), F.lit("@example.com"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad(((d * 7) % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 2 == 0,
                F.concat(
                    F.lit(" host 10."), (d % 256).cast("string"),
                    F.lit("."), (F.shiftright(d, 8) % 256).cast("string"),
                    F.lit("."), (d % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _pii_scrub_sql() -> str:
    from .operators.docs import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    repl = {name: r for name, _, r in PII_PATTERNS}
    inj = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
        " || CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-' ||"
        " lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 2 = 0 THEN ' host 10.' ||"
        " CAST(doc_id % 256 AS VARCHAR) || '.' ||"
        " CAST((doc_id >> 8) % 256 AS VARCHAR) || '.' ||"
        " CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
    )
    sql = "WITH inj AS (SELECT doc_id, " + inj + " AS t FROM documents)"
    prev, names = "inj", []
    for name, _, _ in PII_PATTERNS:
        cte = "s_" + name
        carried = ", ".join(f"n_{n}s" for n in names)
        carried = (carried + ", ") if carried else ""
        sql += (
            f", {cte} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all(t, '{pats[name]}')) AS n_{name}s, "
            f"regexp_replace(t, '{pats[name]}', '{repl[name]}', 'g') AS t "
            f"FROM {prev})"
        )
        prev = cte
        names.append(name)
    sql += (
        " SELECT doc_id, t AS clean_text, CAST(n_emails AS BIGINT) AS n_emails,"
        " CAST(n_phones AS BIGINT) AS n_phones, CAST(n_ips AS BIGINT) AS n_ips"
        f" FROM {prev}"
    )
    return sql


@gate("pii_scrub", oracle=_pii_scrub_sql)
def q_pii_scrub(spark, sf_dir):
    """PII redaction (docs.pii_scrub): sequential email → phone → IP
    regex scrub with per-stage counts, all JVM-side regexp_count /
    regexp_replace in one codegen projection — zero shuffles, zero
    Python. The regex subset is chosen to mean the same thing in
    java.util.regex and RE2 so the DuckDB twin is exact (clean_text
    compared byte-for-byte)."""
    from .operators.docs import pii_scrub

    return pii_scrub(
        _pii_injected(_load(spark, sf_dir, "documents").select("doc_id", "text"))
    )


SJOIN_HORIZON_MIN = 240  # stream-stream join: click within 4 h of the view


def _events_stream_join_sql() -> str:
    return f"""
SELECT v.event_id AS left_id, c.event_id AS right_id, v.user_id,
       epoch_us(v.ts) AS left_ts, epoch_us(c.ts) AS right_ts
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL {SJOIN_HORIZON_MIN} MINUTE
""".strip()


@gate("events_stream_join", oracle=_events_stream_join_sql)
def q_events_stream_join(spark, sf_dir):
    """Time-bounded stream-stream inner join (streaming/joins.py): every
    click paired with the same user's views from the preceding 4 hours,
    both sides of the self-join watermarked, state bounded by
    watermark + horizon per Spark's range-condition eviction. In-order
    replay + inner semantics mean every match present in the data is
    emitted, so the result must equal the batch range join — the DuckDB
    oracle states exactly that."""
    from .streaming.joins import time_bounded_join_stream

    return _replay_stream(
        spark,
        _event_order_batches(spark, sf_dir, with_user=True),
        "event_id bigint, ts timestamp, user_id bigint, event_type string",
        lambda stream: time_bounded_join_stream(
            stream, "view", "click", key="user_id",
            horizon=f"{SJOIN_HORIZON_MIN} minutes", watermark="1 hour",
        ),
        "append",
        "left_id bigint, right_id bigint, user_id bigint, "
        "left_ts bigint, right_ts bigint",
        "oqt_sjoin_",
        pin_mtimes=True,
    )


KMV_K = 32


def _distinct_kmv_sql() -> str:
    from .operators.sketch import KMV_DOMAIN_MAX

    fp = do.fingerprint_sql("text")  # shared with the text_analysis oracle
    h = so.splitmix64_sql("fp")
    return f"""
WITH fp_t AS (
  SELECT {fp} AS fp FROM documents WHERE text IS NOT NULL
),
hs AS (SELECT DISTINCT CAST(({h}) >> 1 AS BIGINT) AS h FROM fp_t),
km AS (SELECT h FROM hs ORDER BY h LIMIT {KMV_K}),
agg AS (SELECT COUNT(*) AS m, MAX(h) AS kth FROM km)
SELECT CAST(m AS BIGINT) AS n_sketch, kth AS kth_min,
       CAST(CASE WHEN m < {KMV_K} THEN m
            ELSE ({KMV_K - 1}::HUGEINT * {KMV_DOMAIN_MAX}::HUGEINT) // kth::HUGEINT
       END AS BIGINT) AS est_distinct
FROM agg
""".strip()


@gate("distinct_kmv", oracle=_distinct_kmv_sql)
def q_distinct_kmv(spark, sf_dir):
    """KMV distinct-count sketch (operators/sketch.kmv_distinct): one-row
    estimate of the number of distinct document fingerprints. The whole
    pipeline is deterministic (splitmix64 over the rolling-hash fp), so
    even the ESTIMATE is value-gated exactly — the DuckDB twin computes
    the identical k-minima and the identical HUGEINT-exact estimator."""
    from .operators.sketch import kmv_distinct

    return kmv_distinct(
        _load(spark, sf_dir, "documents").select("doc_id", "text"), k=KMV_K
    )


def _image_dim_quantiles_sql() -> str:
    phis = ", ".join(f"({p})" for p in QUANTILE_PHIS)
    return f"""
WITH idx AS (SELECT p_partkey AS i FROM part),
v AS (
  SELECT CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'ppm' END AS fmt,
         (CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 32 WHEN 2 THEN 64 ELSE 128 END)::BIGINT
         * (CASE (i // 4) % 4 WHEN 0 THEN 16 WHEN 1 THEN 24 WHEN 2 THEN 48 ELSE 96 END)::BIGINT
           AS val
  FROM idx
),
n AS (SELECT fmt, COUNT(*)::BIGINT AS c FROM v GROUP BY fmt),
ranked AS (
  SELECT fmt, val, row_number() OVER (PARTITION BY fmt ORDER BY val) AS rn FROM v
),
phis(phi_x1000) AS (VALUES {phis})
SELECT r.fmt, CAST(p.phi_x1000 AS INT) AS phi_x1000, r.val AS q_value
FROM phis p
CROSS JOIN n
JOIN ranked r ON r.fmt = n.fmt
 AND r.rn = GREATEST((CAST(p.phi_x1000 AS BIGINT) * n.c + 999) // 1000, 1)
""".strip()


@gate("image_dim_quantiles", oracle=_image_dim_quantiles_sql)
def q_image_dim_quantiles(spark, sf_dir):
    """Per-format image pixel-count quantiles over the north-rule image
    table — the sketch applied to the engine's PRIMARY input shape (the
    decode-budget planning query an image pipeline runs before sizing
    batch shapes): grouped quantile summary of w·h keyed by fmt. The
    oracle re-derives the deterministic w/h/fmt cycles from the row index
    (FIXTURES.md §1) and selects exact per-format ranks."""
    from .operators.sketch import grouped_quantile_summary, grouped_quantile_values

    _load(spark, sf_dir, "part")  # register the view for the oracle
    values = _images(spark, sf_dir).select(
        F.col("fmt").alias("key"),
        (F.col("w").cast("bigint") * F.col("h").cast("bigint")).alias("val"),
    )
    return grouped_quantile_values(
        grouped_quantile_summary(values, QUANTILE_K), QUANTILE_PHIS
    ).withColumnRenamed("key", "fmt")


def _bpe_token_stats_sql() -> str:
    from .operators.docs import BPE_SPLIT_PATTERN

    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    n_bpe = f"len(regexp_extract_all(t, '{pat}'))::BIGINT"
    return f"""
WITH inj AS (
  SELECT doc_id, text || ' it''s v' || CAST(doc_id AS VARCHAR) || '.0; end' AS t
  FROM documents
)
SELECT doc_id,
       len(string_split(t, ' '))::BIGINT AS n_tokens_ws,
       {n_bpe} AS n_tokens_bpe,
       CASE WHEN {n_bpe} > 0
            THEN (length(t)::BIGINT * 100) // {n_bpe} END AS chars_per_tok_x100
FROM inj
""".strip()


@gate("bpe_token_stats", oracle=_bpe_token_stats_sql)
def q_bpe_token_stats(spark, sf_dir):
    """Token counting under both budgeting conventions (docs.
    bpe_token_stats): whitespace tokens and a BPE-style pre-tokenizer
    regex count (GPT-2 pre-tokenizer shape, restricted to the
    java.util.regex ∩ RE2 dialect subset), plus the integer
    chars-per-token ratio. The corpus is word salad, so a doc_id-derived
    decoration (contraction + digits + punctuation) is appended — same
    fixture pattern as the PII gate — to exercise every alternation
    branch; one codegen projection, zero shuffles (plan-gated)."""
    from .operators.docs import bpe_token_stats

    d = F.col("doc_id")
    injected = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" it's v"),
            d.cast("string"),
            F.lit(".0; end"),
        ).alias("text"),
    )
    return bpe_token_stats(injected)


def _token_rarity_sql(inject: bool = True) -> str:
    """``inject``: append the per-doc hapax decoration (the token_rarity
    gate's fixture twist); the quality_gate oracle reuses this SAME spec
    over the plain corpus (inject=False) — one rarity formulation, two
    consumers."""
    inj = (
        "SELECT doc_id, text || ' uniq' || CAST(doc_id AS VARCHAR) AS text"
        " FROM documents"
        if inject
        else "SELECT doc_id, text FROM documents"
    )
    return f"""
WITH inj AS (
  {inj}
),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM inj WHERE text IS NOT NULL
),
vocab AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1),
per_doc AS (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         SUM(v.freq) AS sum_freq,
         MIN(v.freq) AS min_freq,
         SUM(CASE WHEN v.freq = 1 THEN 1 ELSE 0 END) AS n_hapax
  FROM toks t JOIN vocab v USING (token) GROUP BY 1
)
SELECT d.doc_id,
       CAST(p.n_tokens AS BIGINT) AS n_tokens,
       CAST(p.min_freq AS BIGINT) AS min_freq,
       CAST(p.n_hapax AS BIGINT) AS n_hapax,
       CAST(p.sum_freq * 100 // p.n_tokens AS BIGINT) AS mean_freq_x100
FROM inj d LEFT JOIN per_doc p USING (doc_id)
""".strip()


@gate("token_rarity", oracle=_token_rarity_sql)
def q_token_rarity(spark, sf_dir):
    """Corpus unigram-frequency rarity screen (docs.token_rarity):
    rarest-token frequency, hapax count and integer mean corpus frequency
    per document. The fixture corpus is word salad over a tiny vocabulary
    (no hapaxes at any sf), so a doc_id-derived unique token is appended
    — same injection pattern as the BPE/PII gates — making every document
    carry exactly one hapax and min_freq 1; the oracle restates the
    injection. small_vocab=True: the fixture vocab is tiny, and the
    broadcast path is the 100-TB default for skew reasons (docstring)."""
    from .operators.docs import token_rarity

    injected = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" uniq"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    return token_rarity(injected, small_vocab=True)


QUOTA_CAP = 20


def _source_quota_sql() -> str:
    """DuckDB twin: the SPEC form — one full window rank per source over
    the HUGEINT-restated splitmix64 mark (no prefilter: the oracle defines
    the answer the pruned engine path must reproduce exactly)."""
    return f"""
WITH marked AS (
  SELECT doc_id, source,
         CAST(({so.splitmix64_sql('doc_id')}) % 9223372036854775808 AS BIGINT) AS mark
  FROM documents WHERE doc_id IS NOT NULL
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY mark, doc_id) AS rk
  FROM marked
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS quota_rank
FROM ranked WHERE rk <= {QUOTA_CAP}
""".strip()


@gate("source_quota", oracle=_source_quota_sql)
def q_source_quota(spark, sf_dir):
    """Per-source document quota (docs.source_quota_cap): the cap smallest
    (splitmix64(doc_id), doc_id) pairs per source with their quota rank —
    deterministic domain-rebalancing sample. oversample=1.2 so the
    uniform-mark prefilter is ACTIVE at every fixture scale (sources carry
    25 docs at sf0.01, 250 at sf0.1 — both above cap·oversample=24), i.e.
    the gate exercises the pruned path + exactness argument, not the
    pass-everything degenerate case."""
    from .operators.docs import source_quota_cap

    return source_quota_cap(
        _load(spark, sf_dir, "documents"), QUOTA_CAP, oversample=1.2
    )


@gate("source_quota_deficit", oracle=_source_quota_sql)
def q_source_quota_deficit(spark, sf_dir):
    """The deficit-fallback branch value-proven WHERE IT FIRES (VERDICT
    r4 task 3): oversample=0.6 sets the mark threshold to ~0.6·cap
    expected survivors per source, so most sources come up SHORT of the
    cap after the prefilter and the declarative fallback (semi-join +
    full re-rank of the deficient keys) is the path that actually
    produces their rows — under the normal oversample=4 it fires with
    probability ~1e-19 and had only its construction plan-gated. Same
    spec oracle as source_quota: the result must be EXACTLY the cap
    smallest (mark, id) pairs per source regardless of which branch
    served each key."""
    from .operators.docs import source_quota_cap

    return source_quota_cap(
        _load(spark, sf_dir, "documents"), QUOTA_CAP, oversample=0.6
    )


def _embedding_outliers_sql() -> str:
    """DuckDB twin: deliberately different formulation — explode to
    (vec_id, pos, x) and aggregate per (label, pos), vs the engine's
    per-batch numpy vector sums (no explode)."""
    from .operators.ann import OUTLIER_FACTOR, OUTLIER_OFFSET, OUTLIER_SCALE

    return f"""
WITH q AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(floor(unnest(embedding)::DOUBLE * {OUTLIER_SCALE} + 0.5) AS BIGINT)
           + {OUTLIER_OFFSET} AS qi
  FROM embeddings WHERE embedding IS NOT NULL
),
cm AS (
  SELECT label, pos, CAST(SUM(qi) // COUNT(*) AS BIGINT) AS cmi
  FROM q GROUP BY 1, 2
),
d AS (
  SELECT q.vec_id, q.label,
         CAST(SUM((q.qi - cm.cmi) * (q.qi - cm.cmi)) AS BIGINT) AS dist2
  FROM q JOIN cm USING (label, pos) GROUP BY 1, 2
),
m AS (SELECT label, CAST(SUM(dist2) // COUNT(*) AS BIGINT) AS mean_dist2 FROM d GROUP BY 1)
SELECT d.vec_id, d.label, d.dist2, m.mean_dist2,
       d.dist2 > {OUTLIER_FACTOR} * m.mean_dist2 AS is_outlier
FROM d JOIN m USING (label)
""".strip()


@gate("embedding_outliers", oracle=_embedding_outliers_sql)
def q_embedding_outliers(spark, sf_dir):
    """Per-label centroid-distance label-noise screen (ann.
    label_outlier_stats): integer-grid quantization in two Arrow passes
    (per-task centroid partials merged by one groupBy(label), then
    distances against the broadcast centroids), a broadcast mean lookup —
    every value and the outlier flag bit-reproducible."""
    from .operators.ann import label_outlier_stats

    return label_outlier_stats(_load_fanned(spark, sf_dir, "embeddings"), dim=EMB_DIM)


def _corpus_mix_sql() -> str:
    return """
WITH g AS (
  SELECT lang, source,
         COUNT(*) AS n_docs,
         SUM(COALESCE(len(string_split(text, ' ')), 0)) AS n_tokens,
         SUM(COALESCE(length(text), 0)) AS n_chars
  FROM documents GROUP BY 1, 2
)
SELECT lang, source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_docs * 10000 // SUM(n_docs) OVER () AS BIGINT) AS share_docs_x10000,
       CAST(CASE WHEN SUM(n_tokens) OVER () > 0
                 THEN n_tokens * 10000 // SUM(n_tokens) OVER ()
                 ELSE 0 END AS BIGINT) AS share_tokens_x10000
FROM g
""".strip()


@gate("corpus_mix", oracle=_corpus_mix_sql)
def q_corpus_mix(spark, sf_dir):
    """Training-mixture report (docs.corpus_mix): document/token/char mass
    per language × source with integer shares — one map-side-combined
    aggregate; the share window runs over the |groups|-row aggregate."""
    from .operators.docs import corpus_mix

    return corpus_mix(_load(spark, sf_dir, "documents"))


SPAN_K = 5
SPAN_MIN = 8


def _shared_spans_sql() -> str:
    """DuckDB twin over STRING grams (no hash — the hash is engine-side
    shuffle compression; value parity proves it changed nothing)."""
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(words, i, i + {SPAN_K} - 1), ' ') AS gram
  FROM (
    SELECT doc_id, words, UNNEST(generate_series(1, len(words) - {SPAN_K} + 1)) AS i
    FROM w WHERE len(words) >= {SPAN_K}
  )
),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, a.pos - b.pos AS diag
  FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, diag,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
  FROM hits
),
spans AS (
  SELECT doc_a, doc_b, COUNT(*) AS run FROM runs GROUP BY doc_a, doc_b, diag, isl
)
SELECT doc_a, doc_b,
       CAST(MAX(run) + {SPAN_K} - 1 AS BIGINT) AS max_span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_runs
FROM spans GROUP BY 1, 2
HAVING MAX(run) + {SPAN_K} - 1 >= {SPAN_MIN}
""".strip()


@gate("shared_spans", oracle=_shared_spans_sql)
def q_shared_spans(spark, sf_dir):
    """ExactSubstr shared-span detection (docs.shared_span_pairs):
    positional k-gram equi-join folded into diagonal runs — the longest
    exact shared token span per document pair. k=5 / min_span=8 keeps the
    fixture's planted near-dup overlaps (spans 11-93 tokens) and drops
    the ~dozen chance single-gram matches a 40-word vocabulary produces."""
    from .operators.docs import shared_span_pairs

    return shared_span_pairs(
        _load_fanned(spark, sf_dir, "documents"),
        k=SPAN_K,
        min_span=SPAN_MIN,
        metrics_path=_scratch(sf_dir, "metrics"),
    )


SHARD_TOKENS = 1000


def _token_shards_sql() -> str:
    """DuckDB twin: the SPEC form — one global ordered window (fine at
    fixture scale; the banded engine decomposition must reproduce it)."""
    return f"""
WITH t AS (
  SELECT doc_id, COALESCE(len(string_split(text, ' ')), 0)::BIGINT AS n_tokens
  FROM documents WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(start // {SHARD_TOKENS} AS BIGINT) AS shard_id,
       CAST(start % {SHARD_TOKENS} AS BIGINT) AS offset_in_shard
FROM c
""".strip()


@gate("token_shards", oracle=_token_shards_sql)
def q_token_shards(spark, sf_dir):
    """Fixed-token-budget shard packing (docs.token_shards): global
    exclusive prefix sum in doc_id order via the banded two-level cumsum.
    band=64 so the fixture's 500-5000 ids split across many bands — the
    gate exercises the band-offset + within-band composition, not the
    one-band degenerate case."""
    from .operators.docs import token_shards

    return token_shards(_load(spark, sf_dir, "documents"), SHARD_TOKENS, band=64)


def _span_mask_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(list_slice(words, i, i + {SPAN_K} - 1), ' ') AS gram
  FROM (
    SELECT doc_id, words, UNNEST(generate_series(1, len(words) - {SPAN_K} + 1)) AS i
    FROM w WHERE len(words) >= {SPAN_K}
  )
),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, a.pos - b.pos AS diag
  FROM g a JOIN g b USING (gram) WHERE a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, diag, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl
  FROM hits
),
spans AS (
  SELECT doc_a, doc_b, diag, isl, COUNT(*) AS run, MIN(pa) AS pa0
  FROM runs GROUP BY 1, 2, 3, 4
),
iv AS (
  SELECT doc_b AS doc_id, pa0 - diag AS s, pa0 - diag + run + {SPAN_K} - 2 AS e
  FROM spans WHERE run + {SPAN_K} - 1 >= {SPAN_MIN}
),
m AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS ni
  FROM iv
),
gi AS (
  SELECT doc_id, s, e,
         SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM m
),
mg AS (SELECT doc_id, MAX(e) - MIN(s) + 1 AS len FROM gi GROUP BY doc_id, grp),
pd AS (SELECT doc_id, SUM(len) AS dup, COUNT(*) AS niv FROM mg GROUP BY 1)
SELECT d.doc_id,
       len(string_split(d.text, ' '))::BIGINT AS n_tokens,
       CASE WHEN d.text IS NOT NULL THEN COALESCE(pd.dup, 0)::BIGINT END AS dup_tokens,
       CASE WHEN d.text IS NOT NULL THEN COALESCE(pd.niv, 0)::BIGINT END AS dup_intervals,
       CASE WHEN d.text IS NOT NULL
            THEN (COALESCE(pd.dup, 0) * 10000 // len(string_split(d.text, ' ')))::BIGINT
       END AS dup_frac_x10000
FROM documents d LEFT JOIN pd USING (doc_id)
""".strip()


@gate("span_mask", oracle=_span_mask_sql)
def q_span_mask(spark, sf_dir):
    """ExactSubstr removal mask (docs.dedup_span_mask): merged duplicated
    token intervals per document vs all smaller-id documents — same
    k/min_span as shared_spans so the two gates pin both halves of the
    Lee-et-al pipeline over the same planted overlaps."""
    from .operators.docs import dedup_span_mask

    return dedup_span_mask(
        _load_fanned(spark, sf_dir, "documents"),
        k=SPAN_K,
        min_span=SPAN_MIN,
        metrics_path=_scratch(sf_dir, "metrics"),
    )


def _exact_dedup_stream_sql() -> str:
    """Batch spec the converged stream must equal: the min-event row per
    user (ts is monotone in event_id, so first-in-event-order = min id)."""
    return """
SELECT event_id, ts, user_id FROM (
  SELECT event_id, ts, user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
""".strip()


@gate("exact_dedup_stream", oracle=_exact_dedup_stream_sql)
def q_exact_dedup_stream(spark, sf_dir):
    """TTL-bounded streaming exact dedup (streaming/dedup.
    exact_dedup_stream): the events table replayed in event order as 3
    per-batch-deduplicated micro-batches (min-event row per user per
    batch — batch-unique keys make the value deterministic; the
    cross-batch state is what's under test). TTL 100 days ≫ the corpus
    span, so no eviction fires and the survivors converge to the batch
    spec: the min-event row per user. Eviction/re-admission semantics are
    pinned in tests/test_streaming.py with crafted watermark timelines."""
    from pyspark.sql import Window

    from .streaming.dedup import exact_dedup_stream

    w = Window.partitionBy("user_id").orderBy("event_id")
    batches = _event_order_batches(
        spark,
        sf_dir,
        cols=["event_id", "ts", "user_id"],
        sentinel=False,
        per_batch=lambda b: (
            b.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        ),
    )
    return _replay_stream(
        spark,
        batches,
        "event_id bigint, ts timestamp, user_id bigint",
        lambda stream: exact_dedup_stream(stream, ttl_seconds=100 * 86400),
        "append",
        "event_id bigint, ts timestamp, user_id bigint",
        "oqt_exact_dedup_stream_",
        pin_mtimes=True,
    )


def _shard_manifest_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, COALESCE(len(string_split(text, ' ')), 0)::BIGINT AS n_tokens
  FROM documents WHERE doc_id IS NOT NULL
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t
)
SELECT CAST(start // {SHARD_TOKENS} AS BIGINT) AS shard_id,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_tokens)::BIGINT AS n_tokens,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM c GROUP BY 1
""".strip()


@gate("shard_manifest", oracle=_shard_manifest_sql)
def q_shard_manifest(spark, sf_dir):
    """Per-shard manifest (docs.shard_manifest): the resume/lineage table
    over token_shards — doc/token counts + id bounds per shard."""
    from .operators.docs import shard_manifest

    return shard_manifest(_load(spark, sf_dir, "documents"), SHARD_TOKENS, band=64)


def _quality_gate_sql() -> str:
    """Composes the two EXISTING per-stat oracles as CTEs — the
    repetition formulation (_doc_repetition_sql) and the rarity
    formulation (_token_rarity_sql, uninjected) each exist ONCE; this
    oracle only adds the bitmask, so a spec fix to either stat oracle
    flows into the composite automatically."""
    from .operators.docs import QG_COMMON, QG_GIBBERISH, QG_REPETITIVE, QG_SHORT

    return f"""
WITH rep AS (
  {_doc_repetition_sql()}
),
rar AS (
  {_token_rarity_sql(inject=False)}
),
j AS (
  SELECT rep.doc_id, rep.n_words, rep.dup_word_x10000, rep.top_bigram_x10000,
         rar.n_hapax, rar.mean_freq_x100
  FROM rep JOIN rar USING (doc_id)
),
scored AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words < 20 THEN {QG_SHORT} ELSE 0 END
         + CASE WHEN dup_word_x10000 > 5000 OR top_bigram_x10000 > 1800
                THEN {QG_REPETITIVE} ELSE 0 END
         + CASE WHEN mean_freq_x100 > 91000 THEN {QG_COMMON} ELSE 0 END
         + CASE WHEN n_hapax * 2 > n_words THEN {QG_GIBBERISH} ELSE 0 END AS r
  FROM j WHERE n_words IS NOT NULL
)
SELECT d.doc_id,
       CAST(s.n_words AS BIGINT) AS n_tokens,
       CAST(s.r AS BIGINT) AS reasons,
       s.r = 0 AS keep
FROM documents d LEFT JOIN scored s USING (doc_id)
""".strip()


@gate("quality_gate", oracle=_quality_gate_sql)
def q_quality_gate(spark, sf_dir):
    """Composite Gopher-style keep/drop decision (docs.quality_gate):
    short/repetitive/common/gibberish reason bitmask + keep flag. The
    default thresholds split the fixture corpus on three of the four
    rules (token count 10-99 vs min 20; dup-word fraction 0-7234 vs max
    5000; mean corpus frequency 83k-92.5k vs max 91k); the gibberish
    rule never fires on the hapax-free word-salad corpus and is
    pinned by pytest on synthetic documents instead."""
    from .operators.docs import quality_gate

    return quality_gate(_load(spark, sf_dir, "documents"), small_vocab=True)


QUANTILE_PHIS = (10, 50, 250, 500, 750, 950, 990)  # phi × 1000
# ≥ any per-partition (even single-core local[1]) row count at every
# driver/fixture scale through sf0.1 — with a wide margin, so fixture
# growth or a low-core sweep host cannot silently flip the gate out of
# the exact regime the oracle pins (summaries stay tiny either way)
QUANTILE_K = 65536


def _doc_length_quantiles_sql() -> str:
    phis = ", ".join(f"({p})" for p in QUANTILE_PHIS)
    return f"""
WITH v AS (SELECT length(text)::BIGINT AS val FROM documents WHERE text IS NOT NULL),
n AS (SELECT COUNT(*)::BIGINT AS c FROM v),
ranked AS (SELECT val, row_number() OVER (ORDER BY val) AS rn FROM v),
phis(phi_x1000) AS (VALUES {phis})
SELECT CAST(p.phi_x1000 AS INT) AS phi_x1000, r.val AS q_value
FROM phis p CROSS JOIN n
JOIN ranked r ON r.rn = GREATEST((CAST(p.phi_x1000 AS BIGINT) * n.c + 999) // 1000, 1)
""".strip()


@gate("doc_length_quantiles", oracle=_doc_length_quantiles_sql)
def q_doc_length_quantiles(spark, sf_dir):
    """Document-length quantiles via the deterministic MRL-style weighted
    summary (operators/sketch.quantile_summary): per-partition sort +
    rank-stride collapse in one Arrow stage, sketch-bounded merge + window
    rank query. With k ≥ every partition's row count no collapse fires and
    the reported values are EXACT rank statistics — the regime the DuckDB
    twin pins (rank r = max(1, ceil(phi·n/1000)), identical integer
    formula both sides). The lossy regime's displacement bound is
    property-tested in tests/test_sketch.py."""
    from .operators.sketch import doc_length_quantiles

    return doc_length_quantiles(
        _load(spark, sf_dir, "documents").select("doc_id", "text"),
        phis_x1000=QUANTILE_PHIS,
        k=QUANTILE_K,
    )


def _doc_length_quantiles_by_lang_sql() -> str:
    phis = ", ".join(f"({p})" for p in QUANTILE_PHIS)
    return f"""
WITH v AS (
  SELECT lang, length(text)::BIGINT AS val FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL
),
n AS (SELECT lang, COUNT(*)::BIGINT AS c FROM v GROUP BY lang),
ranked AS (
  SELECT lang, val, row_number() OVER (PARTITION BY lang ORDER BY val) AS rn
  FROM v
),
phis(phi_x1000) AS (VALUES {phis})
SELECT r.lang, CAST(p.phi_x1000 AS INT) AS phi_x1000, r.val AS q_value
FROM phis p
CROSS JOIN n
JOIN ranked r ON r.lang = n.lang
 AND r.rn = GREATEST((CAST(p.phi_x1000 AS BIGINT) * n.c + 999) // 1000, 1)
""".strip()


@gate("doc_length_quantiles_by_lang", oracle=_doc_length_quantiles_by_lang_sql)
def q_doc_length_quantiles_by_lang(spark, sf_dir):
    """Per-language document-length quantiles via the grouped summary
    (operators/sketch.grouped_quantile_summary): each partition collapses
    every language's run independently inside the same single Arrow
    stage; the rank query windows partition BY key, so it parallelizes
    across languages. Same exact-regime contract as the ungrouped gate
    (k ≥ every per-partition per-key run)."""
    from .operators.docs import balanced
    from .operators.sketch import grouped_quantile_summary, grouped_quantile_values

    values = (
        balanced(_load(spark, sf_dir, "documents"))
        .filter(F.col("text").isNotNull())
        .select(
            F.col("lang").alias("key"),
            F.length("text").cast("bigint").alias("val"),
        )
    )
    return grouped_quantile_values(
        grouped_quantile_summary(values, QUANTILE_K), QUANTILE_PHIS
    ).withColumnRenamed("key", "lang")


MG_CAP = 64  # ≥ the 31-word synthetic vocab → the sketch is provably exact
MG_TOPK = 15


def _token_topk_sql() -> str:
    return f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS token
  FROM documents WHERE text IS NOT NULL
),
c AS (SELECT token, COUNT(*) AS est_count FROM toks GROUP BY 1)
SELECT token, CAST(est_count AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS err_bound, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY est_count DESC, token ASC) AS rank
  FROM c
) WHERE rank <= {MG_TOPK}
""".strip()


@gate("token_topk", oracle=_token_topk_sql)
def q_token_topk(spark, sf_dir):
    """Misra-Gries heavy hitters (operators/sketch.mg_token_topk): top-15
    tokens by count via a mergeable cap-64 MG sketch — shuffle volume
    bounded by partitions×cap, independent of corpus AND vocabulary size.
    The oracle pins the exact regime (cap ≥ the 31-word vocab ⇒ the MG
    guarantee forces est=true, err_bound=0); the lossy regime's
    underestimate/error-bound/no-false-negative guarantees are
    property-tested in tests/test_sketch.py."""
    from .operators.sketch import mg_token_topk

    return mg_token_topk(
        _load(spark, sf_dir, "documents").select("doc_id", "text"),
        cap=MG_CAP, topk=MG_TOPK,
    )


BLOOM_M_BITS = 1 << 20
BLOOM_K = 4


def _contaminate_bloom_sql() -> str:
    from .functions.sql_oracle import polyhash64_sql

    m64 = "CAST('18446744073709551616' AS HUGEINT)"
    poly = polyhash64_sql("gram")
    return f"""
WITH tg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(len(string_split(text, ' ')) - 2),
           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS gram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), bh AS (
  SELECT DISTINCT gram FROM tg WHERE doc_id % {DECON_BENCH_MOD} = 0
), bhash AS (
  SELECT ({poly}) AS h1 FROM bh
), bpos AS (
  SELECT DISTINCT (h1 + j.j * ((h2 // 2) * 2 + 1)) % {m64} % {BLOOM_M_BITS} AS pos
  FROM (SELECT h1, {so.splitmix64_sql('h1')} AS h2 FROM bhash)
  CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS j) j
), dh AS (
  SELECT doc_id, ({poly}) AS h1 FROM tg WHERE doc_id % {DECON_BENCH_MOD} <> 0
), dpos AS (
  SELECT doc_id, h1, (h1 + j.j * ((h2 // 2) * 2 + 1)) % {m64} % {BLOOM_M_BITS} AS pos
  FROM (SELECT doc_id, h1, {so.splitmix64_sql('h1')} AS h2 FROM dh)
  CROSS JOIN (SELECT unnest(range({BLOOM_K})) AS j) j
), memb AS (
  SELECT doc_id, h1, BOOL_AND(b.pos IS NOT NULL) AS hit
  FROM dpos d LEFT JOIN bpos b USING (pos)
  GROUP BY 1, 2
), agg AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         COUNT(*) FILTER (WHERE hit) AS bloom_hits
  FROM memb GROUP BY 1
)
SELECT d.doc_id,
  CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(a.n_grams, 0) END AS n_grams,
  CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(a.bloom_hits, 0) END AS bloom_hits,
  CASE WHEN d.text IS NULL THEN NULL
       ELSE COALESCE(a.bloom_hits, 0) >= {DECON_MIN_HITS} END AS contaminated
FROM documents d LEFT JOIN agg a USING (doc_id)
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
""".strip()


@gate("contaminate_bloom", oracle=_contaminate_bloom_sql)
def q_contaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination (operators/bloom.py): the benchmark
    side (every {DECON_BENCH_MOD}th doc) folds into a 2^20-bit sharded
    Bloom bitmap; the training side is probed in ONE shuffle-free Arrow
    pass (count of distinct word 3-grams testing positive, flag at
    ≥ {DECON_MIN_HITS}). No false negatives by construction (pinned vs
    benchmark_overlap in tests/test_bloom.py); false positives are exact
    too — the oracle restates the identical polyhash64/double-hash bit
    set in SQL, so the gate is full-value EQ, not a bound."""
    from .operators import bloom as bl

    docs = _load_fanned(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    bf = bl.collect_bloom(
        bl.bloom_build(bench, n=3, m_bits=BLOOM_M_BITS, k=BLOOM_K)
    )
    train = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return bl.bloom_probe(train, bf, min_hits=DECON_MIN_HITS)


DSIR_BUCKETS = 512


def _dsir_weights_sql() -> str:
    from .functions.sql_oracle import polyhash64_sql

    lam_path = os.path.join(_scratch(_ORACLE_SF_DIR(), "dsir_lambda"), "*.parquet")
    poly = polyhash64_sql("gram")
    return f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(len(string_split(text, ' ')) - 1),
           i -> array_to_string(string_split(text, ' ')[i+1:i+2], ' '))) AS gram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), feats AS (
  SELECT doc_id, CAST(({poly}) % {DSIR_BUCKETS} AS BIGINT) AS bucket,
         COUNT(*) AS c
  FROM g GROUP BY 1, 2
), rc AS (
  SELECT bucket,
         SUM(c) FILTER (WHERE doc_id % {DECON_BENCH_MOD} = 0) AS t_cnt,
         SUM(c) FILTER (WHERE doc_id % {DECON_BENCH_MOD} <> 0) AS r_cnt
  FROM feats GROUP BY 1
), lam AS (
  -- committed artifact, admitted only where its counts match the
  -- re-derived ones: a wrong distributed aggregation drops rows and
  -- fails the value compare
  SELECT l.bucket, l.lambda_x
  FROM read_parquet('{lam_path}') l
  LEFT JOIN rc ON rc.bucket = l.bucket
  WHERE l.t_cnt = COALESCE(rc.t_cnt, 0) AND l.r_cnt = COALESCE(rc.r_cnt, 0)
), w AS (
  SELECT f.doc_id, CAST(SUM(f.c) AS BIGINT) AS n_feats,
         CAST(SUM(f.c * l.lambda_x) AS BIGINT) AS weight_x
  FROM feats f JOIN lam l USING (bucket)
  WHERE f.doc_id % {DECON_BENCH_MOD} <> 0
  GROUP BY 1
)
SELECT d.doc_id,
  CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(w.n_feats, 0) END AS n_feats,
  CASE WHEN d.text IS NULL THEN NULL ELSE COALESCE(w.weight_x, 0) END AS weight_x
FROM documents d LEFT JOIN w USING (doc_id)
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
""".strip()


@gate("dsir_weights", oracle=_dsir_weights_sql)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py): hashed-bigram bucket
    log-likelihood-ratio weights of every raw doc vs the synthetic target
    set (every {DECON_BENCH_MOD}th doc). Integer-exact: λ·2^20 from the
    committed B-row artifact, weight = Σ c_b·λ_int (int64). The oracle
    re-derives every bucket count from raw text, verifies the committed
    (t_cnt, r_cnt) per bucket, and recomputes the dot product; the
    B-element glibc log table is pytest-pinned (tests/test_dsir.py)."""
    from .operators import dsir as ds

    docs = _load_fanned(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("doc_id") % DECON_BENCH_MOD == 0
    )
    return ds.dsir_weights(
        docs,
        n=2,
        n_buckets=DSIR_BUCKETS,
        lambda_path=_scratch(sf_dir, "dsir_lambda"),
    )


