"""New-engine spatial operators beyond the reference: XYZ raster tiles,
raster↔vector joins on cell ids, kNN via cell-neighborhood expansion.

The reference has no raster ops or kNN (SURVEY.md §2.3) — these are the
north-rule additions. They reuse the same cell algebra: the reference's
(x, y, z) tile tuple (quadtree.cpp:161-177) IS the slippy-map XYZ scheme in
the scale-90 mercator, so ``round(qt, z) ↔ from_tuple(x, y, z)`` converts
between the engine's primary cell ids and raster tile addresses for free.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql.functions import pandas_udf

from ..cache import stage_checkpoint
from ..functions.udfs import round_qt_col
from ..kernels import quadtree as qtk


def make_xyz_udf(zoom: int):
    """pandas UDF: qt → struct(tile_x, tile_y) at ``zoom`` (round + tuple)."""

    @pandas_udf("tile_x bigint, tile_y bigint")
    def qt_to_xyz(qt: pd.Series) -> pd.DataFrame:
        rounded = qtk.round_qt(qt.to_numpy("int64"), zoom)
        x, y, _ = qtk.tuple_arr(rounded)
        return pd.DataFrame({"tile_x": x, "tile_y": y})

    return qt_to_xyz


def raster_vector_join(
    elements: DataFrame,
    rasters: DataFrame,
    zoom: int,
    qt_col: str = "qt",
    salt: int | None = None,
) -> DataFrame:
    """Join vector elements to raster tiles covering them.

    ``rasters`` has (tile_x, tile_y) at ``zoom`` (+payload columns). The
    element side derives its tile address as a pure JVM expression (rounding
    is bit ops; x/y interleave handled by joining on the rounded cell id
    computed from the raster side instead — one from_tuple on the small
    side beats per-row tuple extraction on the big side).

    Strategy: rasters → cell id via from_tuple (driver/small side), then
    broadcast equi-join on round(qt, zoom). For skewed tiles pass ``salt``
    to split hot cells across ``salt`` sub-keys (explicit skew handling per
    the north rule; AQE handles the residual).

    Elements SHALLOWER than ``zoom`` (a bbox spanning several tiles keeps
    a short cell id) match every raster tile inside their cell: the small
    raster side emits its ancestor id at each depth 0..zoom ((zoom+1)×
    replication of the broadcast side — trivial), and a depth-d element's
    own id equals exactly the ancestor@d rows of the tiles it contains.
    Without this the equi-join silently dropped shallow elements (their
    short id can never equal a depth-``zoom`` cell).
    """
    @pandas_udf("bigint")
    def xyz_to_qt(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            qtk.from_tuple_arr(
                x.to_numpy("int64"), y.to_numpy("int64"), np.full(len(x), zoom, dtype=np.int64)
            )
        )

    r = (
        rasters.withColumn("_c", xyz_to_qt("tile_x", "tile_y"))
        .withColumn(
            "cell",
            F.explode(F.array([round_qt_col(F.col("_c"), d) for d in range(zoom + 1)])),
        )
        .drop("_c")
    )
    e = elements.withColumn("cell", round_qt_col(F.col(qt_col), zoom))
    if salt:
        # replicate each raster row salt× and scatter elements across salts
        r = r.withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(salt)])))
        e = e.withColumn("_salt", (F.pmod(F.xxhash64(qt_col), F.lit(salt))).cast("int"))
        keys = ["cell", "_salt"]
    else:
        keys = ["cell"]
    out = e.join(F.broadcast(r), keys)
    return out.drop("_salt") if salt else out


def _chord_dist_col():
    """Squared half-chord distance (the haversine ``a`` term) between the
    (plat, plon) and (qlat, qlon) radian columns — monotone in great-circle
    distance, so top-k sets match a haversine oracle. ONE definition shared
    by the brute-force baseline and the cell-expansion path (they union
    into a single result set and must score identically)."""
    return F.pow(F.sin((F.col("plat") - F.col("qlat")) / 2), 2) + F.cos(
        "plat"
    ) * F.cos("qlat") * F.pow(F.sin((F.col("plon") - F.col("qlon")) / 2), 2)


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "point_id",
    qid_col: str = "query_id",
) -> DataFrame:
    """Exact kNN baseline: broadcast the (small) query set, squared
    equirectangular-scaled distance entirely in JVM expressions, window
    top-k. Deterministic tie-break on (dist, point_id).

    points: (point_id, lon, lat) fixed-point; queries: (query_id, lon, lat).
    Returns (query_id, point_id, rank). Distance = squared great-circle
    chord approximation on the unit sphere — monotone in true haversine
    distance, so the top-k set matches a haversine oracle.
    """
    p = points.select(
        F.col(id_col),
        F.radians(F.col("lon") * 1e-7).alias("plon"),
        F.radians(F.col("lat") * 1e-7).alias("plat"),
    )
    q = queries.select(
        F.col(qid_col),
        F.radians(F.col("lon") * 1e-7).alias("qlon"),
        F.radians(F.col("lat") * 1e-7).alias("qlat"),
    )
    # squared chord distance: monotone transform of haversine
    joined = p.crossJoin(F.broadcast(q)).withColumn(
        "dist",
        _chord_dist_col(),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "rank")
    )


def neighbor_square_offsets(radius: int, n: int, inner: int = 0) -> list:
    """(dx, dy) offsets of the radius-``radius`` Chebyshev square on an
    x-wrapping grid of ``n`` tiles per axis, excluding (when ``inner`` > 0)
    every cell already covered by the radius-``inner`` square — the
    expansion rounds' delta ring. Wrap is measured on the torus in x, so a
    planet-wrapping square emits each wrapped x exactly once and the
    inner exclusion matches what the inner square actually covered."""
    if 2 * radius + 1 >= n:
        dxs = list(range(-(n // 2), -(n // 2) + n))
    else:
        dxs = list(range(-radius, radius + 1))
    inner_wraps_x = 2 * inner + 1 >= n
    out = []
    for dx in dxs:
        torus_dx = min(dx % n, (-dx) % n)
        covered_x = inner_wraps_x or torus_dx <= inner
        for dy in range(-radius, radius + 1):
            if inner and covered_x and abs(dy) <= inner:
                continue
            out.append((dx, dy))
    return out


def neighbor_cells(
    unresolved: DataFrame, radius: int, n: int, inner: int = 0
) -> DataFrame:
    """Explode each query row (qx, qy) into the CELL KEYS (px, py) of its
    radius-``radius`` square neighborhood at a zoom with ``n`` tiles per
    axis. x wraps at the antimeridian; the offset ranges are computed in
    Python so a planet-wrapping ring emits each wrapped x exactly once — a
    bare pmod over -r..r would duplicate candidate cells and corrupt the
    top-k. y rows off the planet are dropped.

    ``inner`` > 0 emits only the NEW ring cells outside the radius-
    ``inner`` square (expansion rounds carry the inner square's scored
    top-k instead of re-scoring the interior). The ring path enumerates
    (dx, dy) pairs as literals — fine for the O(r·Δr) ring sizes of the
    doubling schedule; the full square stays a 1-D dx-explode × dy-range
    (a pair enumeration would be O(n·r) literals when the square wraps)."""
    if inner > 0:
        offsets = neighbor_square_offsets(radius, n, inner)
        d = F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in offsets
                ]
            )
        )
        return (
            unresolved.withColumn("_d", d)
            .withColumn("px", F.pmod(F.col("qx") + F.col("_d.dx"), F.lit(n)))
            .withColumn("py", F.col("qy") + F.col("_d.dy"))
            .drop("_d")
            .filter((F.col("py") >= 0) & (F.col("py") < n))
        )
    if 2 * radius + 1 >= n:
        dxs = list(range(-(n // 2), -(n // 2) + n))
    else:
        dxs = list(range(-radius, radius + 1))
    return (
        unresolved.withColumn(
            "px",
            F.explode(F.array([F.pmod(F.col("qx") + F.lit(d), F.lit(n)) for d in dxs])),
        )
        .withColumn(
            "py", F.explode(F.sequence(F.col("qy") - radius, F.col("qy") + radius))
        )
        .filter((F.col("py") >= 0) & (F.col("py") < n))
    )


def candidate_cell_join(p: DataFrame, cells: DataFrame) -> DataFrame:
    """Equi-join points to exploded query cells on (px, py) — hash join,
    never a nested-loop ring predicate (tests/test_plans gates the shape)."""
    return p.join(F.broadcast(cells), ["px", "py"])


def knn_cell_expansion(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    zoom: int = 8,
    id_col: str = "point_id",
    qid_col: str = "query_id",
    max_rounds: int = 4,
    round_stats: list | None = None,
) -> DataFrame:
    """Scale-path kNN: per query, probe a growing square neighborhood of
    level-``zoom`` cells around the query's cell (x wraps at the
    antimeridian), score exactly, and accept only when the k-th hit is
    *provably* closer than anything outside the searched ring (conservative
    spherical lower bound on the ring boundary — mercator distortion makes a
    bare count check unsound near the poles). Unresolved queries after
    ``max_rounds`` doublings fall back to brute force.

    The candidate join is a true EQUI-join: each unresolved query explodes
    into its neighborhood's (px, py) cell keys and hash-joins against the
    point table — prunable, AQE-friendly, broadcastable — versus the
    brute-force cross join (or a ring-predicate nested loop, which would
    re-scan every point per round); at 10^12 points only this shape is
    viable. Per-round state (the surviving query set, the accepted top-k
    rows — both ≤ |queries|·k) is eagerly localCheckpoint-ed so the heavy
    per-round candidate caches are dropped as soon as the round closes
    instead of accumulating across a long session (blocks are
    executor-local: on a cluster, a lost executor fails the job rather
    than silently recomputing — acceptable for a ≤ max_rounds pipeline).
    """
    xyz = make_xyz_udf(zoom)
    qt_point = make_qt_point_udf(zoom)
    n = 1 << zoom
    # cached for the (eager) round jobs only and dropped before returning:
    # every round equi-joins against p, and re-deriving tile addresses per
    # round would rescan the source each time. At planet scale the point
    # table is the engine's stored qt-indexed table, so this cache stands in
    # for what is otherwise a plain indexed read.
    p = (
        points.withColumn("_t", xyz(F.col("qt")))
        .select(
            id_col,
            F.radians(F.col("lon") * 1e-7).alias("plon"),
            F.radians(F.col("lat") * 1e-7).alias("plat"),
            F.col("_t.tile_x").alias("px"),
            F.col("_t.tile_y").alias("py"),
        )
        .persist()
    )

    def _lat_of_row(y):
        """Latitude (deg) of the top edge of tile row ``y`` as a Column —
        scale-90 inverse mercator of 1 - y·2^(1-zoom)
        (kernels.quadtree.latitude_un_mercator)."""
        my = F.lit(1.0) - y * F.lit(2.0 ** (1 - zoom))
        return (
            F.atan(F.exp(my * F.lit(math.pi))) * F.lit(4.0 / math.pi) - F.lit(1.0)
        ) * F.lit(90.0)

    def _ring_bound_chord(radius: int):
        """Lower bound (squared-half-chord units) on the distance from the
        query to anything OUTSIDE the searched ring, as a pure JVM
        expression over the query columns (qx, qy, qlon_deg, qlat_deg) —
        the per-query driver loop this replaces doesn't survive a query
        SET that is itself a table.

        Each edge contributes its own CHORD-unit bound and the minimum is
        taken in chord units. The east/west term is
        min_cos(band)·cos(φq)·sin²(Δλ_edge/2) — the true cross term of the
        half-chord metric with cos φp bounded below over the band. (The
        earlier form sin²(min_cos·Δλ/2) was NOT a lower bound: concavity
        gives sin(c·t) ≥ c·sin(t), so it overestimated the separation and
        could resolve a query while a closer point sat just outside the
        ring.) sin²(gap/2) is 360°-periodic, so the unwrapped edge gap is
        automatically wrap-correct for rings near the antimeridian."""
        qx, qy = F.col("qx"), F.col("qy")
        qlon_deg, qlat_deg = F.col("qlon_deg"), F.col("qlat_deg")
        y0 = F.greatest(qy - radius, F.lit(0))
        y1 = F.least(qy + radius + 1, F.lit(n))
        lat_top, lat_bot = _lat_of_row(y0), _lat_of_row(y1)

        def chord(deg):
            return F.pow(F.sin(F.radians(deg) / 2), 2)

        # north/south edges: pure latitude gaps — sin²(Δφ/2) is an exact
        # lower bound (the cross term of the metric is non-negative)
        north = F.when(qy - radius >= 0, chord(F.abs(lat_top - qlat_deg)))
        south = F.when(qy + radius + 1 <= n, chord(F.abs(qlat_deg - lat_bot)))
        parts = [north, south]
        # east/west edges (absent when the ring wraps the planet)
        if 2 * radius + 1 < n:
            min_cos = F.least(F.cos(F.radians(lat_top)), F.cos(F.radians(lat_bot)))
            lon_w = F.lit(-180.0) + (qx - radius) * F.lit(360.0 / n)
            lon_e = F.lit(-180.0) + (qx + radius + 1) * F.lit(360.0 / n)
            gap = F.least(F.abs(qlon_deg - lon_w), F.abs(lon_e - qlon_deg))
            parts.append(min_cos * F.cos(F.radians(qlat_deg)) * chord(gap))
        # least() skips NULLs; all-NULL (ring covers the planet) → +inf
        return F.coalesce(F.least(*parts), F.lit(float("inf")))

    # per-query state lives in a DataFrame across rounds: one topk+bound job
    # per radius ROUND (constant ≤ max_rounds jobs however many queries),
    # resolved queries leave via an anti-join — no driver-side per-query
    # loop, no re-planned job per query
    unresolved = queries.withColumn("_t", xyz(qt_point(F.col("lon"), F.col("lat")))).select(
        qid_col,
        "lon",
        "lat",
        F.radians(F.col("lon") * 1e-7).alias("qlon"),
        F.radians(F.col("lat") * 1e-7).alias("qlat"),
        (F.col("lon") * 1e-7).alias("qlon_deg"),
        (F.col("lat") * 1e-7).alias("qlat_deg"),
        F.col("_t.tile_x").alias("qx"),
        F.col("_t.tile_y").alias("qy"),
    )
    unresolved = stage_checkpoint(unresolved, eager=True)
    results = None
    carried = None  # unresolved queries' scored top-k from prior rounds
    radius, prev_radius = 1, 0
    for _ in range(max_rounds):
        n_unresolved = unresolved.count()  # tiny checkpointed frame
        if n_unresolved == 0:
            break
        # ring-only expansion (round ≥ 2): score ONLY the cells outside the
        # previously searched square and pool with the carried top-k — the
        # full-square re-explode re-scored every interior candidate each
        # round, quadrupling candidate volume per doubling (r3 verdict #4)
        cells = neighbor_cells(unresolved, radius, n, inner=prev_radius)
        if round_stats is not None:
            round_stats.append(
                {
                    "radius": radius,
                    "unresolved": n_unresolved,
                    "cells_per_query": len(
                        neighbor_square_offsets(radius, n, prev_radius)
                    ),
                }
            )
        scored = candidate_cell_join(p, cells).withColumn(
            "dist",
            _chord_dist_col(),
        )
        pool = (
            scored if carried is None else scored.unionByName(carried.select(*scored.columns))
        )
        w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
        topk = (
            pool.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .persist()
        )
        resolved_q = (
            topk.groupBy(qid_col, "qx", "qy", "qlon_deg", "qlat_deg")
            .agg(F.count(F.lit(1)).alias("_cnt"), F.max("dist").alias("_kth"))
            .filter((F.col("_cnt") >= k) & (F.col("_kth") <= _ring_bound_chord(radius)))
            .select(qid_col)
        )
        got = stage_checkpoint(
            topk.join(resolved_q, qid_col, "left_semi").select(
                qid_col, id_col, "rank"
            ),
            eager=True,
        )
        results = got if results is None else results.unionByName(got)
        unresolved = stage_checkpoint(
            unresolved.join(resolved_q, qid_col, "left_anti"), eager=True
        )
        # carry survivors' already-scored top-k into the next round (≤ k
        # rows per unresolved query — the interior never re-scores)
        carried = stage_checkpoint(
            topk.join(resolved_q, qid_col, "left_anti").drop("rank"), eager=True
        )
        topk.unpersist()
        prev_radius, radius = radius, radius * 2
    p.unpersist()  # round jobs were eager; nothing returned still reads p
    if not unresolved.isEmpty():
        fallback = knn_bruteforce(
            points, unresolved.select(qid_col, "lon", "lat"), k, id_col, qid_col
        )
        results = fallback if results is None else results.unionByName(fallback)
    return results


def make_qt_point_udf(max_depth: int):
    @pandas_udf("bigint")
    def qt_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
        v = lon.to_numpy("int64")
        w = lat.to_numpy("int64")
        return pd.Series(qtk.calculate(v, w, v, w, max_depth=max_depth))

    return qt_point


def geohash_encode(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    precision: int = 8,
    out_col: str = "geohash",
) -> DataFrame:
    """Geohash cell ids (public algorithm) from 1e-7 fixed-point lon/lat.

    Third index family next to quadtree (kernels/quadtree.py) and S2/hex
    (kernels/s2.py, kernels/hexlite.py): base-32 interleave of binary axis
    subdivisions. Pure JVM bit arithmetic — the Morton spread runs as a
    chain of projected columns (Catalyst collapses them into one
    whole-stage-codegen projection), so the scan stays UDF-free and the
    expression never hits the textual 2^5 blowup of inlining each step.
    Shares its step expressions verbatim with the DuckDB oracle
    (functions/sql_oracle.geohash_steps) — only integer division differs
    by dialect. Scale: per-row map, no shuffle; prefix-aggregating the
    result (geohash truncation = ancestor cell) is an ordinary groupBy.
    """
    from ..functions.sql_oracle import geohash_steps

    cur = df
    steps = geohash_steps(lon_col, lat_col, precision, intdiv="DIV")
    for name, expr in steps:
        cur = cur.withColumn(name, F.expr(expr))
    drop = [name for name, _ in steps if name != "geohash"]
    return cur.drop(*drop).withColumnRenamed("geohash", out_col)


def tile_pyramid(
    tiles: DataFrame,
    max_zoom: int,
    x_col: str = "tile_x",
    y_col: str = "tile_y",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Roll a leaf-zoom tile histogram up to every ancestor zoom 0..max_zoom.

    The standard raster-pyramid build: parent tile at zoom z-1 is
    (x >> 1, y >> 1). Input must already be aggregated at ``max_zoom``
    (the big shuffle happened there, bounded by 4^max_zoom output cells);
    this rollup explodes each leaf row into max_zoom+1 ancestor rows and
    re-aggregates — the second shuffle moves only (zoom+1) × n_leaf_cells
    pre-aggregated rows, independent of input row count, so it costs the
    same at 10^12 inputs as at 10^6. Mirrors the reference's tree
    accumulation of tile weights (qttree.cpp tree_rollup) as a flat
    DataFrame aggregation.
    """
    z = F.explode(F.sequence(F.lit(0), F.lit(max_zoom))).alias("zoom")
    e = tiles.select(F.col(x_col), F.col(y_col), F.col(cnt_col).alias("_n"), z)
    return (
        e.groupBy(
            "zoom",
            F.expr(f"{x_col} >> ({max_zoom} - zoom)").alias(x_col),
            F.expr(f"{y_col} >> ({max_zoom} - zoom)").alias(y_col),
        )
        .agg(F.sum("_n").cast("bigint").alias(cnt_col))
    )
