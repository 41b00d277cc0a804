"""New-engine spatial ops: kNN (cell expansion vs brute force), raster↔vector
join coverage, LSH ANN recall vs exact cosine top-k, sortblocks resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_spark.commit import is_committed
from osmquadtree_spark.kernels import quadtree as qtk
from osmquadtree_spark.operators.ann import cosine_topk, lsh_topk
from osmquadtree_spark.operators.sortblocks import (
    compute_groups,
    write_tile_sorted,
)
from osmquadtree_spark.operators.spatial import (
    knn_bruteforce,
    knn_cell_expansion,
    raster_vector_join,
)


def _points_df(spark, n=5000, seed=3):
    rng = np.random.default_rng(seed)
    lon = rng.integers(-1800000000, 1800000000, n)
    lat = rng.integers(-850000000, 850000000, n)
    qt = qtk.calculate(lon, lat, lon, lat)
    return spark.createDataFrame(
        list(zip(range(n), lon.tolist(), lat.tolist(), qt.tolist())),
        "point_id bigint, lon bigint, lat bigint, qt bigint",
    )


def test_knn_cell_expansion_matches_bruteforce(spark):
    pts = _points_df(spark)
    queries = spark.createDataFrame(
        [(1, 0, 515000000), (2, -1200000000, -230000000), (3, 1395000000, 356000000),
         (4, 1799000000, 840000000)],
        "query_id bigint, lon bigint, lat bigint",
    )
    bf = {(r.query_id, r.point_id, r.rank) for r in knn_bruteforce(pts, queries, 5).collect()}
    ce = {(r.query_id, r.point_id, r.rank) for r in knn_cell_expansion(
        pts, queries, 5, zoom=6, max_rounds=2).collect()}
    # cell expansion is exact here because unresolved queries fall back to
    # brute force and resolved rings at this density cover the k-th neighbor
    assert ce == bf


def test_raster_vector_join_covers_all_elements(spark):
    pts = _points_df(spark, 2000)
    zoom = 4
    # raster side: every tile at zoom 4 (16x16 grid)
    tiles = [(x, y, float(x * 16 + y)) for x in range(16) for y in range(16)]
    rasters = spark.createDataFrame(tiles, "tile_x bigint, tile_y bigint, payload double")
    joined = raster_vector_join(pts.filter(F.col("qt") >= 0), rasters, zoom)
    deep = pts.filter(F.expr(f"qt >= 0 AND (qt & 31) >= {zoom}"))
    assert joined.count() == deep.count()  # full cover → every deep element hits
    # salted variant returns the same multiset
    salted = raster_vector_join(pts.filter(F.col("qt") >= 0), rasters, zoom, salt=4)
    assert salted.count() == joined.count()
    a = {(r.point_id, r.tile_x, r.tile_y) for r in joined.select("point_id", "tile_x", "tile_y").collect()}
    b = {(r.point_id, r.tile_x, r.tile_y) for r in salted.select("point_id", "tile_x", "tile_y").collect()}
    assert a == b


def test_lsh_recall_vs_exact(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, 10).collect()}
    # 64-dim random embeddings: shallow buckets (4 planes) across many tables
    # give a large-enough candidate union for decent recall at 500 vectors
    approx = {(r.query_id, r.vec_id) for r in lsh_topk(emb, queries, 10, n_tables=8, n_planes=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # bucketed candidates; recall tunable via tables/planes
    # commit the measured recall through the run-metrics surface — the
    # test-scale leg of the recall story (production runs commit the
    # candidate_pairs proxy; see osmquadtree_spark/metrics.py)
    from osmquadtree_spark import metrics

    metrics.discard_pending()
    mpath = str(tmp_path / "metrics")
    metrics.register_literal(
        mpath, "ann_lsh_topk", "recall_x1000_vs_exact", int(recall * 1000), spark
    )
    assert metrics.commit_pending()["bases"] == 1
    got = metrics.read_metrics(spark, mpath).collect()
    assert got[0].metric == "recall_x1000_vs_exact" and got[0].value >= 500


def test_sortblocks_resume(spark, tmp_path):
    """A completed stage is recognized by its commit marker; an interrupted
    stage (no marker) is not — the resume contract of the lineage/metrics
    design."""
    pts = _points_df(spark, 3000)
    gqt, _, _ = compute_groups(pts, "qt", target=200, minsize=100, rollup=True)
    path = str(tmp_path / "stage1")
    assert not is_committed(path)
    write_tile_sorted(pts, path, gqt, qt_col="qt", sort_cols=["point_id"])
    assert is_committed(path)
    # a resumed run can skip the stage and read the committed output
    back = spark.read.parquet(f"{path}/data")
    assert back.count() == 3000
    metrics = spark.read.parquet(f"{path}/_metrics")
    assert metrics.agg(F.sum("row_count")).first()[0] == 3000
    # rows are tile-clustered: within each partition file group_qt is sorted
    pdf = back.select("group_qt", "point_id").toPandas()
    assert set(pdf["group_qt"].unique()) <= set(gqt.tolist()) | {0}


def test_ivf_recall_vs_exact_and_determinism(spark, sf_dir):
    """IVF-Flat: probing half the centroid lists recovers most exact
    neighbors; probing ALL lists IS brute force (recall 1.0 — every vector
    is a candidate); the codebook is a deterministic function of the data,
    not of partitioning."""
    from osmquadtree_spark.operators.ann import ivf_topk, train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, 10).collect()}

    C = train_centroids(emb, n_centroids=16)
    C2 = train_centroids(emb.repartition(7), n_centroids=16)
    assert (C == C2).all()  # partitioning-independent codebook

    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, 10, nprobe=8, centroids=C).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5

    full = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, 10, nprobe=16, centroids=C).collect()
    }
    assert full == exact


def test_knn_exact_at_high_latitude_ring_edges(spark):
    """Adversarial fixture for the ring bound: dense polar cluster with
    points seeded just outside candidate rings at high latitude, where the
    old sin²(min_cos·Δλ/2) east/west bound overestimated the separation
    (sin concavity) and could resolve a query while a closer point sat
    outside the ring. The sound bound must keep cell expansion ≡ brute
    force everywhere."""
    rng = np.random.default_rng(11)
    n = 4000
    lon = rng.integers(-1800000000, 1800000000, n)
    lat = rng.integers(600000000, 850000000, n)  # 60°..85°N — high distortion
    qt = qtk.calculate(lon, lat, lon, lat)
    pts = spark.createDataFrame(
        list(zip(range(n), lon.tolist(), lat.tolist(), qt.tolist())),
        "point_id bigint, lon bigint, lat bigint, qt bigint",
    )
    queries = spark.createDataFrame(
        [(1, 0, 800000000), (2, 1700000000, 700000000), (3, -1750000000, 840000000),
         (4, 900000000, 620000000)],
        "query_id bigint, lon bigint, lat bigint",
    )
    bf = {(r.query_id, r.point_id, r.rank) for r in knn_bruteforce(pts, queries, 7).collect()}
    ce = {(r.query_id, r.point_id, r.rank)
          for r in knn_cell_expansion(pts, queries, 7, max_rounds=3).collect()}
    assert ce == bf


def test_raster_join_matches_shallow_elements(spark):
    """An element whose cell is SHALLOWER than the raster zoom (bbox spans
    several tiles) must match every raster tile inside its cell, not vanish
    from the equi-join."""
    zoom = 4
    n = 1 << zoom
    rasters = (
        spark.range(0, n * n)
        .select((F.col("id") % n).alias("tile_x"), (F.col("id") / n).cast("bigint").alias("tile_y"))
    )
    deep = int(qtk.calculate(np.array([10]), np.array([10]), np.array([11]), np.array([11]))[0])
    shallow = int(qtk.round_qt(np.array([deep], dtype=np.int64), 2)[0])
    assert (shallow & 31) == 2 < zoom
    elems = spark.createDataFrame(
        [(1, deep), (2, shallow)], "elem_id bigint, qt bigint"
    )
    out = raster_vector_join(elems, rasters, zoom).select("elem_id", "tile_x", "tile_y")
    per = {r.elem_id for r in out.collect()}
    counts = out.groupBy("elem_id").count().collect()
    by = {r.elem_id: r["count"] for r in counts}
    assert by[1] == 1                      # depth ≥ zoom: exactly its tile
    assert by[2] == 4 ** (zoom - 2)        # depth-2 cell contains 16 zoom-4 tiles
    assert per == {1, 2}


def test_neighbor_ring_offsets_partition_the_square():
    """Ring ∪ inner square == full square, disjointly — for plain and
    x-wrapping geometries. The expansion rounds rely on this: interior
    candidates are carried, never re-scored, and no cell is probed twice."""
    from osmquadtree_spark.operators.spatial import neighbor_square_offsets

    for n, inner, outer in [(256, 1, 2), (256, 2, 4), (256, 4, 8), (8, 2, 4), (8, 3, 6)]:
        full = set(neighbor_square_offsets(outer, n))
        inner_sq = set(neighbor_square_offsets(inner, n))
        ring = set(neighbor_square_offsets(outer, n, inner))
        # wrapped offsets label the same torus cell differently between the
        # inner and outer enumerations — compare as torus cells per query
        def cells(offs):
            return {(dx % n, dy) for dx, dy in offs}

        assert cells(ring) | cells(inner_sq) == cells(full)
        assert not (cells(ring) & cells(inner_sq))
        assert len(cells(ring)) == len(cells(full)) - len(cells(inner_sq))


def test_knn_round_stats_show_ring_only_growth(spark, sf_dir):
    """The per-round candidate log (r3 verdict #4): round ≥ 2 explodes only
    the new ring — cells_per_query must be (2r+1)²−(2r'+1)², not (2r+1)²."""
    from osmquadtree_spark.operators.spatial import knn_cell_expansion
    from osmquadtree_spark import queries as Q
    from osmquadtree_spark.functions.udfs import make_qt_calculate

    qt_calc = make_qt_calculate()
    pts = (
        Q._elements(spark, sf_dir)
        .filter(~F.col("is_box"))
        .select(
            F.col("elem_id").alias("point_id"),
            F.col("minx").alias("lon"),
            F.col("miny").alias("lat"),
            qt_calc("minx", "miny", "minx", "miny").alias("qt"),
        )
    )
    q = spark.createDataFrame(
        [(1, 1200000000, 400000000), (2, -900000000, -200000000)],
        "query_id bigint, lon bigint, lat bigint",
    )
    stats = []
    out = knn_cell_expansion(pts, q, 5, round_stats=stats)
    assert out.count() == 10
    assert stats[0]["cells_per_query"] == 9  # 3×3 first probe
    for s in stats[1:]:
        r, r2 = s["radius"], s["radius"] // 2
        assert s["cells_per_query"] == (2 * r + 1) ** 2 - (2 * r2 + 1) ** 2
