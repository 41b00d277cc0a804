"""Tile-sorted layout + resumable pipeline tests (north rule: lineage
metrics per (partition, tile); killed job resumes from the last committed
stage with identical output)."""

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osmquadtree_spark.pipeline import run_image_tiling
from osmquadtree_spark.sources.images import images_df

N_IMAGES = 600
TARGET, MINSIZE = 60, 30


def _run(spark, tmp, **kw):
    imgs = images_df(spark, N_IMAGES, partitions=8)
    return run_image_tiling(
        spark, imgs, tmp, target=TARGET, minsize=MINSIZE, rollup=True, **kw
    )


def _tiles(spark, tmp):
    return (
        spark.read.parquet(os.path.join(tmp, "tiles", "data"))
        .select("image_id", "qt", "group_qt")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )


def test_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "full")
    m = _run(spark, out)
    assert m["tiles"]["rows"] == N_IMAGES
    assert m["tiles"]["tiles"] >= 2  # actually split into multiple tiles
    df = _tiles(spark, out)
    # every row's cell is inside its group tile's subtree (find_tile contract)
    groups = pd.read_parquet(os.path.join(out, "groups", "groups.parquet"))
    gset = set(groups["group_qt"].astype(np.int64))
    assert set(df["group_qt"].astype(np.int64)) <= gset
    # committed stage tables are zstd Parquet
    for stage in ("qts", "tiles"):
        data = os.path.join(out, stage, "data")
        codecs = {
            pq.ParquetFile(os.path.join(data, f)).metadata.row_group(0).column(0).compression
            for f in os.listdir(data)
            if f.endswith(".parquet")
        }
        assert codecs == {"ZSTD"}, stage


def test_lineage_metrics_cover_all_rows(spark, tmp_path):
    out = str(tmp_path / "lineage")
    _run(spark, out)
    metrics = spark.read.parquet(os.path.join(out, "tiles", "_metrics")).toPandas()
    data = spark.read.parquet(os.path.join(out, "tiles", "data")).toPandas()
    assert metrics["row_count"].sum() == N_IMAGES
    # lineage rows agree with the data per (partition, tile)
    chk = (
        data.groupby(["_part_id", "group_qt"])["qt"]
        .agg(["count", "min", "max"])
        .reset_index()
    )
    merged = metrics.merge(chk, on=["_part_id", "group_qt"])
    assert len(merged) == len(metrics) == len(chk)
    assert (merged["row_count"] == merged["count"]).all()
    assert (merged["min_cell"] == merged["min"]).all()
    assert (merged["max_cell"] == merged["max"]).all()


def test_rows_sorted_within_partitions(spark, tmp_path):
    out = str(tmp_path / "sorted")
    _run(spark, out)
    data = spark.read.parquet(os.path.join(out, "tiles", "data")).toPandas()
    for _, part in data.groupby("_part_id"):
        keys = list(zip(part["group_qt"], part["image_id"]))
        assert keys == sorted(keys)


def test_resume(spark, tmp_path):
    out_kill = str(tmp_path / "killed")
    out_full = str(tmp_path / "fresh")

    # "killed" job: commits only stage qts, then dies
    m1 = _run(spark, out_kill, stop_after="qts")
    assert set(m1) == {"qts"}
    assert not os.path.exists(os.path.join(out_kill, "tiles", "_manifest.json"))
    qts_manifest = os.path.join(out_kill, "qts", "_manifest.json")
    mtime_before = os.path.getmtime(qts_manifest)

    # resume with the input (the tile stage reads it again) — must restart
    # from the committed checkpoint
    m2 = run_image_tiling(
        spark, images_df(spark, N_IMAGES, partitions=8), out_kill,
        target=TARGET, minsize=MINSIZE, rollup=True,
    )
    assert os.path.getmtime(qts_manifest) == mtime_before  # stage not recomputed
    assert m2["tiles"]["rows"] == N_IMAGES

    # resumed output is identical to an uninterrupted run
    _run(spark, out_full)
    a, b = _tiles(spark, out_kill), _tiles(spark, out_full)
    pd.testing.assert_frame_equal(a, b)


def test_resume_without_checkpoint_fails(spark, tmp_path):
    with pytest.raises(ValueError):
        run_image_tiling(spark, None, str(tmp_path / "missing"))


def test_resume_without_input_before_tiles_fails(spark, tmp_path):
    out = str(tmp_path / "qts_only")
    _run(spark, out, stop_after="qts")
    with pytest.raises(ValueError, match="'tiles'"):
        run_image_tiling(spark, None, out, target=TARGET, minsize=MINSIZE)
    assert not os.path.exists(os.path.join(out, "groups", "_manifest.json"))


def _drop_one_row(imgs):
    return imgs.filter(F.col("image_id") != "img000000000007")


def _swap_one_phash(imgs):
    return imgs.withColumn(
        "phash",
        F.when(F.col("image_id") == "img000000000007", F.lit(12345)).otherwise(F.col("phash")),
    )


@pytest.mark.parametrize("change", [_drop_one_row, _swap_one_phash])
def test_source_change_between_stages_raises(spark, tmp_path, change):
    """The tile stage reads the input again; a resume over an input that
    lost a row or re-celled one must not commit a tile table that
    disagrees with the committed qts and groups."""
    out = str(tmp_path / "changed")
    _run(spark, out, stop_after="groups")
    changed = change(images_df(spark, N_IMAGES, partitions=8))
    with pytest.raises(RuntimeError, match="fingerprint|rows"):
        run_image_tiling(spark, changed, out, target=TARGET, minsize=MINSIZE)
    assert not os.path.exists(os.path.join(out, "tiles", "_manifest.json"))


def _tile_files(path):
    """Every row of a committed tile table, file by file in row order."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return pd.concat(
        [pd.read_parquet(os.path.join(path, f)) for f in files], ignore_index=True
    )


@pytest.mark.parametrize("parts", ["below_groups", "above_groups"])
def test_pipeline_tiles_equal_library_path(spark, tmp_path, parts):
    """The pipeline's fused tile pass (footprint, cell, group and partition
    from the source in one Arrow pass) commits the table the library path
    write_tile_sorted(with_footprint(images)) commits: same tile per row,
    same rows in the same order in every partition."""
    from osmquadtree_spark.operators.images import with_footprint
    from osmquadtree_spark.operators.sortblocks import write_tile_sorted

    out = str(tmp_path / "pipe")
    _run(spark, out, stop_after="groups")
    gqt = pd.read_parquet(os.path.join(out, "groups", "groups.parquet"))["group_qt"]
    gqt = gqt.to_numpy("int64")
    n_parts = {"below_groups": len(gqt) // 3, "above_groups": 2 * len(gqt) + 1}[parts]
    _run(spark, out, num_partitions=n_parts)
    lib = str(tmp_path / "lib")
    write_tile_sorted(
        with_footprint(images_df(spark, N_IMAGES, partitions=8)), lib, gqt,
        sort_cols=["image_id"], num_partitions=n_parts,
    )
    cols = ["image_id", "minx", "miny", "maxx", "maxy", "qt", "group_qt", "_part_id"]
    a = _tile_files(os.path.join(out, "tiles", "data"))
    b = _tile_files(os.path.join(lib, "data"))
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) == N_IMAGES
    by_id = [t[cols].sort_values("image_id", ignore_index=True) for t in (a, b)]
    pd.testing.assert_frame_equal(*by_id)
    order_a, order_b = (t.groupby("_part_id")["image_id"].agg(list).to_dict() for t in (a, b))
    assert order_a == order_b


@pytest.fixture(scope="module")
def parquet_images(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("images") / "src")
    images_df(spark, N_IMAGES, partitions=8).write.parquet(src)
    return src


def _write_plans(monkeypatch, module) -> list:
    """Physical plans of the frames ``module`` passes to write_observed."""
    plans = []
    write = module.write_observed

    def spy(df, path, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, path, *a, **kw)

    monkeypatch.setattr(module, "write_observed", spy)
    return plans


def _read_columns(plan: str) -> list[set]:
    import re

    return [
        {f.split(":")[0] for f in cols.split(",")}
        for cols in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    ]


def test_stage_plans_prune_qts_and_fuse_tiles(spark, tmp_path, monkeypatch, parquet_images):
    """Stage qts writes (image_id, qt), so its source scan is pruned to the
    four columns the cell needs (no payload or caption is read); the tile
    stage reads the whole row and places it in ONE Arrow pass."""
    from osmquadtree_spark import pipeline
    from osmquadtree_spark.operators import sortblocks

    qts_plans = _write_plans(monkeypatch, pipeline)
    tile_plans = _write_plans(monkeypatch, sortblocks)
    m = run_image_tiling(
        spark, spark.read.parquet(parquet_images), str(tmp_path / "out"),
        target=TARGET, minsize=MINSIZE,
    )
    assert [f["name"] for f in m["qts"]["schema"]["fields"]] == ["image_id", "qt"]
    (qts_plan,), (tile_plan,) = qts_plans, tile_plans
    assert _read_columns(qts_plan) == [{"image_id", "phash", "w", "h"}], qts_plan
    assert _read_columns(tile_plan) == [
        {"image_id", "bytes", "w", "h", "fmt", "caption", "phash"}
    ], tile_plan
    assert tile_plan.count("ArrowEvalPython") == 1, tile_plan


def test_pipeline_job_count(spark, tmp_path, parquet_images):
    """A fresh run takes at most 8 Spark jobs (the qts write, the
    histogram collect, the tile write and its lineage aggregate, with
    their map stages): reading the source again in the tile stage adds
    no job."""
    import uuid

    imgs = spark.read.parquet(parquet_images)
    sc = spark.sparkContext
    group = f"tile-pipeline-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "run_image_tiling job-count guard")
    try:
        run_image_tiling(
            spark, imgs, str(tmp_path / "out"), target=TARGET, minsize=MINSIZE, rollup=True
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8


def test_compute_groups_scalable_matches_dense(spark):
    """The output-bounded rollup grouping (Spark-side survivor aggregate)
    must produce the identical group table as the dense-histogram path with
    rollup=True — on skewed element cells at several split sizes."""
    from osmquadtree_spark.kernels import quadtree as qtk
    from osmquadtree_spark.operators.sortblocks import (
        compute_groups,
        compute_groups_scalable,
    )

    rng = np.random.default_rng(909)
    n = 50000
    lon = rng.integers(-1800000000, 1800000000, n)
    lat = rng.integers(-850000000, 850000000, n)
    k = n // 3
    lon[:k] = rng.integers(-1000000, 1000000, k)
    lat[:k] = rng.integers(514000000, 516000000, k)
    qts = qtk.calculate(lon, lat, lon, lat, 0.05, 17)
    df = spark.createDataFrame(pd.DataFrame({"qt": qts}))
    for target, minsize in ((1000, 500), (100, 50)):
        dense = compute_groups(df, "qt", target, minsize, 15, rollup=True)
        scal = compute_groups_scalable(df, "qt", target, minsize, 15)
        for a, b in zip(dense, scal):
            assert np.array_equal(a, b)


@pytest.mark.parametrize(
    "case",
    ["parts_below_groups", "parts_above_groups", "root_only", "default", "default_few_groups"],
)
def test_tile_layout_places_whole_tiles_in_dfs_order(spark, tmp_path, case):
    """The group table is the partitioner: whatever the partition count,
    every tile lands in exactly one partition (one file), partitions
    follow DFS tile order, and the committed lineage equals the data.
    Without ``num_partitions`` the tiles spread over the session's shuffle
    partitions (8 here), one partition per tile when there are fewer."""
    from pyspark.sql import functions as F

    from osmquadtree_spark.operators.images import with_footprint
    from osmquadtree_spark.operators.sortblocks import compute_groups, write_tile_sorted

    imgs = with_footprint(images_df(spark, N_IMAGES, partitions=8))
    target, minsize = (200, 100) if case == "default_few_groups" else (TARGET, MINSIZE)
    gqt, _, _ = compute_groups(imgs, "qt", target, minsize, 15, rollup=True)
    assert len(gqt) >= 4
    gqt, parts = {
        "parts_below_groups": (gqt, len(gqt) // 3),
        "parts_above_groups": (gqt, 2 * len(gqt) + 1),
        "root_only": (np.zeros(1, np.int64), 4),
        "default": (gqt, None),
        "default_few_groups": (gqt, None),
    }[case]
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle == 8
    if parts is None:
        assert (len(gqt) > shuffle) == (case == "default")
    n_parts = parts or shuffle
    path = str(tmp_path / case)
    man = write_tile_sorted(imgs, path, gqt, sort_cols=["image_id"], num_partitions=parts)
    data = (
        spark.read.parquet(os.path.join(path, "data"))
        .select("group_qt", "qt", "_part_id", F.col("_metadata.file_path").alias("file"))
        .toPandas()
    )
    assert len(data) == man["rows"] == N_IMAGES
    assert data["_part_id"].between(0, n_parts - 1).all()
    assert data["_part_id"].nunique() == data["file"].nunique() == min(n_parts, len(gqt))
    assert (data.groupby("group_qt")["_part_id"].nunique() == 1).all()
    assert (data.groupby("file")["_part_id"].nunique() == 1).all()
    assert (data.groupby("_part_id")["file"].nunique() == 1).all()
    per_tile = data.groupby("group_qt")["_part_id"].first().sort_index()
    assert per_tile.is_monotonic_increasing
    if n_parts >= len(gqt):
        assert (data.groupby("_part_id")["group_qt"].nunique() == 1).all()
    lineage = pd.read_parquet(os.path.join(path, "_metrics"))
    want = (
        data.groupby(["_part_id", "group_qt"])["qt"]
        .agg(row_count="count", min_cell="min", max_cell="max")
        .reset_index()
    )
    got = lineage.sort_values(["_part_id", "group_qt"], ignore_index=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert man["tiles"] == data["group_qt"].nunique()
    assert man["groups"] == len(gqt)


def test_write_tile_sorted_job_count(spark, tmp_path):
    """The tile commit is the write (map stage + write) plus one lineage
    aggregate (map stage + collect): a range-sampling pass, a footer
    inference or a read-back count would each add jobs here."""
    import uuid

    from osmquadtree_spark.operators.images import with_footprint
    from osmquadtree_spark.operators.sortblocks import compute_groups, write_tile_sorted

    src = str(tmp_path / "src")
    with_footprint(images_df(spark, N_IMAGES, partitions=8)).write.parquet(src)
    imgs = spark.read.parquet(src)
    gqt, _, _ = compute_groups(imgs, "qt", TARGET, MINSIZE, 15, rollup=True)
    sc = spark.sparkContext
    group = f"tile-commit-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "write_tile_sorted job-count guard")
    try:
        write_tile_sorted(imgs, str(tmp_path / "tiles"), gqt, sort_cols=["image_id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
