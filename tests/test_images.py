"""Image payload invariants (north rule): codec round-trips, PSNR ≥ 40 dB
for lossy, caption byte-equality after the full tiling pipeline, and the
deterministic footprint → cell assignment vs the scalar oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_spark.commit import is_committed
from osmquadtree_spark.kernels import quadtree as qtk
from osmquadtree_spark.operators.images import decode_stats, resize, verify_roundtrip, with_footprint
from osmquadtree_spark.operators.sortblocks import compute_groups, write_tile_sorted
from osmquadtree_spark.sources import images as img


def test_codec_roundtrips():
    for i in range(0, 48):
        row = img.image_row(i)
        pix = img.pixels_for(int(row["phash"]), int(row["w"]), int(row["h"]))
        got = img.decode_image(row["fmt"], row["bytes"])
        assert got.shape == (row["h"], row["w"], 3)
        if img.CODECS[row["fmt"]][2]:  # lossless
            assert np.array_equal(pix, got), (i, row["fmt"])
        else:
            p = img.psnr(pix, got)
            assert p >= 40.0, (i, row["fmt"], p)


def test_png_is_real_png():
    row = img.image_row(0)  # fmt cycle: png first
    assert row["fmt"] == "png"
    assert row["bytes"][:8] == b"\x89PNG\r\n\x1a\n"


def test_images_df_encodes_only_when_bytes_read(spark):
    """The metadata and the payload are two UDFs of the row index that run
    in one Python pass, so a plan that never reads ``bytes`` runs no
    encoder; the rows are image_row's."""
    df = img.images_df(spark, 24, partitions=3)

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    assert "encode(" not in plan(df.select("image_id", "phash", "w", "h"))
    assert "encode(" in plan(df)
    assert plan(df).count("ArrowEvalPython") == 1
    for r in df.collect():
        want = img.image_row(int(r["image_id"][3:]))
        assert list(r.asDict()) == list(want)
        assert {**r.asDict(), "bytes": bytes(r["bytes"])} == want


def test_footprint_matches_scalar_oracle():
    n = 512
    idx = np.arange(n)
    phash = np.int64(np.uint64(img.splitmix64(idx.astype(np.uint64))))
    w = np.array([img._W_CYCLE[i % 4] for i in idx], dtype=np.int32)
    h = np.array([img._H_CYCLE[(i // 4) % 4] for i in idx], dtype=np.int32)
    minx, miny, maxx, maxy = img.footprints(phash, w, h, idx)
    qts = qtk.calculate(minx, miny, maxx, maxy)
    for i in range(0, n, 17):
        assert qts[i] == qtk.calculate_scalar(
            int(minx[i]), int(miny[i]), int(maxx[i]), int(maxy[i])
        )
    # even rows are points, odd rows boxes
    assert (minx[::2] == maxx[::2]).all()
    assert (maxx[1::2] >= minx[1::2]).all()


def test_full_tiling_roundtrip(spark, tmp_path):
    """Generate distributed → footprint+cell → tile-split → tile-sorted write
    → read back → every pixel/caption invariant holds and tile metrics match."""
    n = 600
    df = with_footprint(img.images_df(spark, n, partitions=8))
    gqt, _, gweight = compute_groups(df, "qt", target=50, minsize=25, tree_level=15, rollup=True)
    path = str(tmp_path / "tiled")
    manifest = write_tile_sorted(
        df, path, gqt, qt_col="qt", sort_cols=["image_id"], num_partitions=8
    )
    assert manifest["rows"] == n
    assert is_committed(path)

    back = spark.read.parquet(f"{path}/data")
    assert back.count() == n
    # group counts conserved and equal to the greedy algorithm's weights
    got = {r["group_qt"]: r["cnt"] for r in back.groupBy("group_qt").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    want = dict(zip(gqt.tolist(), gweight.tolist()))
    assert got == {k: v for k, v in want.items() if v > 0}

    # per-row invariants after the round trip
    ver = verify_roundtrip(back).toPandas()
    assert len(ver) == n
    assert ver["caption_ok"].all()
    lossless = ver[ver["fmt"] != "jpeg"]
    lossy = ver[ver["fmt"] == "jpeg"]
    assert lossless["exact"].all()
    assert (lossy["psnr"] >= 40.0).all()

    # metrics table carries per-tile lineage (row counts, min/max cell)
    metrics = spark.read.parquet(f"{path}/_metrics").toPandas()
    assert metrics["row_count"].sum() == n
    for _, m in metrics.iterrows():
        assert qtk.is_ancestor(np.int64(m.group_qt), np.int64(m.min_cell)) or m.group_qt == 0
        assert qtk.is_ancestor(np.int64(m.group_qt), np.int64(m.max_cell)) or m.group_qt == 0


def test_decode_stats_and_resize(spark):
    df = img.images_df(spark, 60, partitions=4)
    stats = decode_stats(df).toPandas()
    assert stats["decode_ok"].all()
    assert (stats["pix_max"] <= 255).all() and (stats["pix_min"] >= 0).all()

    small = resize(df, 8, 8).toPandas()
    assert len(small) == 60
    for _, r in small.iterrows():
        pix = img.decode_image(r["fmt"], bytes(r["bytes"]))
        assert pix.shape == (8, 8, 3)


def test_phash_near_dup_planted_and_complete(spark):
    """phash_near_dup recovers every planted 're-encoded upload' variant
    pair and, on a brute-force numpy oracle over the whole catalog,
    matches the exact hamming ≤ 3 pair set (pigeonhole completeness and
    soundness at once)."""
    from itertools import combinations

    from osmquadtree_spark.operators.images import phash_near_dup

    n = 400
    cat = img.phash_catalog(spark, n, partitions=4)
    rows = {r.img_idx: r.phash for r in cat.collect()}
    # planted variants present with the documented id scheme
    assert all(-1 - i in rows for i in range(n) if i % 7 == 3)
    assert all(-1_000_000_001 - i in rows for i in range(n) if i % 11 == 5)
    got = sorted(
        (r.img_a, r.img_b, r.hamming)
        for r in phash_near_dup(cat, max_hamming=3).collect()
    )
    ids = sorted(rows)
    want = sorted(
        (a, b, h)
        for a, b in combinations(ids, 2)
        for h in [bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1")]
        if h <= 3
    )
    assert got == want
    # every 1-bit planted pair is in the result
    for i in range(n):
        if i % 7 == 3:
            a, b = sorted((i, -1 - i))
            assert (a, b, 1) in got


def test_phash_near_dup_wider_hamming_blocks(spark):
    """max_hamming=7 → 8 blocks of 8 bits; still exact vs brute force
    (uneven-width block split path)."""
    from itertools import combinations

    from osmquadtree_spark.operators.images import phash_near_dup

    cat = img.phash_catalog(spark, 150, partitions=2)
    rows = {r.img_idx: r.phash for r in cat.collect()}
    got = sorted(
        (r.img_a, r.img_b, r.hamming)
        for r in phash_near_dup(cat, max_hamming=7).collect()
    )
    want = sorted(
        (a, b, h)
        for a, b in combinations(sorted(rows), 2)
        for h in [bin((rows[a] ^ rows[b]) & ((1 << 64) - 1)).count("1")]
        if h <= 7
    )
    assert got == want


def test_decode_stats_survives_zero_size_image(spark):
    """A payload that decodes to a zero-size array must emit
    decode_ok=False for that row, not kill the task (regression: .min()
    raised AFTER .sum() had appended, desynchronizing the batch columns)."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "image_id": ["bad", "good"],
            "bytes": [b"P6\n0 0\n255\n", img.CODECS["ppm"][0](img.pixels_for(7, 4, 4))],
            "w": np.asarray([0, 4], dtype=np.int32),
            "h": np.asarray([0, 4], dtype=np.int32),
            "fmt": ["ppm", "ppm"],
        }
    )
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r.image_id: r for r in decode_stats(df).collect()}
    assert got["good"].decode_ok
    assert not got["bad"].decode_ok or got["bad"].pix_sum == 0  # no crash is the gate
