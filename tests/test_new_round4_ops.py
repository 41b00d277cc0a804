"""Pins for the round-4 late additions: geohash encode, tile pyramid,
repetition stats, SQ8 quantized ANN. Each operator's value parity vs DuckDB
is gated by tools/gates.py --check; these tests pin the semantics against
INDEPENDENT formulations (textbook bit-loop geohash, brute-force python
mode, numpy quantizer) and the edge cases the sweep's fixed data can miss.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_spark.operators.ann import sq8_quantize, sq8_scales, sq8_topk
from osmquadtree_spark.operators.docs import repetition_stats
from osmquadtree_spark.operators.spatial import geohash_encode, tile_pyramid

# --------------------------------------------------------------------------
# geohash


def _geohash_reference(lon_deg: float, lat_deg: float, precision: int) -> str:
    """Textbook bisection geohash (public algorithm, geohash.org) — written
    independently of the engine's Morton-spread formulation."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lon_lo, lon_hi = -180.0, 180.0
    lat_lo, lat_hi = -90.0, 90.0
    bits = []
    lon_turn = True
    while len(bits) < precision * 5:
        if lon_turn:
            mid = (lon_lo + lon_hi) / 2
            if lon_deg >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat_deg >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        lon_turn = not lon_turn
    out = []
    for i in range(precision):
        v = 0
        for b in bits[5 * i : 5 * i + 5]:
            v = v * 2 + b
        out.append(alphabet[v])
    return "".join(out)


def test_geohash_matches_textbook_bisection(spark):
    rng = np.random.default_rng(7)
    lons = rng.integers(-1_800_000_000, 1_800_000_000, 200)
    lats = rng.integers(-900_000_000, 900_000_000, 200)
    df = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, (x, y) in enumerate(zip(lons, lats))],
        "elem_id bigint, lon bigint, lat bigint",
    )
    got = {
        r["elem_id"]: r["geohash"]
        for r in geohash_encode(df, "lon", "lat", precision=8).collect()
    }
    for i, (x, y) in enumerate(zip(lons, lats)):
        # the engine quantizes the fixed-point int directly; the bisection
        # reference sees the same exact value as a float (1e-7 grid floats
        # are exact enough: 20 bits per axis needs ~1e-4° resolution)
        want = _geohash_reference(x * 1e-7, y * 1e-7, 8)
        assert got[i] == want, (i, x, y, got[i], want)


def test_geohash_published_literal(spark):
    # canonical example: 57.64911°N 10.40744°E → "u4pruydqqvj8..." (public)
    df = spark.createDataFrame(
        [(1, 104_074_400, 576_491_100)], "elem_id bigint, lon bigint, lat bigint"
    )
    r = geohash_encode(df, "lon", "lat", precision=8).first()
    assert r["geohash"] == "u4pruydq"


def test_geohash_precision_validation(spark):
    df = spark.createDataFrame([(1, 0, 0)], "elem_id bigint, lon bigint, lat bigint")
    with pytest.raises(ValueError):
        geohash_encode(df, "lon", "lat", precision=7)
    # precision 4 truncation == prefix of precision 8 (geohash hierarchy)
    g4 = geohash_encode(df, "lon", "lat", precision=4).first()["geohash"]
    g8 = geohash_encode(df, "lon", "lat", precision=8).first()["geohash"]
    assert g8.startswith(g4)


# --------------------------------------------------------------------------
# tile pyramid


def test_tile_pyramid_invariants(spark):
    rng = np.random.default_rng(3)
    rows = [
        (int(x), int(y), int(c))
        for x, y, c in zip(
            rng.integers(0, 256, 300), rng.integers(0, 256, 300), rng.integers(1, 50, 300)
        )
    ]
    leaf = (
        spark.createDataFrame(rows, "tile_x bigint, tile_y bigint, cnt bigint")
        .groupBy("tile_x", "tile_y")
        .agg(F.sum("cnt").alias("cnt"))
    )
    total = leaf.agg(F.sum("cnt")).first()[0]
    pyr = tile_pyramid(leaf, max_zoom=8).collect()
    by_zoom = {}
    for r in pyr:
        by_zoom.setdefault(r["zoom"], {})[(r["tile_x"], r["tile_y"])] = r["cnt"]
    assert set(by_zoom) == set(range(9))
    # every zoom conserves mass; zoom 0 is the single root tile
    for z, cells in by_zoom.items():
        assert sum(cells.values()) == total, z
    assert by_zoom[0] == {(0, 0): total}
    # each parent equals the sum of its (up to 4) children
    for z in range(8):
        for (x, y), c in by_zoom[z].items():
            kids = sum(
                by_zoom[z + 1].get((2 * x + dx, 2 * y + dy), 0)
                for dx in (0, 1)
                for dy in (0, 1)
            )
            assert kids == c, (z, x, y)


# --------------------------------------------------------------------------
# repetition stats


def test_repetition_stats_pins(spark):
    rows = [
        (1, "a b a b a"),          # bigrams: a b, b a, a b, b a → tie, 'a b' wins
        (2, "x x x x"),            # 'x x' ×3 of 3 bigrams
        (3, "solo"),               # no bigram
        (4, None),                 # NULL text
        (5, "p q r"),              # all distinct
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}

    assert got[1]["n_words"] == 5 and got[1]["n_distinct"] == 2
    assert got[1]["dup_word_x10000"] == 3 * 10000 // 5
    assert got[1]["top_bigram"] == "a b" and got[1]["top_bigram_cnt"] == 2
    assert got[1]["top_bigram_x10000"] == 2 * 10000 // 4

    assert got[2]["top_bigram"] == "x x" and got[2]["top_bigram_cnt"] == 3
    assert got[2]["dup_word_x10000"] == 7500

    assert got[3]["n_words"] == 1 and got[3]["top_bigram"] is None
    assert got[3]["top_bigram_cnt"] == 0 and got[3]["top_bigram_x10000"] == 0

    assert all(got[4][k] is None for k in got[4] if k != "doc_id")

    assert got[5]["dup_word_x10000"] == 0 and got[5]["top_bigram_cnt"] == 1
    # tie among 'p q'/'q r' → lexicographically smallest
    assert got[5]["top_bigram"] == "p q"


def test_repetition_stats_matches_python_mode(spark):
    rng = np.random.default_rng(11)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = []
    for i in range(60):
        n = int(rng.integers(2, 12))
        rows.append((i, " ".join(vocab[j] for j in rng.integers(0, 4, n))))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    for i, text in rows:
        words = text.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(words, words[1:])]
        counts = {}
        for b in bgs:
            counts[b] = counts.get(b, 0) + 1
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        assert got[i]["top_bigram"] == best[0], (i, text)
        assert got[i]["top_bigram_cnt"] == best[1]
        assert got[i]["n_distinct"] == len(set(words))


# --------------------------------------------------------------------------
# SQ8 quantized ANN


def test_sq8_quantize_matches_numpy(spark):
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    vecs[:, 3] = 0.0  # a dead dimension → scale 0 → code 0
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    scales = sq8_scales(df, dim=8)
    want_scales = np.abs(vecs).max(axis=0).astype(np.float64)
    assert np.array_equal(np.asarray(scales), want_scales)
    got = {r["vec_id"]: r["codes"] for r in sq8_quantize(df, scales).collect()}
    for i, row in enumerate(vecs):
        want = [
            0 if s == 0 else int(np.floor(np.float64(x) * 127.0 / s + 0.5))
            for x, s in zip(row, want_scales)
        ]
        assert got[i] == want, i
        assert all(-127 <= c <= 127 for c in got[i])


def test_sq8_topk_agrees_with_exact_on_separated_data(spark):
    # clustered data: quantization noise (<1%) cannot reorder neighbors
    # across clusters, so SQ8 top-k per query = its own cluster's members
    rng = np.random.default_rng(9)
    centers = np.eye(4, 16) * 10.0
    rows, qrows = [], []
    for i in range(80):
        c = i % 4
        v = centers[c] + rng.standard_normal(16) * 0.01
        rows.append((i, [float(x) for x in v]))
    for qid in range(4):
        qrows.append((qid, [float(x) for x in centers[qid]]))
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    qs = spark.createDataFrame(qrows, "query_id bigint, embedding array<float>")
    got = sq8_topk(vecs, qs, k=10, dim=16).collect()
    assert len(got) == 40
    for r in got:
        assert r["vec_id"] % 4 == r["query_id"], r


def test_round4_late_ops_on_empty(spark):
    docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert repetition_stats(docs).count() == 0
    leaf = spark.createDataFrame([], "tile_x bigint, tile_y bigint, cnt bigint")
    assert tile_pyramid(leaf, 8).count() == 0
    pts = spark.createDataFrame([], "elem_id bigint, lon bigint, lat bigint")
    assert geohash_encode(pts, "lon", "lat").count() == 0
    emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    scales = sq8_scales(emb, dim=4)
    assert scales == [0.0] * 4  # max over empty is NULL → zero-dim rule
    q = spark.createDataFrame([], "query_id bigint, embedding array<float>")
    assert sq8_topk(emb, q, k=5, dim=4).count() == 0
