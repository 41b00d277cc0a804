"""token_shards pins: independent single-pass python prefix-sum reference,
band-width invariance (the decomposition must not affect the answer),
boundary straddling, negative-id monotonicity of trunc-banding. Value
parity vs DuckDB over the fixture corpus is gated by tools/gates.py --check
(`token_shards`)."""

import pytest

from osmquadtree_spark.operators.docs import token_shards


def _reference(rows, shard):
    out, start = {}, 0
    for doc_id, text in sorted((r for r in rows if r[0] is not None)):
        n = len(text.split(" ")) if text is not None else 0
        out[doc_id] = (n, start // shard, start % shard)
        start += n
    return out


def _run(spark, rows, shard, band):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return {
        r["doc_id"]: (r["n_tokens"], r["shard_id"], r["offset_in_shard"])
        for r in token_shards(df, shard, band=band).collect()
    }


ROWS = [(i, "w " * (i % 7) + "end") for i in range(200)] + [(200, None)]


def test_shards_match_reference(spark):
    assert _run(spark, ROWS, shard=50, band=16) == _reference(ROWS, 50)


def test_shards_band_invariance(spark):
    # band is a physical decomposition knob, never semantics
    a = _run(spark, ROWS, shard=37, band=8)
    b = _run(spark, ROWS, shard=37, band=1 << 20)
    assert a == b == _reference(ROWS, 37)


def test_shards_straddle_boundary(spark):
    rows = [(0, "a b c d e"), (1, "f g h i j"), (2, "k")]
    got = _run(spark, rows, shard=7, band=2)
    assert got[0] == (5, 0, 0)
    assert got[1] == (5, 0, 5)   # starts in shard 0, straddles into 1
    assert got[2] == (1, 1, 3)   # 10 // 7 = 1, 10 % 7 = 3


def test_shards_negative_ids(spark):
    rows = [(-15, "a b"), (-3, "c"), (0, "d e f"), (9, "g")]
    assert _run(spark, rows, shard=4, band=10) == _reference(rows, 4)


def test_shards_validation_and_empty(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        token_shards(df, 0)
    assert token_shards(df, 10).collect() == []


# --------------------------------------------------------------------------
# shard_manifest (sweep gate `shard_manifest` carries value parity)

from osmquadtree_spark.operators.docs import shard_manifest  # noqa: E402


def test_manifest_conserves_totals_and_bounds(spark):
    df = spark.createDataFrame(ROWS, "doc_id bigint, text string")
    man = {
        r["shard_id"]: (r["n_docs"], r["n_tokens"], r["min_doc"], r["max_doc"])
        for r in shard_manifest(df, 50, band=16).collect()
    }
    ref = _reference(ROWS, 50)
    # totals conserve
    assert sum(v[0] for v in man.values()) == len(ref)
    assert sum(v[1] for v in man.values()) == sum(v[0] for v in ref.values())
    # per-shard membership matches the assignment spec; id ranges disjoint
    for sid, (n_docs, n_tok, lo, hi) in man.items():
        members = [d for d, (n, s, _) in ref.items() if s == sid]
        assert (len(members), min(members), max(members)) == (n_docs, lo, hi)
    ranges = sorted((v[2], v[3]) for v in man.values())
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
