"""Bloom-filter decontamination (operators/bloom.py): no-false-negative
guarantee vs the exact benchmark_overlap operator, OR-mergeability, NULL
and degenerate-input semantics, and the bounded-bitmap invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtree_spark.operators import bloom as bl
from osmquadtree_spark.operators.docs import benchmark_overlap

M_BITS = 1 << 16
K = 4


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "the quick brown fox jumps over a sleeping cat"),  # overlaps 1
        (4, "completely unrelated text about spark shuffles here"),
        (5, None),
        (6, "short doc"),  # < 3 words -> no grams
        (7, "pack my box with five dozen liquor jugs exactly"),  # overlaps 2
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _probe(spark, corpus, bench_pred, train_pred, min_hits=1):
    bench = corpus.filter(bench_pred)
    bf = bl.collect_bloom(bl.bloom_build(bench, n=3, m_bits=M_BITS, k=K))
    assert (bf.n, bf.k, bf.m_bits) == (3, K, M_BITS)
    return bl.bloom_probe(corpus.filter(train_pred), bf, min_hits=min_hits)


def test_no_false_negatives(spark, corpus):
    bench_pred = F.col("doc_id").isin(1, 2)
    train_pred = ~F.col("doc_id").isin(1, 2)
    got = {
        r["doc_id"]: r
        for r in _probe(spark, corpus, bench_pred, train_pred).collect()
    }
    exact = benchmark_overlap(
        corpus.filter(train_pred),
        corpus.filter(bench_pred).select(
            F.col("doc_id").alias("bench_id"), "text"
        ),
        n=3,
        min_hits=1,
    ).collect()
    # every doc the exact operator flags must be bloom-contaminated, and
    # its bloom hit count must be >= the exact hit count (bits never miss)
    by_doc = {}
    for r in exact:
        by_doc[r["doc_id"]] = max(by_doc.get(r["doc_id"], 0), r["hits"])
    assert by_doc, "fixture must produce contamination"
    for doc_id, hits in by_doc.items():
        assert got[doc_id]["contaminated"], doc_id
        assert got[doc_id]["bloom_hits"] >= hits


def test_null_and_short_docs(spark, corpus):
    got = {
        r["doc_id"]: r
        for r in _probe(
            spark, corpus, F.col("doc_id") == 1, F.col("doc_id").isin(5, 6)
        ).collect()
    }
    assert got[5]["n_grams"] is None
    assert got[5]["bloom_hits"] is None
    assert got[5]["contaminated"] is None
    assert got[6]["n_grams"] == 0
    assert got[6]["bloom_hits"] == 0
    assert got[6]["contaminated"] is False


def test_mergeability(spark, corpus):
    whole = bl.bloom_build(
        corpus.filter(F.col("doc_id").isin(1, 2, 4)), n=3, m_bits=M_BITS, k=K
    )
    a = bl.bloom_build(corpus.filter(F.col("doc_id").isin(1, 2)), n=3, m_bits=M_BITS, k=K)
    b = bl.bloom_build(corpus.filter(F.col("doc_id") == 4), n=3, m_bits=M_BITS, k=K)
    merged = bl.bloom_or(a, b)
    np.testing.assert_array_equal(
        bl.collect_bloom(whole).bitmap, bl.collect_bloom(merged).bitmap
    )


def test_empty_bench_flags_nothing(spark, corpus):
    got = _probe(
        spark, corpus, F.lit(False), F.col("doc_id").isin(1, 3), min_hits=1
    ).collect()
    assert len(got) == 2
    assert all(not r["contaminated"] for r in got)
    assert all(r["bloom_hits"] == 0 for r in got)


def test_empty_probe_side(spark, corpus):
    got = _probe(spark, corpus, F.col("doc_id") == 1, F.lit(False)).collect()
    assert got == []


def test_build_params_survive_zero_row_collect(spark, corpus):
    """ADVICE r4: a build whose shard table collects to ZERO rows (a
    zero-partition bench emits no fold tasks) must still hand the probe
    the build-time (n, k), not hardcoded literals — pinned through the
    build frame's schema metadata."""
    built = bl.bloom_build(corpus.filter(F.lit(False)), n=2, m_bits=M_BITS, k=3)
    assert bl._build_params(built) == (2, 3)
    # simulate the zero-partition collapse: same schema+metadata, no rows
    empty = built.filter(F.lit(False))
    assert empty.collect() == []
    bf = bl.collect_bloom(empty)
    assert (bf.n, bf.k) == (2, 3)
    assert not bf.bitmap.any()
    # and the n_grams accounting runs at the BUILD's gram order (n=2:
    # "short doc" has exactly one 2-gram; at the old hardcoded n=3 it
    # would read 0)
    got = {
        r["doc_id"]: (r["n_grams"], r["contaminated"])
        for r in bl.bloom_probe(
            corpus.filter(F.col("doc_id") == 6), bf, min_hits=1
        ).collect()
    }
    assert got == {6: (1, False)}


def test_bloom_or_preserves_build_params(spark, corpus):
    a = bl.bloom_build(corpus.filter(F.col("doc_id") == 1), n=2, m_bits=M_BITS, k=3)
    b = bl.bloom_build(corpus.filter(F.col("doc_id") == 2), n=2, m_bits=M_BITS, k=3)
    assert bl._build_params(bl.bloom_or(a, b)) == (2, 3)


def test_bitmap_bounded_and_deterministic(spark, corpus):
    bench = corpus.filter(F.col("doc_id").isin(1, 2))
    b1 = bl.collect_bloom(bl.bloom_build(bench, n=3, m_bits=M_BITS, k=K)).bitmap
    b2 = bl.collect_bloom(
        bl.bloom_build(bench.repartition(5), n=3, m_bits=M_BITS, k=K)
    ).bitmap
    assert b1.shape == (M_BITS // 8,)
    np.testing.assert_array_equal(b1, b2)  # partitioning-invariant
    assert b1.any()


def test_probe_plan_is_shuffle_free(spark, corpus):
    plan = _probe(
        spark, corpus, F.col("doc_id") == 1, F.col("doc_id") != 1
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_build_plan_is_shuffle_free(spark, corpus):
    """The build is one mapInPandas over the bench text: OR is idempotent,
    so no distinct and no groupBy OR-merge — collect_bloom ORs the
    partial rows."""
    built = bl.bloom_build(corpus.filter(F.col("doc_id").isin(1, 2)), n=3, m_bits=M_BITS, k=K)
    assert "Exchange" not in built._jdf.queryExecution().executedPlan().toString()


def _shard_rows(spark, rows):
    return spark.createDataFrame(rows, "shard_id int, bitmap binary, n int, k int")


def test_collect_ors_duplicate_shard_rows(spark):
    a = bytes([0b0001, 0, 0b1000, 0])
    b = bytes([0b0100, 0b0010, 0, 0])
    c = bytes([0, 0, 0b0001, 0b1000_0000])
    bf = bl.collect_bloom(
        _shard_rows(spark, [(0, a, 3, 4), (0, b, 3, 4), (0, a, 3, 4), (1, c, 3, 4), (1, c, 3, 4)])
    )
    want = np.r_[np.frombuffer(a, np.uint8) | np.frombuffer(b, np.uint8), np.frombuffer(c, np.uint8)]
    np.testing.assert_array_equal(bf.bitmap, want)
    assert (bf.n, bf.k) == (3, 4)


@pytest.mark.parametrize("other", [(0, bytes(4), 2, 4), (1, bytes(4), 3, 5), (1, bytes(8), 3, 4)])
def test_collect_refuses_mixed_params(spark, other):
    with pytest.raises(ValueError, match="mixed bloom params"):
        bl.collect_bloom(_shard_rows(spark, [(0, bytes(4), 3, 4), other]))
