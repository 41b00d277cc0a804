"""source_quota_cap pins: independent python reference over the shared
splitmix64 mark, prefilter-active and deficit-fallback regimes, NULL-key
grouping, and oversample invariance. Value parity vs DuckDB over the
fixture corpus is gated by tools/gates.py --check (`source_quota`)."""

import numpy as np
import pytest

from osmquadtree_spark.operators.docs import source_quota_cap
from osmquadtree_spark.sources.images import splitmix64

M63 = 1 << 63


def _reference(rows, cap):
    """Exact spec: per key, the cap smallest (splitmix64(id)%2^63, id)."""
    by_key = {}
    for doc_id, key in rows:
        if doc_id is None:
            continue
        m = int(splitmix64(np.uint64(doc_id)) % np.uint64(M63))
        by_key.setdefault(key, []).append((m, doc_id))
    out = set()
    for key, pairs in by_key.items():
        for rk, (_, doc_id) in enumerate(sorted(pairs), start=1):
            if rk <= cap:
                out.add((doc_id, key, rk))
    return out


def _run(spark, rows, cap, **kw):
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    return {
        (r["doc_id"], r["source"], r["quota_rank"])
        for r in source_quota_cap(df, cap, **kw).collect()
    }


def test_quota_matches_reference_prefilter_active(spark):
    # 600 rows in one hot key + 3 rows in a cold key: cap*oversample=20
    # << 600, so the hot key's threshold genuinely prunes
    rows = [(i, "hot") for i in range(600)] + [(1000 + i, "cold") for i in range(3)]
    assert _run(spark, rows, cap=5) == _reference(rows, cap=5)


def test_quota_oversample_invariant(spark):
    # an oversample so large the prefilter passes everything must give
    # the identical result (the prefilter is an optimization, not spec)
    rows = [(i, f"s{i % 4}") for i in range(200)]
    assert _run(spark, rows, cap=7) == _run(spark, rows, cap=7, oversample=1e9)


def test_quota_deficit_fallback_exact(spark):
    # force the tail case: oversample<1 makes the threshold cut below cap
    # survivors for the hot key — the fallback branch must restore the
    # exact answer
    rows = [(i, "hot") for i in range(500)]
    got = _run(spark, rows, cap=10, oversample=0.01)
    assert got == _reference(rows, cap=10)


def test_quota_null_key_and_null_id(spark):
    rows = [(1, None), (2, None), (3, "a"), (None, "a")]
    got = _run(spark, rows, cap=1)
    ref = _reference(rows, cap=1)
    assert got == ref
    assert sum(1 for (_, k, _) in got if k is None) == 1  # NULLs are one group


def test_quota_cap_validation(spark):
    df = spark.createDataFrame([], "doc_id bigint, source string")
    with pytest.raises(ValueError):
        source_quota_cap(df, 0)


def test_quota_small_groups_kept_whole(spark):
    rows = [(i, "tiny") for i in range(4)]
    got = _run(spark, rows, cap=10)
    assert {d for d, _, _ in got} == set(range(4))
    assert {rk for _, _, rk in got} == {1, 2, 3, 4}
