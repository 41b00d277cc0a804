"""shared_span_pairs pins: independent O(n·m) dynamic-programming longest
common substring (token-level) reference, constructed overlap cases, hash
on/off invariance, guard rails. Value parity vs DuckDB over the fixture
corpus is gated by tools/gates.py --check (`shared_spans`)."""

import pytest

from osmquadtree_spark.operators.docs import positional_grams, shared_span_pairs


def _lcs_tokens(a, b):
    """Classic DP longest common token substring — written independently
    of the diagonal-run formulation."""
    aw, bw = a.split(" "), b.split(" ")
    best = 0
    prev = [0] * (len(bw) + 1)
    for i in range(1, len(aw) + 1):
        cur = [0] * (len(bw) + 1)
        for j in range(1, len(bw) + 1):
            if aw[i - 1] == bw[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


DOCS = [
    (0, "q w e r t y u i o p a s d f g"),
    (1, "z x q w e r t y u i c v b n m"),   # shares 'q w e r t y u i' (8)
    (2, "a a a q w e r a a a"),              # shares 'q w e r' (4) with 0/1
    (3, "totally different words here okay"),
    (4, "q w e r t y u i o p a s d f g"),   # exact dup of 0 (span 15)
]


def _run(spark, k, min_span, **kw):
    df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    return {
        (r["doc_a"], r["doc_b"]): (r["max_span_tokens"], r["n_runs"])
        for r in shared_span_pairs(df, k=k, min_span=min_span, gram_cap=None, **kw).collect()
    }


def test_spans_match_dp_reference(spark):
    k, min_span = 3, 3
    got = _run(spark, k, min_span)
    for i, (ida, ta) in enumerate(DOCS):
        for idb, tb in DOCS[i + 1 :]:
            lcs = _lcs_tokens(ta, tb)
            if lcs >= min_span:
                assert got[(ida, idb)][0] == lcs, (ida, idb)
            else:
                assert (ida, idb) not in got


def test_spans_hand_values(spark):
    got = _run(spark, 3, 5)
    assert got[(0, 1)][0] == 8
    assert got[(0, 4)][0] == 15
    assert got[(1, 4)][0] == 8
    assert (0, 2) not in got          # span 4 < min_span 5
    assert (0, 3) not in got


def test_spans_hash_invariance(spark):
    assert _run(spark, 3, 4) == _run(spark, 3, 4, hash_grams=False)


def test_spans_detection_floor(spark):
    # spans shorter than k are invisible: k=5 cannot see doc 2's 4-token
    # overlap even with min_span=k
    got = _run(spark, 5, 5)
    assert (0, 2) not in got and (1, 2) not in got
    assert got[(0, 1)][0] == 8


def test_spans_min_span_validation(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        shared_span_pairs(df, k=5, min_span=3)


def test_positional_grams_positions(spark):
    df = spark.createDataFrame([(7, "a b c d")], "doc_id bigint, text string")
    rows = sorted(
        (r["pos"], r["gram"])
        for r in positional_grams(df, 2, hash_grams=False).collect()
    )
    assert rows == [(0, "a b"), (1, "b c"), (2, "c d")]


def test_spans_empty_and_short(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, None)], "doc_id bigint, text string"
    )
    assert shared_span_pairs(df, k=3, min_span=3, gram_cap=None).collect() == []


# --------------------------------------------------------------------------
# dedup_span_mask (removal half; sweep gate `span_mask` carries value parity)

from osmquadtree_spark.operators.docs import dedup_span_mask  # noqa: E402


def _mask_reference(rows, k, min_span):
    """Independent spec: brute-force all shared >=min_span substrings via
    the DP table, mark doc_b token positions, merge by set-union."""
    out = {}
    docs = [(i, t) for i, t in rows if t is not None]
    masked = {i: set() for i, _ in docs}
    for ai in range(len(docs)):
        for bi in range(len(docs)):
            ida, ta = docs[ai]
            idb, tb = docs[bi]
            if ida >= idb:
                continue
            aw, bw = ta.split(" "), tb.split(" ")
            # every maximal common run; mark b positions when run >= min_span
            for s_b in range(len(bw)):
                for s_a in range(len(aw)):
                    if s_a > 0 and s_b > 0 and aw[s_a - 1] == bw[s_b - 1]:
                        continue  # not maximal
                    ln = 0
                    while (
                        s_a + ln < len(aw)
                        and s_b + ln < len(bw)
                        and aw[s_a + ln] == bw[s_b + ln]
                    ):
                        ln += 1
                    if ln >= min_span and ln >= k:
                        masked[idb].update(range(s_b, s_b + ln))
    for doc_id, text in rows:
        if text is None:
            out[doc_id] = (None, None, None, None)
            continue
        n = len(text.split(" "))
        pos = sorted(masked.get(doc_id, ()))
        niv, prev = 0, None
        for p in pos:
            if prev is None or p > prev + 1:
                niv += 1
            prev = p
        out[doc_id] = (n, len(pos), niv, len(pos) * 10000 // n)
    return out


MASK_DOCS = [
    (0, "q w e r t y u i o p a s d f g"),
    (1, "z x q w e r t y u i c v b n m"),
    (2, "h j k l q w e r t y u i o p m n b v c x"),  # two overlaps w/ 0,1
    (3, "clean words only nothing shared"),
    (4, None),
]


def test_span_mask_matches_reference(spark):
    df = spark.createDataFrame(MASK_DOCS, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["dup_tokens"], r["dup_intervals"], r["dup_frac_x10000"]
        )
        for r in dedup_span_mask(df, k=3, min_span=4, gram_cap=None).collect()
    }
    assert got == _mask_reference(MASK_DOCS, 3, 4)


def test_span_mask_first_copy_untouched(spark):
    # exact duplicate trio: only ids 1 and 2 are masked, id 0 keeps its text
    rows = [(i, "a b c d e f g h") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["dup_tokens"], r["dup_frac_x10000"])
        for r in dedup_span_mask(df, k=3, min_span=3, gram_cap=None).collect()
    }
    assert got[0] == (0, 0)
    assert got[1] == (8, 10000)
    assert got[2] == (8, 10000)


def test_span_mask_merges_overlapping_intervals(spark):
    # doc 2 shares a prefix with 0 and a suffix with 1 that overlap in the
    # middle — merged must count the union once
    rows = [
        (0, "a b c d e f"),
        (1, "d e f g h i"),
        (2, "a b c d e f g h i"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["dup_tokens"], r["dup_intervals"])
        for r in dedup_span_mask(df, k=3, min_span=3, gram_cap=None).collect()
    }
    assert got[2] == (9, 1)   # [0..5] ∪ [3..8] = [0..8]
    assert got[1][0] == 3     # 'd e f' shared with doc 0
