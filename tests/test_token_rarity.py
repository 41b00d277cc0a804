"""token_rarity pins: independent python Counter reference, NULL/empty-text
edge cases, and broadcast-vs-shuffle lookup parity. Full value parity vs
DuckDB over the fixture corpus is gated by tools/gates.py --check
(`token_rarity`)."""

from collections import Counter

from osmquadtree_spark.operators.docs import token_rarity

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog"),
    (2, "zyxxyz"),              # corpus hapax-only doc
    (3, ""),                    # empty string -> one '' token
    (4, None),                  # NULL text -> NULL stats
    (5, "the the the"),
]


def _reference(rows):
    vocab = Counter()
    for _, text in rows:
        if text is not None:
            vocab.update(text.split(" "))
    out = {}
    for doc_id, text in rows:
        if text is None:
            out[doc_id] = (None, None, None, None)
            continue
        toks = text.split(" ")
        freqs = [vocab[t] for t in toks]
        out[doc_id] = (
            len(toks),
            min(freqs),
            sum(1 for f in freqs if f == 1),
            sum(freqs) * 100 // len(toks),
        )
    return out


def _run(spark, small_vocab):
    df = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["min_freq"], r["n_hapax"], r["mean_freq_x100"])
        for r in token_rarity(df, small_vocab=small_vocab).collect()
    }
    return got


def test_token_rarity_matches_counter_reference(spark):
    assert _run(spark, small_vocab=True) == _reference(DOCS)


def test_token_rarity_lookup_path_invariant(spark):
    # broadcast and shuffle lookup joins are plan variants of one operator
    assert _run(spark, small_vocab=True) == _run(spark, small_vocab=False)


def test_token_rarity_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string")
    assert token_rarity(df).collect() == []


def test_token_rarity_hand_values(spark):
    got = _run(spark, small_vocab=True)
    # vocab: the=6 cat=1 sat=1 on=1 mat=1 dog=1 zyxxyz=1 ''=1
    assert got[0] == (6, 1, 4, (6 + 1 + 1 + 1 + 6 + 1) * 100 // 6)
    assert got[1] == (2, 1, 1, (6 + 1) * 100 // 2)
    assert got[2] == (1, 1, 1, 100)
    assert got[3] == (1, 1, 1, 100)   # '' is a token like any other
    assert got[4] == (None, None, None, None)
    assert got[5] == (3, 6, 0, 600)


# --------------------------------------------------------------------------
# corpus_mix (same module; sweep gate `corpus_mix` carries value parity)

from osmquadtree_spark.operators.docs import corpus_mix  # noqa: E402

MIX_DOCS = [
    (0, "a b c", "en", "s0"),
    (1, "d e", "en", "s0"),
    (2, "f", "en", "s1"),
    (3, None, "de", "s1"),     # NULL text: counts as a doc, 0 tokens
    (4, "g h", None, None),    # NULL lang/source: visible group
]


def test_corpus_mix_hand_values(spark):
    df = spark.createDataFrame(MIX_DOCS, "doc_id bigint, text string, lang string, source string")
    got = {
        (r["lang"], r["source"]): (
            r["n_docs"], r["n_tokens"], r["n_chars"],
            r["share_docs_x10000"], r["share_tokens_x10000"],
        )
        for r in corpus_mix(df).collect()
    }
    # totals: 5 docs, 8 tokens
    assert got[("en", "s0")] == (2, 5, 8, 2 * 10000 // 5, 5 * 10000 // 8)
    assert got[("en", "s1")] == (1, 1, 1, 2000, 1 * 10000 // 8)
    assert got[("de", "s1")] == (1, 0, 0, 2000, 0)
    assert got[(None, None)] == (1, 2, 3, 2000, 2 * 10000 // 8)


def test_corpus_mix_empty(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string, lang string, source string")
    assert corpus_mix(df).collect() == []


# --------------------------------------------------------------------------
# quality_gate (sweep gate `quality_gate` carries value parity)

from osmquadtree_spark.operators.docs import (  # noqa: E402
    QG_COMMON,
    QG_GIBBERISH,
    QG_REPETITIVE,
    QG_SHORT,
    quality_gate,
)


def test_quality_gate_reason_bits(spark):
    rows = [
        (0, " ".join(f"w{i}" for i in range(30))),          # clean: 30 distinct rare tokens
        (1, "short doc"),                                    # short + gibberish (2 hapax)
        (2, " ".join(["dup"] * 30)),                         # repetitive (+common: 'dup' freq 30+)
        (3, None),                                           # NULL -> NULL
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["reasons"], r["keep"])
        for r in quality_gate(
            df, min_tokens=20, max_dup_x10000=5000,
            max_top_bigram_x10000=1800, max_mean_freq_x100=500,
        ).collect()
    }
    # doc 0: 30 hapax tokens -> gibberish bit only (mean freq 100 <= 500)
    assert got[0] == (QG_GIBBERISH, False)
    # doc 1: 2 tokens (<20), both hapax, and its single bigram is 100% of
    # its bigrams (10000 > 1800) -> short + repetitive + gibberish
    assert got[1] == (QG_SHORT | QG_REPETITIVE | QG_GIBBERISH, False)
    # doc 2: 30x 'dup' -> repetitive + common (freq 30*100=3000 > 500)
    assert got[2] == (QG_REPETITIVE | QG_COMMON, False)
    assert got[3] == (None, None)


def test_quality_gate_clean_doc_keeps(spark):
    # a long doc of moderately-frequent tokens passes every rule
    rows = [(i, " ".join(f"t{j % 25}" for j in range(j0, j0 + 25))) for i, j0 in enumerate([0, 3, 7, 11])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = quality_gate(
        df, min_tokens=20, max_dup_x10000=10000,
        max_top_bigram_x10000=10000, max_mean_freq_x100=10**9,
    ).collect()
    assert all(r["keep"] for r in got)
    assert all(r["reasons"] == 0 for r in got)
