"""Near-dup operator tests: signature determinism, candidate-join
completeness vs brute force, recall of the bucketed paths, and the
short-document guard. The bit-exact oracle parity runs through the driver
gate (queries.py twins); these tests check the algorithmic properties."""

import itertools

import numpy as np
import pandas as pd
import pytest

from osmquadtree_spark.operators import dedup as dd
from osmquadtree_spark.operators import docs as dd_docs


def _corpus(spark):
    # ~40-word texts: a 1-word edit keeps 3-gram jaccard ≈ 0.86, where the
    # 4x4 banding's hit probability is ~0.96 — and minhash is deterministic
    # given the text, so found-ness is stable run to run
    base = [
        "the quick brown fox jumps over the lazy dog and runs far away today "
        "while the hunter watches from the hill and the river flows quietly "
        "past the old mill where children play every single summer afternoon",
        "spark shuffles data across the cluster to group and sort by key "
        "then each executor spills sorted runs to local disk and merges them "
        "back while the driver tracks every map output location for reducers",
        "a tile sorted file keeps blocks in depth first quadtree order "
        "so that readers can prune entire subtrees with one index lookup "
        "and writers can append new tiles without rewriting older block data",
        "captions describe images and embeddings describe captions in vectors "
        "so a similarity search over the embedding space finds related pictures "
        "even when their pixel content differs in color crop or compression",
    ]
    rows = []
    i = 0
    for b in base:
        rows.append((i, b)); i += 1
        rows.append((i, b)); i += 1  # exact dup
        w = b.split(" "); w[3] = "XX"
        rows.append((i, " ".join(w))); i += 1  # near dup (1 word changed)
    rows.append((i, "short doc")); i += 1  # < 3 words: must not pair or crash
    rows.append((i, "completely different text about nothing in particular whatsoever")); i += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _exact_jaccard(a: str, b: str, n=3):
    ga = set(" ".join(a.split(" ")[i:i + n]) for i in range(len(a.split(" ")) - n + 1))
    gb = set(" ".join(b.split(" ")[i:i + n]) for i in range(len(b.split(" ")) - n + 1))
    return len(ga & gb) / len(ga | gb) if ga | gb else 0.0


def test_minhash_finds_dups_and_near_dups(spark):
    docs = _corpus(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.match_cnt
        for r in dd.minhash_lsh_pairs(docs, n=3, min_matches=8).collect()
    }
    # every exact-dup pair found with a full 16/16 signature match
    for base in range(0, 12, 3):
        assert pairs.get((base, base + 1)) == dd.N_HASHES
    # near dups (1 word of ~40 changed → jaccard ≈ 0.85) found too
    texts = {r.doc_id: r.text for r in docs.collect()}
    for base in range(0, 12, 3):
        j = _exact_jaccard(texts[base], texts[base + 2])
        assert j >= 0.8
        assert (base, base + 2) in pairs, (base, j)
    # and no gross false positives: every reported pair is actually similar
    for a, b in pairs:
        assert _exact_jaccard(texts[a], texts[b]) >= 0.3, (a, b)
    # the unrelated doc pairs with nothing
    assert not any(13 in p for p in pairs)


def test_minhash_estimates_track_jaccard(spark):
    docs = _corpus(spark)
    texts = {r.doc_id: r.text for r in docs.collect()}
    got = {
        (r.doc_a, r.doc_b): r.match_cnt / dd.N_HASHES
        for r in dd.minhash_lsh_pairs(docs, n=3, min_matches=1).collect()
    }
    for (a, b), est in got.items():
        j = _exact_jaccard(texts[a], texts[b])
        assert abs(est - j) <= 0.35, (a, b, est, j)  # 16 hashes → coarse but unbiased


def test_simhash_block_join_complete(spark):
    """The pigeonhole block join must return EXACTLY the brute-force pairs
    with hamming <= 3 (completeness is the whole point of the blocks)."""
    docs = _corpus(spark)
    sigs = {r.doc_id: r.sig for r in dd.simhash_signature(docs).collect()}
    brute = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
            brute.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in dd.simhash_pairs(docs, max_hamming=3).collect()}
    assert got == brute
    for base in range(0, 12, 3):
        assert (base, base + 1) in got  # exact dups at hamming 0


def test_simhash_guard():
    with pytest.raises(ValueError):
        # max_hamming+1 blocks must each be at least one bit wide
        dd.simhash_pairs(None, max_hamming=dd.SIM_BITS)


def test_embedding_lsh_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id_a, r.id_b) for r in dd.embedding_dup_pairs(emb, 0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in dd.embedding_dup_pairs_lsh(emb, 0.4).collect()}
    assert lsh <= exact  # exact re-score: no false positives
    assert len(lsh) >= 0.3 * len(exact)  # cos 0.4 is a WEAK signal; floor only
    # at a realistic near-dup threshold the same buckets give high recall —
    # checked on planted duplicates
    import pandas as pd
    v = emb.limit(20).toPandas()
    dup = v.copy()
    dup["vec_id"] = dup["vec_id"] + 100000
    dup["embedding"] = dup["embedding"].map(
        lambda e: [float(x) + 0.001 for x in e]  # near-identical copy
    )
    planted = spark.createDataFrame(pd.concat([v, dup], ignore_index=True))
    got = {(r.id_a, r.id_b) for r in dd.embedding_dup_pairs_lsh(planted, 0.999).collect()}
    want = {(int(i), int(i) + 100000) for i in v["vec_id"]}
    assert len(got & want) >= 0.9 * len(want)


def test_short_docs_never_pair(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["one two", "one two", "x"]})
    )
    assert dd.minhash_lsh_pairs(docs, n=3, min_matches=1).count() == 0
    # simhash pairs 2-word exact dups (hamming 0) — fine, just must not crash
    dd.simhash_pairs(docs).collect()


def test_hot_bucket_cap_bounds_candidates(spark):
    """Degenerate corpus: 60 identical boilerplate docs would make every
    band bucket quadratic (~1770 pairs); a cap below the cluster size drops
    those buckets entirely and the join stays bounded, while distinct
    content is unaffected."""
    from pyspark.sql import functions as F

    from osmquadtree_spark.operators.dedup import (
        hot_bucket_stats,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from osmquadtree_spark.operators.docs import ngram_pairs

    boiler = [(i, "the same boilerplate text repeated for every row here") for i in range(60)]
    uniq = [(100 + i, f"unique document number {i} with words w{i} x{i} y{i} z{i} q{i}") for i in range(10)]
    near = [
        (200, "alpha beta gamma delta epsilon zeta eta theta"),
        (201, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    docs = spark.createDataFrame(boiler + uniq + near, "doc_id bigint, text string")

    capped = minhash_lsh_pairs(docs, n=3, min_matches=8, bucket_cap=50)
    rows = capped.collect()
    ids = {r.doc_a for r in rows} | {r.doc_b for r in rows}
    assert not (ids & set(range(60))), "boilerplate cluster should be capped away"
    assert (200, 201) in {(r.doc_a, r.doc_b) for r in rows}

    # without a cap the cluster pairs quadratically
    uncapped = minhash_lsh_pairs(docs, n=3, min_matches=8, bucket_cap=None)
    assert uncapped.count() >= 60 * 59 // 2

    # the dropped buckets are observable
    from osmquadtree_spark.operators.dedup import minhash_signature, _band_key, N_BANDS, N_HASHES
    sigs = minhash_signature(docs, 3).filter(F.size("sig") > 0)
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _band_key(F.col("sig"), b, N_HASHES // N_BANDS).alias("bucket"))
            for b in range(N_BANDS)
        ])).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    dropped = hot_bucket_stats(bands, ["band", "bucket"], 50).collect()
    assert len(dropped) == N_BANDS and all(r._bn == 60 for r in dropped)

    sh = simhash_pairs(docs, max_hamming=3, bucket_cap=50)
    sh_ids = {r.doc_a for r in sh.collect()} | {r.doc_b for r in sh.collect()}
    assert not (sh_ids & set(range(60)))

    ng = ngram_pairs(docs, n=3, min_jaccard=0.2, gram_cap=50)
    ng_ids = {r.doc_a for r in ng.collect()} | {r.doc_b for r in ng.collect()}
    assert not (ng_ids & set(range(60)))
    assert (200, 201) in {(r.doc_a, r.doc_b) for r in ng.collect()}


def test_cap_metrics_committed(spark, tmp_path):
    """"No silent caps": passing metrics_path REGISTERS the dropped-bucket
    stats and candidate counts with the run-scoped metrics registry;
    commit_pending (called by every run endpoint — clear_session_caches,
    gate sweeps) writes them ONCE per run under a run-id
    directory. Plan construction alone writes nothing (r3 advice: an
    abandoned plan must not clobber a previous run's table)."""
    from osmquadtree_spark import metrics
    from osmquadtree_spark.operators.dedup import N_BANDS, minhash_lsh_pairs

    boiler = [(i, "the same boilerplate text repeated for every row here") for i in range(60)]
    uniq = [(100 + i, f"unique document number {i} with words w{i} x{i} y{i} z{i}") for i in range(5)]
    docs = spark.createDataFrame(boiler + uniq, "doc_id bigint, text string")

    metrics.discard_pending()  # isolate from other tests' registrations
    mpath = str(tmp_path / "cap_metrics")
    plan = minhash_lsh_pairs(docs, n=3, min_matches=8, bucket_cap=50, metrics_path=mpath)
    # constructed-but-not-committed: nothing on disk yet
    assert not (tmp_path / "cap_metrics").exists()
    plan.collect()
    res = metrics.commit_pending()
    assert res["bases"] == 1 and res["run_id"]
    m = metrics.read_metrics(spark, mpath).collect()
    drops = [r for r in m if r.metric == "bucket_rows_dropped"]
    assert len(drops) == N_BANDS  # the boilerplate cluster saturates every band
    assert all(r.operator == "dedup_minhash" and r.value == 60 for r in drops)
    assert all("," in r.bucket_key for r in drops)  # "band,bucket" composite key
    caps = [r for r in m if r.metric == "bucket_cap"]
    assert len(caps) == 1 and caps[0].value == 50
    cand = [r for r in m if r.metric == "candidate_pair_volume"]
    # recall proxy present (0 here: every shared bucket was capped away)
    assert len(cand) == 1 and cand[0].value == 0
    # a second run appends a new run_id directory — no clobber
    minhash_lsh_pairs(docs, n=3, min_matches=8, bucket_cap=50, metrics_path=mpath).collect()
    metrics.commit_pending()
    runs = {r.run_id for r in metrics.read_metrics(spark, mpath).collect()}
    assert len(runs) == 2


def _boiler_docs(spark, n_boiler):
    boiler = [(i, "the same boilerplate text repeated for every row here") for i in range(n_boiler)]
    uniq = [(100 + i, f"unique document number {i} with words w{i} x{i} y{i} z{i}") for i in range(5)]
    return spark.createDataFrame(boiler + uniq, "doc_id bigint, text string")


def _committed(spark, mpath):
    from osmquadtree_spark import metrics

    assert metrics.commit_pending()["errors"] == {}
    return sorted(
        (r.operator, r.metric, r.bucket_key, r.value)
        for r in metrics.read_metrics(spark, mpath).collect()
    )


def test_metrics_commit_submits_no_spark_jobs(spark, tmp_path):
    """The run-end commit writes driver-side values: no Spark job runs
    under its job group."""
    from osmquadtree_spark import metrics
    from osmquadtree_spark.operators.dedup import minhash_lsh_pairs

    metrics.discard_pending()
    mpath = str(tmp_path / "metrics")
    minhash_lsh_pairs(
        _boiler_docs(spark, 60), bucket_cap=50, metrics_path=mpath
    ).collect()
    sc = spark.sparkContext
    sc.setJobGroup("metrics-commit", "commit_pending")
    try:
        res = metrics.commit_pending()
    finally:
        sc.setJobGroup("", "")
    assert res["bases"] == 1 and res["errors"] == {}
    assert list(sc.statusTracker().getJobIdsForGroup("metrics-commit")) == []


def test_cap_metrics_when_nothing_is_hot(spark, tmp_path):
    """No bucket exceeds the cap — the case where an observation inside
    the plan comes back empty under AQE (the anti-join is pruned). The cap
    and the pair volume still commit, and no drop row does."""
    from osmquadtree_spark import metrics
    from osmquadtree_spark.operators.dedup import N_BANDS, minhash_lsh_pairs
    from osmquadtree_spark.operators.docs import ngram_pairs

    metrics.discard_pending()
    mpath = str(tmp_path / "metrics")
    minhash_lsh_pairs(
        _boiler_docs(spark, 10), bucket_cap=50, metrics_path=mpath
    ).collect()
    rows = _committed(spark, mpath)
    # the 10 boilerplate docs share every band bucket: N_BANDS × C(10, 2)
    assert rows == [
        ("dedup_minhash", "bucket_cap", "", 50),
        ("dedup_minhash", "candidate_pair_volume", "", N_BANDS * 45),
    ]
    # no cap at all: the pair volume still commits, and no cap row does
    # (7 boilerplate trigrams × C(10, 2) + "unique document number" × C(5, 2))
    npath = str(tmp_path / "ngram")
    ngram_pairs(_boiler_docs(spark, 10), gram_cap=None, metrics_path=npath).collect()
    assert _committed(spark, npath) == [
        ("ngram_jaccard", "candidate_pair_volume", "", 7 * 45 + 10)
    ]


def test_unrun_capped_plan_commits_same_rows(spark, tmp_path):
    """A capped plan that is built but never collected commits the same
    rows as one that is collected."""
    from osmquadtree_spark import metrics
    from osmquadtree_spark.operators.dedup import minhash_lsh_pairs

    docs = _boiler_docs(spark, 60)
    got = []
    for run in (False, True):
        metrics.discard_pending()
        mpath = str(tmp_path / f"metrics_{run}")
        plan = minhash_lsh_pairs(docs, bucket_cap=50, metrics_path=mpath)
        if run:
            plan.collect()
        got.append(_committed(spark, mpath))
    assert got[0] == got[1]
    assert {r[1] for r in got[0]} == {
        "bucket_rows_dropped", "bucket_cap", "candidate_pair_volume"
    }


def test_null_text_yields_null_signatures(spark):
    """NULL text must propagate like the SQL twins' string_split(NULL):
    NULL simhash signature, empty minhash signature (no grams), NULL
    text-analysis metrics — never a real signature for a fake empty word."""
    from osmquadtree_spark.operators.docs import text_analysis_vectorized

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps again"), (2, None), (3, None)],
        "doc_id bigint, text string",
    )
    sigs = {r.doc_id: r.sig for r in dd.simhash_signature(docs).collect()}
    assert sigs[1] is not None
    assert sigs[2] is None and sigs[3] is None
    # the two NULL docs must NOT pair with each other via a shared fake sig
    assert dd.simhash_pairs(docs, max_hamming=3).count() == 0

    msigs = {r.doc_id: r.sig for r in dd.minhash_signature(docs).collect()}
    assert msigs[1] and msigs[2] == [] and msigs[3] == []

    ta = {r.doc_id: r for r in text_analysis_vectorized(docs).collect()}
    assert ta[1].n_tokens == 6 and ta[1].lang_pred is not None
    for d in (2, 3):
        assert ta[d].n_tokens is None and ta[d].fp is None
        assert ta[d].quality_bucket is None and ta[d].lang_pred is None


def test_keyed_registration_replaces_duplicate(spark, tmp_path):
    """Review regression (r4): building the same query twice in one run
    registered its metrics frames twice, double-counting drops for anyone
    aggregating per run. Keyed registration keeps only the newest frame
    per (base_path, operator, metric)."""
    from osmquadtree_spark import metrics

    metrics.discard_pending()
    mpath = str(tmp_path / "metrics")
    metrics.record(mpath, "op_x", "bucket_cap", 5)
    metrics.record(mpath, "op_x", "bucket_cap", 9)  # rebuild
    metrics.record(mpath, "op_y", "bucket_cap", 7)  # other op
    assert len(metrics._PENDING) == 2
    metrics.commit_pending()
    rows = {
        (r.operator, r.metric): r.value
        for r in metrics.read_metrics(spark, mpath).collect()
    }
    assert rows == {("op_x", "bucket_cap"): 9, ("op_y", "bucket_cap"): 7}


def test_unrolled_dot_bitwise_equals_fold(spark):
    """ann._dot_unrolled (the codegen twin used by the ANN rescore) must be
    BITWISE-identical to the interpreted aggregate fold — the DuckDB
    soundness oracles pin the fold's exact left-to-right float64 sequence,
    so any reassociation would surface as a value mismatch. Covers NULL
    arrays (both must propagate NULL) and adversarial magnitudes
    (cancellation, denormal-range products)."""
    import numpy as np
    from pyspark.sql import functions as F

    from osmquadtree_spark.operators.ann import _as_double, _dot, _dot_unrolled

    d = 16
    rng = np.random.default_rng(7)
    rows = [(i, (rng.standard_normal(d) * 10.0 ** rng.integers(-150, 150)).tolist(),
             rng.standard_normal(d).tolist()) for i in range(200)]
    rows.append((200, None, [1.0] * d))
    rows.append((201, [1e-300] * d, [1e300] * d))
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    av, bv = _as_double(F.col("a")), _as_double(F.col("b"))
    out = df.select(
        "id",
        _dot(av, bv).alias("fold"),
        _dot_unrolled(av, bv, d).alias("unrolled"),
    ).collect()
    for r in out:
        if r.fold is None or r.unrolled is None:
            assert r.fold is None and r.unrolled is None
        else:
            # == is bitwise here except NaN; compare via struct equality
            assert (r.fold == r.unrolled) or (
                r.fold != r.fold and r.unrolled != r.unrolled
            ), (r.id, r.fold, r.unrolled)


def test_word_codes_vectorized_matches_object_path():
    """The UCS4-matrix word-code extractor is bit-identical to the
    split/explode/ord object path on adversarial shapes: empty strings,
    lone/leading/trailing/consecutive spaces, non-ASCII and non-BMP
    codepoints, tabs-as-word-chars, and a randomized corpus. The DuckDB
    oracles pin codepoint (not byte) semantics, so this parity IS the
    oracle contract for both signature kernels."""
    import random

    from osmquadtree_spark.kernels import wordcodes as wc

    fixed = pd.Series(
        [
            "hello world", "", " ", "  ", "a", "a b  c", " leading",
            "trailing ", "ünïcödé wörds", "汉字 测试 空格", "emoji 😀😀 test",
            "tab\tstays\tone-word", " a ", "  double  spaces  ", "x" * 200,
        ]
    )
    r1, c1 = wc.word_codes(fixed)
    r2, c2 = wc.word_codes_obj(fixed)
    assert np.array_equal(r1, r2) and np.array_equal(c1, c2)
    # all-ASCII batch exercises the 1-byte 'S' matrix path, including NUL
    # bytes (ordinary code-0 chars, NOT stripped) and a trailing NUL
    ascii_only = pd.Series(
        ["hello world", "a\x00b", "ends in nul\x00", "", " ", "  x  ", "w"]
    )
    r1, c1 = wc.word_codes(ascii_only)
    r2, c2 = wc.word_codes_obj(ascii_only)
    assert np.array_equal(r1, r2) and np.array_equal(c1, c2)
    # hand-pinned: "a b  c" -> codes for "a","b","","c"
    one = pd.Series(["a b  c"])
    _, codes = wc.word_codes(one)
    a = 97 * 1 + ord("a") + ord("a") * 31
    b = 97 * 1 + ord("b") + ord("b") * 31
    cc = 97 * 1 + ord("c") + ord("c") * 31
    assert codes.tolist() == [a, b, 0, cc]

    random.seed(11)
    alph = "ab cd  é汉😀 xyz "
    texts = pd.Series(
        ["".join(random.choice(alph) for _ in range(random.randrange(0, 60)))
         for _ in range(2000)]
    )
    r1, c1 = wc.word_codes(texts)
    r2, c2 = wc.word_codes_obj(texts)
    assert np.array_equal(r1, r2) and np.array_equal(c1, c2)

    # the memory guard routes oversized matrices through the object path
    # (one long doc widens every row): force it and re-check parity
    import unittest.mock as mock

    with mock.patch.object(wc, "MAX_MATRIX_BYTES", 1):
        r3, c3 = wc.word_codes(texts)
    assert np.array_equal(r1, r3) and np.array_equal(c1, c3)

    # all-empty corpus: one empty word per doc (the L == 0 matrix edge)
    r4, c4 = wc.word_codes(pd.Series(["", "", ""]))
    assert r4.tolist() == [0, 1, 2] and c4.tolist() == [0, 0, 0]


def test_word_codes_budget_checked_before_matrix_allocation():
    """The MAX_MATRIX_BYTES guard must route to the object path BEFORE
    texts.to_numpy(dtype='S'/'U') materializes the n x max_len fixed-width
    matrix it exists to prevent — a single megabyte-long doc in a 100k-row
    batch would otherwise OOM during the conversion itself. The patched
    Series.to_numpy fails the test if a fixed-width dtype conversion is
    ever attempted under a 1-byte budget."""
    import unittest.mock as mock

    from osmquadtree_spark.kernels import wordcodes as wc

    texts = pd.Series(["hello world", "a b", "xyz " * 50])
    want_r, want_c = wc.word_codes_obj(texts)
    orig = pd.Series.to_numpy

    def guarded(self, *a, **k):
        dt = k.get("dtype", a[0] if a else None)
        assert dt not in ("S", "U"), "fixed-width conversion ran before the budget check"
        return orig(self, *a, **k)

    with mock.patch.object(wc, "MAX_MATRIX_BYTES", 1), mock.patch.object(
        pd.Series, "to_numpy", guarded
    ):
        r, c = wc.word_codes(texts)
    assert np.array_equal(r, want_r) and np.array_equal(c, want_c)


def test_doc_chunks_windows(spark):
    """Chunking rule: 1-based offsets 1, 1+stride, ... while <= n_words;
    tails clipped; every word covered; NULL text yields no chunks; a
    single-word doc yields exactly one chunk."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["w1 w2 w3 w4 w5 w6 w7", None, "solo"],
            }
        ),
        "doc_id bigint, text string",
    )
    got = sorted(
        (r.doc_id, r.chunk_id, r.start_word, r.n_words, r.chunk_text)
        for r in dd_docs.doc_chunks(df, chunk_words=3, stride=2).collect()
    )
    assert got == [
        (1, 0, 1, 3, "w1 w2 w3"),
        (1, 1, 3, 3, "w3 w4 w5"),
        (1, 2, 5, 3, "w5 w6 w7"),
        (1, 3, 7, 1, "w7"),          # clipped tail
        (3, 0, 1, 1, "solo"),
    ]
    with pytest.raises(ValueError):
        dd_docs.doc_chunks(df, chunk_words=0)


def test_sample_by_hash_deterministic_and_stratified(spark):
    """The mark equals numpy splitmix64 % mod exactly, survives
    repartitioning unchanged, and each stratum honors its own threshold
    (unlisted strata get the default)."""
    from osmquadtree_spark.sources.images import splitmix64

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(500, dtype=np.int64),
            "lang": ["en", "de", "xx", "en", "de"] * 100,
        }
    )
    df = spark.createDataFrame(pdf, "doc_id bigint, lang string")
    rates = {"en": 3000, "de": 9000}
    got = {
        r.doc_id: (r.lang, r.sample_mark)
        for r in dd_docs.sample_by_hash(
            df, rates=rates, default_rate=100, mod=10_000
        ).collect()
    }
    marks = splitmix64(np.arange(500, dtype=np.int64).astype(np.uint64)) % np.uint64(10_000)
    want = {
        int(i): (pdf["lang"][i], int(marks[i]))
        for i in range(500)
        if marks[i] < rates.get(pdf["lang"][i], 100)
    }
    assert got == want
    assert {l for l, _ in got.values()} >= {"en", "de"}  # strata both sampled
    # repartitioning does not change the sample (pure function of the key)
    got2 = {
        r.doc_id
        for r in dd_docs.sample_by_hash(
            df.repartition(7), rates=rates, default_rate=100, mod=10_000
        ).collect()
    }
    assert got2 == set(got)


def test_semantic_dup_pairs_recall_and_soundness(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.id_a, r.id_b): r.cos for r in dd.embedding_dup_pairs(emb, 0.4).collect()}
    sem = {
        (r.id_a, r.id_b): r.cos
        for r in dd.semantic_dup_pairs(emb, 0.4, n_centroids=8, nprobe=2).collect()
    }
    # exact re-score: every emitted pair is a true pair with the true cosine
    assert set(sem) <= set(exact)
    for k, c in sem.items():
        assert abs(c - exact[k]) < 1e-12
    # k-means buckets follow the data: within-cluster probing recalls most
    # of the (weak-threshold) exact set even at tiny codebook size
    assert len(sem) >= 0.5 * len(exact)
    # determinism: same codebook + assignment regardless of partitioning
    sem2 = {
        (r.id_a, r.id_b): r.cos
        for r in dd.semantic_dup_pairs(
            emb.repartition(13), 0.4, n_centroids=8, nprobe=2
        ).collect()
    }
    assert sem2 == sem


def test_semantic_planted_duplicates_found(spark, sf_dir):
    import pandas as pd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = emb.limit(20).toPandas()
    dup = v.copy()
    dup["vec_id"] = dup["vec_id"] + 100000
    dup["embedding"] = dup["embedding"].map(
        lambda e: [float(x) + 0.001 for x in e]
    )
    planted = spark.createDataFrame(pd.concat([v, dup], ignore_index=True))
    got = {
        (r.id_a, r.id_b)
        for r in dd.semantic_dup_pairs(
            planted, 0.999, n_centroids=4, nprobe=2
        ).collect()
    }
    want = {(int(i), int(i) + 100000) for i in v["vec_id"]}
    # a near-identical copy lands in the same nearest centroid by continuity
    assert got >= want


def test_benchmark_overlap_flags_contaminated(spark):
    docs = _corpus(spark)  # ids 0..13: 4 bases × (orig, exact dup, near dup)
    bench = docs.filter("doc_id = 0").selectExpr("doc_id AS bench_id", "text")
    got = {
        (r.doc_id, r.bench_id): (r.hits, r.n_grams)
        for r in dd_docs.benchmark_overlap(docs, bench, n=3, min_hits=2).collect()
    }
    # the benchmark doc itself, its exact dup, and its near dup all flag
    assert (0, 0) in got and (1, 0) in got and (2, 0) in got
    h0, n0 = got[(0, 0)]
    assert h0 == n0  # self-overlap is total
    h2, n2 = got[(2, 0)]
    assert 0 < h2 < n2  # near dup: partial overlap
    # unrelated docs don't flag (other bases share no 3-grams with base 0)
    assert {d for d, _ in got} == {0, 1, 2}
    # empty benchmark: no rows, schema intact
    empty = dd_docs.benchmark_overlap(
        docs, bench.filter("bench_id < 0"), n=3, min_hits=1
    )
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "bench_id", "hits", "n_grams", "overlap_frac"]


def test_incremental_equals_full_restricted(spark, sf_dir, tmp_path):
    """Store-served incremental dedup must equal the full-corpus run
    restricted to pairs touching the new batch — and the store must
    rebuild when its fingerprint goes stale."""
    import os

    from osmquadtree_spark.sources import dedup_store as ds

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.doc_a, r.doc_b): r.match_cnt
        for r in dd.minhash_lsh_pairs(docs).collect()
    }
    m = ds.INCR_NEW_MOD
    want = {k: v for k, v in full.items() if k[0] % m == 0 or k[1] % m == 0}

    base = str(tmp_path / "minhash")
    sigs, bands = ds.read_tables(spark, sf_dir, base=base)
    new = docs.filter(f"doc_id % {m} = 0")
    got = {
        (r.doc_a, r.doc_b): r.match_cnt
        for r in dd.minhash_lsh_pairs_incremental(new, sigs, bands).collect()
    }
    assert got == want
    # second ensure() is a fingerprint hit (no rebuild): meta mtime stable
    meta = os.path.join(ds.store_dir(sf_dir, base), "_meta.json")
    t0 = os.stat(meta).st_mtime_ns
    ds.ensure(spark, sf_dir, base=base)
    assert os.stat(meta).st_mtime_ns == t0
    # stale fingerprint → rebuild
    with open(meta, "w") as f:
        f.write("{}")
    ds.ensure(spark, sf_dir, base=base)
    assert os.stat(meta).st_mtime_ns != t0


def test_incremental_empty_batch(spark, sf_dir, tmp_path):
    from osmquadtree_spark.sources import dedup_store as ds

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs, bands = ds.read_tables(spark, sf_dir, base=str(tmp_path / "mh"))
    empty = docs.filter("doc_id < 0")
    out = dd.minhash_lsh_pairs_incremental(empty, sigs, bands)
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b", "match_cnt"]
