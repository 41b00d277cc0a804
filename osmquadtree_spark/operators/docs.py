"""Training-data pipeline operators over document tables.

Everything here is built from JVM-side higher-order functions (split /
transform / filter / aggregate) — no Python in the hot path — and each
operator has an exact DuckDB-SQL twin in ``osmquadtree_spark.queries`` for
the correctness gate. Arithmetic is integer (overflow-free) or single-op
float so both engines agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MOD = 1_000_000_007


def balanced(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan has fewer partitions than cores —
    small fixture files would otherwise pin a whole Arrow kernel to one
    worker; at scale the parquet scan already has enough splits and the
    pure-map kernels need no exchange at all. (Alias of
    sources.tables.fan_out — one implementation, kept importable here
    because every text kernel in this module calls it.)"""
    from ..sources.tables import fan_out

    return fan_out(df)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# deterministic per-language marker words for the lang-id heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("data", "table", "row"),
    "zh": ("query", "group", "spark"),
    "de": ("sort", "merge", "hash"),
    "fr": ("join", "filter", "scan"),
}


def ws_token_count(col) -> "F.Column":
    """THE whitespace token-count convention (single-space split; NULL
    text ⇒ NULL count), defined once — token_count, text_quality,
    text_analysis and bpe_token_stats all derive from it."""
    return F.size(F.split(F.col(col) if isinstance(col, str) else col, " ")).cast(
        "bigint"
    )


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars): whitespace tokenization (single-space
    corpus) — the baseline token-counting stage."""
    return docs.select(
        "doc_id",
        ws_token_count("text").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


def lang_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred): argmax of per-language marker-word counts with a
    deterministic alphabetical tie-break — an n-gram-free language-ID
    heuristic whose prediction is a pure function of the text."""
    words = F.split(F.col("text"), " ")

    def _contains(markers):
        return lambda w: F.array_contains(markers, w)

    cols = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        cols.append(
            F.size(F.filter(words, _contains(markers))).cast("bigint").alias(f"score_{lang}")
        )
    scored = docs.select("doc_id", *cols)
    # argmax with alphabetical tie-break: fold over sorted language names
    langs = sorted(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        s = F.col(f"score_{lang}")
        best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(s > best_score, s).otherwise(best_score)
    return scored.select("doc_id", best.alias("lang_pred"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): order-sensitive rolling hash over words, with an
    overflow-free word code (first/last char + length) folded mod 1e9+7 —
    a document fingerprint usable for exact-dup detection and shard-stable
    sampling."""
    words = F.split(F.col("text"), " ")
    code = lambda w: (
        F.length(w) * F.lit(97)
        + F.ascii(F.substring(w, 1, 1))
        + F.ascii(F.substring(w, -1, 1)) * F.lit(31)
    ).cast("bigint")
    fp = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: (acc * F.lit(131) + code(w)) % F.lit(MOD),
    )
    return docs.select("doc_id", fp.alias("fp"))


def text_analysis(docs: DataFrame) -> DataFrame:
    """All four per-document text stages in ONE projection pass —
    token counting, quality scoring, language-ID and fingerprinting share
    the word split, so a combined select does a quarter of the string work
    of running them separately (and gives the driver one full-value oracle
    covering all four operators)."""
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("bigint")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_cnt = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("bigint")
    mwl = F.expr("CAST(length(text) AS BIGINT) * 100 DIV CAST(size(split(text, ' ')) AS BIGINT)")

    langs = sorted(LANG_MARKERS)
    scores = {}
    for lang in langs:
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        scores[lang] = F.size(
            F.filter(words, (lambda m: lambda w: F.array_contains(m, w))(markers))
        ).cast("bigint")
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        s = scores[lang]
        best = F.when(s > best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(s > best_score, s).otherwise(best_score)

    code = lambda w: (
        F.length(w) * F.lit(97)
        + F.ascii(F.substring(w, 1, 1))
        + F.ascii(F.substring(w, -1, 1)) * F.lit(31)
    ).cast("bigint")
    fp = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: (acc * F.lit(131) + code(w)) % F.lit(MOD),
    )

    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
        stop_cnt.alias("stopword_cnt"),
        mwl.alias("mean_word_len_x100"),
        F.when((n_tokens >= F.lit(20)) & (stop_cnt * 5 >= n_tokens), F.lit("high"))
        .when(n_tokens >= F.lit(20), F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("quality_bucket"),
        best.alias("lang_pred"),
        fp.alias("fp"),
    )


def text_analysis_vectorized(docs: DataFrame) -> DataFrame:
    """text_analysis as one Arrow batch kernel — same outputs, same integer
    math as the SQL twin, ~10× the interpreted-HOF expression version at
    scale. The order-sensitive rolling-hash fingerprint
    fp = fold(h·131 + code(w)) mod M vectorizes as
    Σ code(w_i)·131^(n-1-i) mod M with a precomputed power table and
    ``np.add.reduceat`` over doc runs (every term < 2^63/n_words, summed
    exactly in int64)."""
    import numpy as np
    import pandas as pd

    docs = balanced(docs)
    langs = sorted(LANG_MARKERS)
    stop_set = frozenset(STOPWORDS)
    marker_sets = [frozenset(LANG_MARKERS[lang]) for lang in langs]

    def gen(batches):
        pow_tab = None
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            # NULL text yields NULL analysis columns — string_split(NULL)
            # is NULL in the SQL twin and propagates through every derived
            # metric; the fillna only keeps the batch math total-function
            isnull = pdf["text"].isna().to_numpy()
            texts = pdf["text"].fillna("")
            split = texts.str.split(" ")
            ex = split.explode()
            row = ex.index.to_numpy(np.int64)
            w = ex.to_numpy(dtype=object)
            n = len(ids)
            starts = (
                np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
                if len(row)
                else np.zeros(0, np.int64)
            )
            n_words = np.diff(np.r_[starts, len(row)]) if len(starts) else np.zeros(0, np.int64)
            assert len(starts) == n  # split of any string yields >= 1 word
            lens = np.asarray([len(x) for x in w], dtype=np.int64)
            first = np.asarray([ord(x[0]) if x else 0 for x in w], dtype=np.int64)
            last = np.asarray([ord(x[-1]) if x else 0 for x in w], dtype=np.int64)
            code = lens * 97 + first + last * 31

            stop = np.asarray([x in stop_set for x in w], dtype=np.int64)
            stop_cnt = np.add.reduceat(stop, starts) if len(starts) else stop[:0]

            scores = np.empty((len(langs), n), dtype=np.int64)
            for i, ms in enumerate(marker_sets):
                hit = np.asarray([x in ms for x in w], dtype=np.int64)
                scores[i] = np.add.reduceat(hit, starts)
            best_idx = np.zeros(n, dtype=np.int64)
            best_score = scores[0].copy()
            for i in range(1, len(langs)):
                better = scores[i] > best_score
                best_idx[better] = i
                best_score = np.maximum(best_score, scores[i])

            mx = int(n_words.max()) if n else 0
            if pow_tab is None or len(pow_tab) < mx:
                pow_tab = np.ones(max(mx, 1), dtype=np.int64)
                for i in range(1, len(pow_tab)):
                    pow_tab[i] = (pow_tab[i - 1] * 131) % MOD
            pos = np.arange(len(row), dtype=np.int64) - np.repeat(starts, n_words)
            exp = np.repeat(n_words, n_words) - 1 - pos
            terms = (code % MOD) * pow_tab[exp] % MOD
            fp = np.add.reduceat(terms, starts) % MOD if len(starts) else terms[:0]

            n_chars = texts.str.len().to_numpy(np.int64)
            mwl = n_chars * 100 // n_words
            bucket = np.where(
                n_words >= 20,
                np.where(stop_cnt * 5 >= n_words, "high", "mid"),
                "low",
            )
            out = pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_tokens": n_words,
                    "n_chars_computed": n_chars,
                    "stopword_cnt": stop_cnt,
                    "mean_word_len_x100": mwl,
                    "quality_bucket": bucket,
                    "lang_pred": np.asarray(langs, dtype=object)[best_idx],
                    "fp": fp,
                }
            )
            if isnull.any():
                ints = ["n_tokens", "n_chars_computed", "stopword_cnt",
                        "mean_word_len_x100", "fp"]
                for c in ints:
                    out[c] = out[c].astype("Int64")
                out.loc[isnull, ints] = pd.NA
                out.loc[isnull, ["quality_bucket", "lang_pred"]] = None
            yield out

    id_field = docs.schema["doc_id"].dataType.simpleString()
    return docs.select("doc_id", "text").mapInPandas(
        gen,
        f"doc_id {id_field}, n_tokens bigint, n_chars_computed bigint, "
        "stopword_cnt bigint, mean_word_len_x100 bigint, quality_bucket string, "
        "lang_pred string, fp bigint",
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup: canonical doc per identical text = min doc_id; returns
    (doc_id, dup_count) for the keepers. One hash aggregate (map-side
    partial), no sort."""
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count")
    ).select("doc_id", "dup_count")


def distinct_grams(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Distinct word n-grams per document — (id_col, gram), the shared
    front stage of ngram_pairs and benchmark_overlap.

    Guard: a doc with fewer than n words has no n-grams. Without the
    filter, sequence(0, size-n) with a negative stop auto-steps DOWNWARD
    and slice(words, 0, n) throws 'array indices start at 1' at runtime —
    while the SQL twins (WHERE len >= n) silently exclude those docs.

    ``hash_grams`` replaces the gram STRING with its xxhash64 BEFORE the
    distinct, so the projection fuses into the explode's codegen stage and
    the distinct's exchange (and every downstream shuffle/join) moves a
    (id, int64) row instead of an n-word string — the dominant cost at
    corpus scale is shuffle bytes on the gram key. Deterministic (fixed
    seed); collision odds and diagnostics are discussed in ngram_pairs."""
    words = F.split(F.col(text_col), " ")
    exploded = docs.filter(F.size(words) >= n).select(
        id_col, F.explode(_gram_array(words, n)).alias("_g")
    )
    return exploded.select(
        id_col, _gram_key(hash_grams).alias("gram")
    ).distinct()


def _gram_array(words, n: int) -> "F.Column":
    """Word n-gram string array for a (pre-length-filtered) words column —
    THE gram construction, shared by distinct_grams and positional_grams
    so the negative-stop sequence guard and any future hashing/seed
    change live in one place. Callers MUST filter size(words) >= n first
    (see the guard note on distinct_grams)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(words) - F.lit(n)),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )


def _gram_key(hash_grams: bool) -> "F.Column":
    """The exploded gram column ``_g`` as the join key: xxhash64 int64
    (shuffle compression, default) or the raw string."""
    return F.xxhash64("_g") if hash_grams else F.col("_g")


def ngram_pairs(
    docs: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.5,
    gram_cap: int | None = 100_000,
    metrics_path: str | None = None,
    hash_grams: bool = True,
    operator: str = "ngram_jaccard",
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs: explode distinct n-grams, self-join
    on gram, count intersections, compute |∩|/|∪|. Returns
    (doc_a, doc_b, inter_cnt, union_cnt) with doc_a < doc_b and
    jaccard ≥ min_jaccard.

    Scale shape: the gram join is the classic dedup shuffle — grams are the
    join key, so hot grams (stopword runs, boilerplate) are the skew risk;
    the distinct() per doc bounds per-doc contribution, ``gram_cap`` drops
    grams appearing in more than that many documents BEFORE the self-join
    (a standard document-frequency cap: a quadratic bucket of boilerplate
    carries no near-dup signal; note |∪| still counts capped grams, so the
    jaccard stays a lower bound), and AQE splits residual hot keys.

    ``hash_grams`` (default on) replaces the gram STRING with its
    ``xxhash64`` before the distinct/cap/self-join, so every shuffle in
    the pipeline moves an int64 instead of an n-word string and the join
    compares 8 bytes instead of tens — the dominant cost at scale is
    shuffle bytes on the gram key. Deterministic (same seed every run), so
    results are reproducible; two distinct grams colliding would merge
    their posting lists, with birthday-bound odds ≈ g²/2^65 (≈1e-8 at a
    million distinct grams; at planet scale a handful of global collisions
    perturb inter_cnt by ±1 on the affected pairs — far below the noise
    floor of an n-gram sketch whose cap already makes jaccard a bound).
    With hashing on, the cap's ``bucket_rows_dropped`` metric records the
    xxhash64 VALUE, not the gram text; the hash is deterministic (fixed
    seed), so an offending boilerplate gram is identified by hashing
    candidate grams (``SELECT xxhash64(g)``) against the metric rows.
    """
    from .dedup import cap_hot_buckets

    grams = distinct_grams(docs, n, hash_grams=hash_grams)
    from ..cache import cached

    # persist: the exploded-distinct gram table feeds the per-doc sizes, the
    # document-frequency cap aggregate and both self-join branches — without
    # the cache the split+explode+distinct lineage runs 4x; both handles go
    # through the registry so clear_session_caches/bench sweeps release them
    uncapped = cached(grams)
    sizes = uncapped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    grams = cached(
        cap_hot_buckets(uncapped, ["gram"], gram_cap, metrics_path, operator)
    )
    a = grams.withColumnRenamed("doc_id", "doc_a")
    b = grams.withColumnRenamed("doc_id", "doc_b")
    inter = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    if metrics_path is not None:
        # recall proxy per run: pre-join pair volume from the cached capped
        # gram table (see dedup.register_pair_volume — no extra pair join)
        from .dedup import register_pair_volume

        register_pair_volume(metrics_path, operator, grams, ["gram"])
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_cnt", F.col("na") + F.col("nb") - F.col("inter_cnt"))
        .filter(F.col("inter_cnt") >= F.col("union_cnt") * F.lit(min_jaccard))
        .select("doc_a", "doc_b", "inter_cnt", "union_cnt")
    )
    return out


# Twin of bloom.bloom_probe: the exact n-gram join, kept as the probe's oracle.
def benchmark_overlap(
    train: DataFrame,
    bench: DataFrame,
    n: int = 3,
    min_hits: int = 2,
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    hash_grams: bool = True,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Training-set decontamination: flag training documents whose word
    n-grams overlap an evaluation/benchmark document — the standard
    "n-gram collision" contamination test run before training on scraped
    corpora (GPT-3 appendix C / The Pile style: a training doc is
    contaminated when it shares ≥ min_hits distinct n-grams with any
    benchmark doc; with long n (13) a single hit suffices, with short n
    the threshold absorbs incidental phrase collisions).

    Returns (doc_id, bench_id, hits, n_grams, overlap_frac) — one row per
    (training doc, benchmark doc) pair clearing ``min_hits``, where
    n_grams is the training doc's distinct-gram count and overlap_frac =
    hits / n_grams (the "fraction of the training doc explained by the
    benchmark" dedup-decision signal).

    Scale shape: the benchmark side is SMALL by construction (eval suites
    are thousands of docs; the training side is the 100 TB one), so the
    gram join broadcasts the bench gram table (flag it off if a giant
    bench set ever appears — the join degrades to the standard shuffle
    equi-join on the int64 gram key, same as ngram_pairs). The training
    side is never self-joined: cost is one explode + one broadcast probe
    per training gram, linear in corpus size."""
    tg = distinct_grams(train, n, id_col=id_col, hash_grams=hash_grams)
    bg = distinct_grams(
        bench, n, id_col=bench_id_col, hash_grams=hash_grams
    ).withColumnRenamed(bench_id_col, "_bid")
    if broadcast_bench:
        bg = F.broadcast(bg)
    from ..cache import cached

    # the gram table feeds both the per-doc sizes and the probe join
    tg = cached(tg)
    sizes = tg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        tg.join(bg, "gram")
        .groupBy(id_col, "_bid")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") >= min_hits)
    )
    return (
        hits.join(sizes, id_col)
        .select(
            id_col,
            F.col("_bid").alias(bench_id_col),
            "hits",
            "n_grams",
            (F.col("hits") / F.col("n_grams")).alias("overlap_frac"),
        )
    )


def doc_chunks(
    docs: DataFrame,
    chunk_words: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Context-window chunking — the LLM-pipeline primitive that turns long
    documents into overlapping training windows. Chunk k starts at word
    offset 1 + k*stride (1-based) and spans ``chunk_words`` words, clipped
    at the document end; offsets run while they point at an existing word,
    so every word appears in at least one chunk and tail chunks may be
    short. Documents with NULL text yield no chunks (split(NULL) → NULL
    sequence → posexplode drops the row, matching the SQL twin's
    ``text IS NOT NULL``).

    All JVM-side (split / sequence / posexplode / slice / array_join) —
    one projection + one generator, no shuffle at all; at 100 TB this is
    embarrassingly parallel over the scan."""
    if chunk_words < 1 or stride < 1:
        raise ValueError("chunk_words and stride must be positive")
    if stride > chunk_words:
        # the docstring's every-word-covered invariant would silently drop
        # words (stride - chunk_words) of every window otherwise
        raise ValueError("stride must be <= chunk_words for full coverage")
    words = F.split(F.col(text_col), " ")
    exploded = docs.select(
        F.col(id_col),
        words.alias("_w"),
        F.posexplode(F.sequence(F.lit(1), F.size(words), F.lit(stride))).alias(
            "chunk_id", "_start"
        ),
    )
    chunk = F.slice(F.col("_w"), F.col("_start"), chunk_words)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("_start").cast("bigint").alias("start_word"),
        F.size(chunk).cast("bigint").alias("n_words"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def sample_by_hash(
    df: DataFrame,
    rates: dict[str, int],
    default_rate: int = 0,
    key_col: str = "doc_id",
    strata_col: str = "lang",
    mod: int = 10_000,
) -> DataFrame:
    """Deterministic stratified sampling — the reproducible train/eval
    split primitive: keep a row iff ``splitmix64(key) % mod`` falls below
    its stratum's threshold (``rates[stratum]`` out of ``mod``; unlisted
    strata get ``default_rate``). Pure function of the key — stable under
    repartitioning, re-runs, and engine changes (the DuckDB twin restates
    splitmix64 over HUGEINT bit-for-bit), unlike ``df.sample`` whose seed
    is partition-layout-dependent. The mark is one Arrow batch kernel
    (Spark's ANSI int64 overflow rules preclude a JVM-side wraparound
    mix); the threshold test is a JVM CASE, so the filter stays a scan-
    side projection with no shuffle. NULL keys are excluded up front —
    they have no meaningful hash (and the SQL twin's splitmix64(NULL)
    mark is NULL, which every threshold comparison rejects)."""
    from ..functions.udfs import make_splitmix64_mod

    df = df.filter(F.col(key_col).isNotNull())
    mark = make_splitmix64_mod(mod)

    thresh = F.lit(default_rate)
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == stratum, F.lit(rate)).otherwise(thresh)
    return (
        df.withColumn("sample_mark", mark(F.col(key_col)))
        .filter(F.col("sample_mark") < thresh)
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, entirely row-local.

    Per document: word count, distinct-word count, duplicate-word fraction
    (×10000, integer), and the most frequent bigram with its count and
    fraction of all bigrams (×10000). Filtering on these is the standard
    "remove boilerplate/spam before training" pass (duplicate-line /
    top-n-gram fraction rules from the Gopher data pipeline, public).

    The bigram mode is computed WITHOUT a shuffle: sort the row's bigram
    array, then fold it once tracking the current and best run — ties break
    toward the lexicographically smallest bigram (the sorted order visits it
    first and later runs must be strictly longer to win). All JVM HOFs
    (split/slice/zip_with/array_sort/aggregate) inside one whole-stage
    projection: at 10^12 docs this is a pure map over the scan, shuffle
    volume zero. NULL text propagates NULLs (string_split(NULL) is NULL in
    the SQL twin).

    Docs with fewer than 2 words have no bigram: top_bigram is NULL and the
    count/fraction are 0.
    """
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    nd = F.size(F.array_distinct(words))
    bigrams = F.array_sort(
        F.zip_with(
            F.slice(words, F.lit(1), n - 1),
            F.slice(words, F.lit(2), n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    # fold state: (prev bigram, current run, best run, best bigram)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
        F.lit(None).cast("string").alias("bestb"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestb"]).alias("bestb"),
        )

    fold = F.aggregate(bigrams, init, step)

    def intdiv(a, b):
        # exact integer division for non-negative a: (a - a%b) is exactly
        # divisible, so the double division is exact (no float-truncation
        # boundary risk vs the oracle's `//`)
        return ((a - a % b) / b).cast("bigint")

    n_words = F.when(F.col("text").isNotNull(), n.cast("bigint"))
    n_distinct = F.when(F.col("text").isNotNull(), nd.cast("bigint"))
    n_bigrams = n.cast("bigint") - 1
    has_bg = F.col("text").isNotNull() & (n >= 2)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        F.when(
            F.col("text").isNotNull(),
            intdiv((n - nd).cast("bigint") * 10000, n.cast("bigint")),
        ).alias("dup_word_x10000"),
        F.when(has_bg, fold["bestb"]).alias("top_bigram"),
        F.when(has_bg, fold["best"]).otherwise(
            F.when(F.col("text").isNotNull(), F.lit(0).cast("bigint"))
        ).alias("top_bigram_cnt"),
        F.when(has_bg, intdiv(fold["best"] * 10000, n_bigrams)).otherwise(
            F.when(F.col("text").isNotNull(), F.lit(0).cast("bigint"))
        ).alias("top_bigram_x10000"),
    )


# PII redaction patterns. Each is valid (and means the same thing) in BOTH
# regex engines this repo pairs: java.util.regex (Spark's regexp_replace /
# regexp_count run JVM-side inside whole-stage codegen) and RE2 (DuckDB's
# regexp_* twins) — the shared subset avoids lookaround, backreferences and
# possessive quantifiers, none of which RE2 supports. Order matters and is
# part of the operator's definition: emails are redacted first (their
# local/domain parts may contain digit-dot runs an IP pattern could nibble),
# then phones, then IPs; each count is taken on the text as it stands at
# that step, so the counts are "what this stage actually redacted".
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, clean_text, n_emails, n_phones, n_ips): regex PII redaction
    — the standard "scrub before training" pass over a text corpus.

    Entirely JVM-side (`regexp_count` + `regexp_replace` in one projection,
    no Python, no shuffle): at 10^12 docs this is a pure map over the scan,
    exactly like the reference's per-element tag fixing
    (/root/reference/src/geometry/fixstrs.cpp style: row-local string
    surgery, embarrassingly parallel). NULL text propagates NULL outputs on
    every column (regexp_count(NULL) is NULL in both engines).
    """
    cur = F.col(text_col)
    counts = {}
    for name, pat, repl in PII_PATTERNS:
        counts[name] = F.regexp_count(cur, F.lit(pat)).cast("bigint")
        cur = F.regexp_replace(cur, pat, repl)
    return docs.select(
        "doc_id",
        cur.alias("clean_text"),
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ip"].alias("n_ips"),
    )


# BPE-style pre-tokenizer split pattern (the GPT-2 pre-tokenizer shape —
# public: contractions, space-prefixed letter runs, digit runs, punctuation
# runs, whitespace — restricted to the java.util.regex ∩ RE2 dialect subset
# like PII_PATTERNS above: no lookahead, so the trailing-space refinement
# `\s+(?!\S)` of the original is dropped; both engines scan leftmost-first
# with in-order alternation, so non-overlapping match COUNTS agree exactly).
BPE_SPLIT_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    "| ?[^A-Za-z0-9\\s]+"
    "|\\s+"
)


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens_ws, n_tokens_bpe, chars_per_tok_x100): token
    counting under BOTH conventions a training pipeline budgets with — the
    whitespace split and a BPE-style pre-tokenizer regex — plus the
    integer chars-per-token ratio (the standard "≈4 chars/token" budgeting
    statistic, ×100).

    Entirely JVM-side like pii_scrub (one `regexp_count` + `split`
    projection inside whole-stage codegen, no Python, no shuffle — a pure
    map over the scan at 10^12 docs). NULL text propagates NULL on every
    column; a zero BPE count (empty text) yields NULL ratio.
    """
    txt = F.col(text_col)
    n_ws = ws_token_count(txt)
    n_bpe = F.regexp_count(txt, F.lit(BPE_SPLIT_PATTERN)).cast("bigint")
    base = docs.select(
        "doc_id",
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        F.length(txt).cast("bigint").alias("_nc"),
    )
    # integer `div` (not float /) so the ratio is bit-identical to the
    # DuckDB twin's `//`; Catalyst collapses the two projections into one
    ratio = F.when(
        F.col("n_tokens_bpe") > 0,
        F.expr("(_nc * cast(100 as bigint)) div n_tokens_bpe"),
    )
    return base.select(
        "doc_id",
        "n_tokens_ws",
        "n_tokens_bpe",
        ratio.alias("chars_per_tok_x100"),
    )


def token_rarity(docs: DataFrame, small_vocab: bool = False) -> DataFrame:
    """(doc_id, n_tokens, min_freq, n_hapax, mean_freq_x100): corpus
    unigram-frequency rarity screen — the standard "drop documents made of
    tokens the corpus has never seen (OCR noise, mojibake) or of nothing
    but ultra-common tokens (boilerplate)" quality pass. Per document:
    whitespace-token count, the corpus frequency of its RAREST token, how
    many of its tokens are corpus hapaxes (frequency 1), and the integer
    mean corpus frequency of its token instances (×100).

    Shape at 10^12 docs: one explode + groupBy(token) builds the vocab
    (map-side partial aggregation makes the shuffle O(|vocab|) per task,
    and Heaps' law keeps |vocab| ≪ corpus); the freq lookup is a
    broadcast join when ``small_vocab`` (a planet-scale web corpus's
    vocab is ~10^7-10^8 rows of (token, int64) — broadcastable at the
    high end of executor memory, and the broadcast avoids shuffling the
    exploded corpus on a key whose head is maximally skewed: "the" hits
    one reducer otherwise). The un-broadcast path leaves skew to AQE's
    skew-join split. The exploded frame is deliberately recomputed for
    the two consumers (vocab agg, lookup join) instead of cached: it is
    |corpus tokens| rows — re-splitting the text column twice is two
    column scans; caching it is a corpus-sized memory footprint.

    Integer arithmetic end to end (counts, min, `div`) so every value is
    bit-reproducible against the SQL twin. NULL-text documents carry NULL
    on every stat column (they have no tokens — the left join restores
    them); an empty string splits to the single empty token in both
    engines and is counted like any other token.
    """
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("freq"))
    lookup = F.broadcast(vocab) if small_vocab else vocab
    per_doc = (
        toks.join(lookup, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
            F.min("freq").alias("min_freq"),
            F.sum((F.col("freq") == 1).cast("bigint")).alias("n_hapax"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "min_freq",
            "n_hapax",
            # floor(sum·100/n) decomposed as (sum div n)·100 +
            # (sum mod n)·100 div n — an exact identity that never forms
            # sum·100 (which overflows int64 when a boilerplate doc holds
            # ~10^5 copies of a ~10^12-frequency token at corpus scale,
            # precisely the documents this screen exists to flag); the
            # HUGEINT oracle computes sum·100//n directly, same value
            F.expr(
                "(sum_freq div n_tokens) * cast(100 as bigint)"
                " + ((sum_freq % n_tokens) * cast(100 as bigint)) div n_tokens"
            ).alias("mean_freq_x100"),
        )
    )


def source_quota_cap(
    docs: DataFrame,
    cap: int,
    key_col: str = "source",
    id_col: str = "doc_id",
    oversample: float = 4.0,
) -> DataFrame:
    """(id, key, quota_rank ≤ cap): deterministic per-source document cap —
    the "no single domain dominates the training mix" curation pass. The
    kept set is EXACTLY the ``cap`` smallest (splitmix64(id), id) pairs per
    key: a reproducible uniform pseudo-random sample that is stable across
    runs, partitionings and cluster sizes (no rand(), no row order
    dependence), with ``quota_rank`` the element's position in that order.

    Scale shape: the naive form — one rank window over the corpus — sorts
    ALL 10^12 rows inside per-key partitions whose sizes follow the web's
    domain skew. Instead the mark's uniformity prunes first:

    1. per-key counts (one map-side-combined agg, |keys| rows, broadcast);
    2. keep rows with mark ≤ thr(key) where thr ≈ 2^63·oversample·cap/n —
       the window's input shrinks to ~oversample·cap rows per key
       regardless of domain size (the threshold uses double math: it only
       PRUNES, exactness never depends on it);
    3. rank the survivors; any key whose survivor count fell below
       min(cap, n) — probability ≈ exp(-(oversample-1)²·cap/2/oversample),
       ~1e-19 per key at the defaults — is re-ranked from its full row set
       via the declarative fallback branch (semi-join + window), so the
       result is exact even when the tail probability fires. The whole
       operator stays lazy: no driver-side actions, the deficit check is a
       broadcast anti-join in the plan.

    The survivor-rank-≤-cap ⇒ true-rank-≤-cap argument: if a key keeps
    ≥ min(cap, n) survivors, every true top-cap row has mark below at
    least cap survivor marks, hence below thr, hence IS a survivor.

    NULL ids are excluded (they have no mark — same rule as
    sample_by_hash); NULL keys form their own quota group (struct-wrapped
    join keys make the joins null-safe).
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    from pyspark.sql import Window

    from ..functions.udfs import make_splitmix64_mod

    m63 = 1 << 63
    mark = make_splitmix64_mod(m63)
    base = docs.filter(F.col(id_col).isNotNull()).select(
        id_col,
        key_col,
        F.struct(F.col(key_col).alias("k")).alias("_k"),
        mark(F.col(id_col)).alias("_mark"),
    )
    counts = base.groupBy("_k").agg(F.count("*").alias("_n"))
    full = float(cap) * float(oversample)
    thr = F.when(F.col("_n").cast("double") <= F.lit(full), F.lit(m63 - 1)).otherwise(
        (F.lit(float(m63)) * F.lit(full) / F.col("_n").cast("double")).cast("bigint")
    )
    counts = counts.select("_k", "_n", thr.alias("_thr"))
    with_thr = base.join(F.broadcast(counts), "_k")
    surv = with_thr.filter(F.col("_mark") <= F.col("_thr"))
    w = Window.partitionBy("_k").orderBy("_mark", id_col)
    # keys whose survivor set fell below min(cap, n): left join so keys
    # with ZERO survivors (absent from the survivor agg) are included
    n_surv = surv.groupBy("_k").agg(F.count("*").alias("_ns"))
    deficient = (
        counts.join(n_surv, "_k", "left")
        .filter(
            F.coalesce(F.col("_ns"), F.lit(0))
            < F.least(F.lit(cap).cast("bigint"), F.col("_n"))
        )
        .select("_k")
    )
    ok = surv.join(F.broadcast(deficient), "_k", "left_anti").withColumn(
        "_rk", F.row_number().over(w)
    )
    fallback = with_thr.join(F.broadcast(deficient), "_k", "leftsemi").withColumn(
        "_rk", F.row_number().over(w)
    )
    return (
        ok.unionByName(fallback.select(*ok.columns))
        .filter(F.col("_rk") <= cap)
        .select(id_col, key_col, F.col("_rk").cast("bigint").alias("quota_rank"))
    )


def corpus_mix(docs: DataFrame) -> DataFrame:
    """(lang, source, n_docs, n_tokens, n_chars, share_docs_x10000,
    share_tokens_x10000): the training-mixture report — how the corpus
    divides across language × domain, by document count and token mass.
    This is the table a data-mixing plan is written against (per-language
    / per-source sampling weights), and the monitoring artifact that
    catches a crawler or filter suddenly skewing the mix.

    One groupBy(lang, source) with map-side partial aggregation — the
    shuffle carries |langs × sources| rows per task, not documents. The
    share denominators come from a second aggregate over the GROUPED
    frame (|groups| rows, a driver-scale window with no partition key —
    fine because its input is the tiny aggregate, never the corpus).
    Integer shares (×10000, floor) so values are bit-reproducible; NULL
    lang/source are their own groups (a real pipeline wants unlabeled
    mass VISIBLE, not dropped); NULL text counts 0 tokens/chars toward
    its group's mass but still counts as a document.
    """
    from pyspark.sql import Window

    g = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.coalesce(ws_token_count(F.col("text")), F.lit(0).cast("bigint"))
        ).alias("n_tokens"),
        F.sum(F.coalesce(F.length("text").cast("bigint"), F.lit(0))).alias("n_chars"),
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.expr("n_docs * cast(10000 as bigint)").alias("_sd"),
        F.expr("n_tokens * cast(10000 as bigint)").alias("_st"),
        F.sum("n_docs").over(w).alias("_td"),
        F.sum("n_tokens").over(w).alias("_tt"),
    ).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.expr("_sd div _td").alias("share_docs_x10000"),
        F.when(F.col("_tt") > 0, F.expr("_st div _tt"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("share_tokens_x10000"),
    )


def positional_grams(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """(id, pos, gram): word k-grams WITH their 0-based start position —
    the positional twin of distinct_grams (which drops positions; span
    detection needs them). Same guards (docs shorter than k have no
    grams) and the same xxhash64-before-shuffle compression: every
    downstream exchange moves (id, int, int64) instead of k-word strings.
    Construction is the shared :func:`_gram_array` / :func:`_gram_key`.
    """
    words = F.split(F.col(text_col), " ")
    ex = docs.filter(F.size(words) >= k).select(
        id_col, F.posexplode(_gram_array(words, k)).alias("pos", "_g")
    )
    return ex.select(id_col, "pos", _gram_key(hash_grams).alias("gram"))


def shared_span_pairs(
    docs: DataFrame,
    k: int = 5,
    min_span: int = 8,
    gram_cap: int | None = 100_000,
    metrics_path: str | None = None,
    hash_grams: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, max_span_tokens, n_runs): exact shared-substring
    detection — for every document pair sharing a contiguous run of at
    least ``min_span`` identical tokens, the LONGEST such run and how many
    maximal shared runs exist. This is the "Deduplicating Training Data
    Makes Language Models Better" (Lee et al. 2022, public) ExactSubstr
    criterion re-expressed relationally: instead of a suffix array over
    the concatenated corpus (a global sorted structure that fights the
    shuffle model), matched positional k-grams are folded into diagonal
    runs — a matched k-gram at positions (pa, pb) lies on diagonal
    pa − pb, and r CONSECUTIVE matches on one diagonal certify a shared
    span of exactly r + k − 1 tokens (each match extends the previous by
    one token). Gaps-and-islands (pa − row_number over the diagonal)
    turns runs into groups; two aggregates finish the job.

    Scale shape: identical to ngram_pairs — the gram equi-join is the one
    big shuffle, document-frequency-capped (``gram_cap`` drops boilerplate
    grams BEFORE the self-join, drops committed to the metrics table) and
    hash-compressed; the diagonal-run window partitions by (pair, diag),
    whose groups are bounded by document length, never corpus size. The
    min_span filter is applied at the LAST aggregate, where rows are
    already pair-level. Spans shorter than k are invisible by
    construction (k is the detection floor, the standard ExactSubstr
    tradeoff); ``min_span`` must be ≥ k.

    Like ngram_pairs, hashed grams can collide (odds ≈ g²/2^65): a
    collision fabricates one matched position, which can only extend a
    run if it ALSO lands on an existing pair's diagonal — vanishing at
    fixture scale, ±1-token noise on a handful of pairs at planet scale.
    """
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    spans = _diagonal_runs(
        docs, k, gram_cap, metrics_path, hash_grams, operator="shared_span"
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("_run") + F.lit(k - 1)).cast("bigint").alias("max_span_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        )
        .filter(F.col("max_span_tokens") >= min_span)
    )


def _diagonal_runs(
    docs: DataFrame,
    k: int,
    gram_cap: int | None,
    metrics_path: str | None,
    hash_grams: bool,
    operator: str,
) -> DataFrame:
    """Shared maximal-run stage of shared_span_pairs / dedup_span_mask:
    (doc_a < doc_b, diag, _pa0, _pb0, _run) — each row one maximal run of
    ``_run`` consecutive matched k-grams starting at token _pa0 in doc_a /
    _pb0 in doc_b, certifying a shared span of _run + k − 1 tokens.
    ``operator`` keys the cap-drop and pair-volume metrics: the two
    callers must register under DISTINCT names (the pending-metrics
    registry dedupes by (operator, metric), so a shared name would let
    one caller's frame silently replace the other's)."""
    from pyspark.sql import Window

    from ..cache import cached
    from .dedup import cap_hot_buckets

    grams = cached(positional_grams(docs, k, hash_grams=hash_grams))
    capped = cached(
        cap_hot_buckets(grams, ["gram"], gram_cap, metrics_path, operator)
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "gram"
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "gram"
    )
    hits = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    if metrics_path is not None:
        from .dedup import register_pair_volume

        register_pair_volume(metrics_path, operator, capped, ["gram"])
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = hits.withColumn("_isl", F.col("pa") - F.row_number().over(w))
    return runs.groupBy("doc_a", "doc_b", "diag", "_isl").agg(
        F.count(F.lit(1)).alias("_run"),
        F.min("pa").alias("_pa0"),
        (F.min("pa") - F.col("diag")).alias("_pb0"),
    )


def token_shards(
    docs: DataFrame,
    shard_tokens: int,
    band: int = 1 << 20,
) -> DataFrame:
    """(doc_id, n_tokens, shard_id, offset_in_shard): fixed-token-budget
    shard assignment — the "pack the curated corpus into ~N-token training
    shards" step. The spec is a GLOBAL exclusive prefix sum in doc_id
    order: start(d) = Σ tokens of all docs with smaller id; the doc's
    shard is start div shard_tokens and its position in it start mod
    shard_tokens (documents straddle shard boundaries, as sequence
    packing does).

    A global ordered window is one task in Spark — useless at 10^12 docs.
    This is the classic two-level distributed prefix sum, kept fully
    declarative AND independent of physical partitioning (no
    spark_partition_id, whose values depend on the sampled range
    boundaries): rows band by VALUE (doc_id div band), so the grouping is
    a pure function of the data.

    1. per-band token totals — one map-side-combined aggregate,
       |bands| = id_range/band rows;
    2. exclusive band offsets — ONE unpartitioned window over the tiny
       band table (10^6 rows at 10^12 docs / band 2^20: a single-task
       sort of megabyte scale, the deliberate driver-bounded step exactly
       like the qttree grouping collect);
    3. within-band exclusive cumsum — a window partitioned by band
       (groups ≤ band docs), plus the broadcast band offset.

    All integer (sums < 2^63 at any plausible corpus), so div/mod on
    nonnegative values are engine-exact. NULL doc_id rows are excluded
    (the order spec needs a key); NULL text counts 0 tokens but still
    occupies its ordered slot.
    """
    if shard_tokens <= 0:
        raise ValueError(f"shard_tokens must be positive, got {shard_tokens}")
    from pyspark.sql import Window

    base = docs.filter(F.col("doc_id").isNotNull()).select(
        "doc_id",
        F.coalesce(ws_token_count(F.col("text")), F.lit(0).cast("bigint")).alias(
            "n_tokens"
        ),
        (F.col("doc_id") - (F.col("doc_id") % band)).alias("_band"),
    )
    sums = base.groupBy("_band").agg(F.sum("n_tokens").alias("_btotal"))
    wo = Window.orderBy("_band").rowsBetween(Window.unboundedPreceding, -1)
    offs = sums.select(
        "_band",
        F.coalesce(F.sum("_btotal").over(wo), F.lit(0).cast("bigint")).alias("_boff"),
    )
    wl = Window.partitionBy("_band").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.col("_boff") + F.coalesce(
        F.sum("n_tokens").over(wl), F.lit(0).cast("bigint")
    )
    return (
        base.join(F.broadcast(offs), "_band")
        .withColumn("_start", start)
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"_start div {int(shard_tokens)}").alias("shard_id"),
            (F.col("_start") % shard_tokens).cast("bigint").alias("offset_in_shard"),
        )
    )


def dedup_span_mask(
    docs: DataFrame,
    k: int = 5,
    min_span: int = 8,
    gram_cap: int | None = 100_000,
    metrics_path: str | None = None,
    hash_grams: bool = True,
) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_intervals, dup_frac_x10000):
    the REMOVAL half of ExactSubstr dedup (Lee et al. 2022) — for every
    document, the merged union of token intervals that duplicate a span
    of ≥ min_span tokens in some SMALLER-id document (the canonical
    "keep the first copy" rule: the smallest id keeps its text, every
    later copy is masked). A training pipeline drops or trims documents
    on dup_frac; dup_intervals says whether the duplication is one
    boilerplate block or scattered.

    Built on the same diagonal-run stage as shared_span_pairs (one gram
    self-join, document-frequency-capped and hash-compressed): each
    maximal run yields doc_b's interval [pb0, pb0 + run + k − 2]; the
    per-document merge is a second gaps-and-islands pass — cumulative
    max of preceding interval ends marks island starts (overlapping OR
    adjacent intervals merge, so every duplicated token is counted
    exactly once). Window groups are bounded by a document's interval
    count, never corpus size.

    NULL-text documents carry NULL stats; clean documents (including
    those shorter than k) carry zeros. Within-document repetitions are
    NOT masked (the pair join is doc_a < doc_b; in-doc repetition is
    repetition_stats' scope).
    """
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    from pyspark.sql import Window

    runs = _diagonal_runs(
        docs, k, gram_cap, metrics_path, hash_grams, operator="span_mask"
    )
    iv = runs.filter(F.col("_run") + F.lit(k - 1) >= min_span).select(
        F.col("doc_b").alias("doc_id"),
        F.col("_pb0").alias("_s"),
        (F.col("_pb0") + F.col("_run") + F.lit(k - 2)).alias("_e"),
    )
    wo = Window.partitionBy("doc_id").orderBy("_s", "_e")
    prev_max = F.max("_e").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("_s") > prev_max + 1), 1).otherwise(0),
    )
    grp = F.sum("_new").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    merged = (
        marked.withColumn("_g", grp)
        .groupBy("doc_id", "_g")
        .agg((F.max("_e") - F.min("_s") + 1).alias("_len"))
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sum("_len").cast("bigint").alias("_dup"),
        F.count(F.lit(1)).cast("bigint").alias("_niv"),
    )
    nt = ws_token_count(F.col("text"))
    base = docs.select("doc_id", nt.alias("n_tokens"))
    zero = F.lit(0).cast("bigint")
    has = F.col("n_tokens").isNotNull()
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.when(has, F.coalesce(F.col("_dup"), zero)).alias("dup_tokens"),
        F.when(has, F.coalesce(F.col("_niv"), zero)).alias("dup_intervals"),
        F.when(
            has,
            F.expr("coalesce(_dup, cast(0 as bigint)) * 10000 div n_tokens"),
        ).alias("dup_frac_x10000"),
    )


def shard_manifest(
    docs: DataFrame,
    shard_tokens: int,
    band: int = 1 << 20,
) -> DataFrame:
    """(shard_id, n_docs, n_tokens, min_doc, max_doc): the per-shard
    manifest over :func:`token_shards` — the text-side twin of the tile
    sink's lineage table (operators/sortblocks.py): a resuming writer
    reads the manifest, sees which shard ids are committed, and restarts
    from the first absent one; min/max doc bound each shard's id range so
    a shard can be re-derived (and audited) from the source table alone.
    The aggregate is :func:`assignment_manifest`, which the curation
    shards stage runs over its committed assignment instead."""
    return assignment_manifest(token_shards(docs, shard_tokens, band))


def assignment_manifest(assignment: DataFrame) -> DataFrame:
    """The shard manifest of a :func:`token_shards` assignment: one
    groupBy(shard_id) over (shard_id, doc_id, n_tokens) — map-side
    combined, |shards| output rows."""
    return assignment.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# quality_gate reason bits (stable public contract: downstream reporting
# aggregates on the bitmask, so bit positions are part of the operator spec)
QG_SHORT, QG_REPETITIVE, QG_COMMON, QG_GIBBERISH = 1, 2, 4, 8


def quality_gate(
    docs: DataFrame,
    min_tokens: int = 20,
    max_dup_x10000: int = 5000,
    max_top_bigram_x10000: int = 1800,
    max_mean_freq_x100: int = 91000,
    small_vocab: bool = False,
) -> DataFrame:
    """(doc_id, n_tokens, reasons, keep): the composite Gopher-style
    keep/drop decision — the single surface a curation pipeline filters
    on, with WHY preserved as a bitmask (1 = too short, 2 = repetitive:
    duplicate-word or top-bigram fraction, 4 = too common: mean corpus
    token frequency above threshold i.e. boilerplate, 8 = gibberish:
    majority corpus-hapax tokens i.e. OCR noise/mojibake). Keeping the
    reasons is what makes drop-rate dashboards and threshold tuning
    possible; ``keep`` is simply reasons == 0.

    Composes the row-local repetition stage (one shuffle-free projection)
    with the corpus-frequency stage (vocab agg + broadcast lookup) and
    joins them on doc_id — each input stat is computed by exactly the
    operator that already gates it, so this adds one join and a bitmask
    projection, no new kernels. NULL-text documents carry NULL
    reasons/keep (they need a manual-inspection queue, not a silent
    drop/keep).
    """
    rep = repetition_stats(docs)
    rar = token_rarity(docs, small_vocab=small_vocab).select(
        "doc_id", "n_hapax", "mean_freq_x100"
    )
    j = rep.join(rar, "doc_id")
    nw = F.col("n_words")
    reasons = (
        F.when(nw < min_tokens, QG_SHORT).otherwise(0)
        + F.when(
            (F.col("dup_word_x10000") > max_dup_x10000)
            | (F.col("top_bigram_x10000") > max_top_bigram_x10000),
            QG_REPETITIVE,
        ).otherwise(0)
        + F.when(F.col("mean_freq_x100") > max_mean_freq_x100, QG_COMMON).otherwise(0)
        + F.when(F.col("n_hapax") * 2 > nw, QG_GIBBERISH).otherwise(0)
    ).cast("bigint")
    return j.select(
        "doc_id",
        nw.alias("n_tokens"),
        F.when(nw.isNotNull(), reasons).alias("reasons"),
        F.when(nw.isNotNull(), reasons == 0).alias("keep"),
    )
