"""Full-text top-k retrieval over the documents table — inverted-index
BM25, engineered for bit-exact cross-engine scoring.

The classic BM25 pipeline is postings + document stats + a per-(query, doc)
sum of term weights. Two float hazards make the textbook formula
un-oracle-able across engines: ``ln`` in the idf (JVM Math.log and DuckDB's
libm differ by ulps) and the per-pair SUM of doubles (shuffle order changes
the rounding). This operator removes both:

* the idf is the RATIONAL Robertson form without the log,
  (N - df + 0.5) / (df + 0.5) — a monotone surrogate of ln(1 + that)
  (log-damped weighting compresses the same ORDER of term importance; the
  surrogate spreads it wider — documented variant, not hidden);
* every real-valued factor is computed with exactly-rounded double ops
  only (+ - * /, same operand order in the Spark plan and the SQL twin)
  and immediately floor-scaled to an int64;
* the per-(query, doc) score is a SUM OF INTEGERS — associative, exact,
  shuffle-order-free: score = Σ_t floor(S·idf_t) * floor(S·tfnorm_t,d)
  with tfnorm = tf / (tf + k1·(1 - b + b·dl/avgdl)).

Scale shape: postings (doc, term, tf) and document lengths come from one
explode + two aggregates; the query term list is diff-scale and BROADCAST
into the postings scan (an inverted-index probe, not a shuffle of the
corpus); df joins only the queried terms. A ``df_cap`` drops stopword-like
query terms whose posting lists would explode the candidate set (WAND-style
pruning's blunt cousin), with drops committed to the metrics table — never
silent (cap_hot_buckets contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCALE = 1_000_000  # integer scaling of idf / tfnorm (≈6 decimal digits)
# idf winsorization: the rational idf explodes as n_docs/df grows (where the
# classic ln compresses), and an unbounded idf_int overflows the int64 score
# product once n_docs > ~1.4e7. Capping the scaled idf at 1e9 (idf ratio
# 1000 — only terms rarer than one-in-a-thousand docs saturate, and saturated
# rarity is closer to ln's compression than the raw ratio) bounds
# idf_int·tfnorm_int ≤ 1e15, so even 1000-term queries sum < 2^63 exactly —
# in BOTH engines (Spark would wrap silently, DuckDB would raise; neither
# can happen under the cap).
IDF_INT_MAX = 1_000_000_000


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) rows — whitespace tokens, empty terms dropped (split on
    runs keeps "" for leading/trailing spaces)."""
    return df.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    df_cap: int | None = None,
    metrics_path: str | None = None,
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score, rank) — integer BM25 scores, rank ≤ k per
    query, ties broken by doc_id ascending (the engine-wide top-k rule).
    Only documents sharing ≥1 term with the query appear (score > 0)."""
    from ..cache import cached

    toks = _tokens(docs, id_col, text_col)
    # postings + doc lengths from ONE token pass: tf per (doc, term), then
    # dl = Σ tf per doc (cached — feeds dl, df and the probe join)
    tf = cached(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    # corpus stats as a broadcast 1-row frame (kept in-plan: no driver
    # action at build time, exactly like the SQL twin's stats CTE)
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
    ).crossJoin(tf.agg(F.sum("tf").alias("total_len")))
    qterms = _tokens(queries, qid_col, text_col).distinct()
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # df only for QUERIED terms — semi-join against the broadcast query
    # term list, so the corpus-wide df table never shuffles whole
    qdf = df_t.join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
    probe = qterms.join(F.broadcast(qdf), "term")
    if df_cap is not None:
        # the probe is the broadcast side (one row per query term), so it
        # is collected once: the drops are recorded from it and the join
        # reads its kept rows
        rows = probe.collect()
        if metrics_path is not None:
            from .. import metrics

            # distinct (term, df): probe carries query_id, and a hot term
            # shared by many queries must commit ONE drop row, not one per
            # query (downstream sums would double-count)
            metrics.record_rows(
                metrics_path, "bm25", "query_term_df_dropped",
                sorted({(r["term"], r["df"]) for r in rows if r["df"] > df_cap}),
            )
        probe = docs.sparkSession.createDataFrame(
            [r for r in rows if r["df"] <= df_cap], probe.schema
        )
    probe = F.broadcast(probe)
    # candidate hits: postings ⋈ broadcast(query terms + df) — the
    # inverted-index probe; dl re-attaches per candidate doc
    hits = tf.join(probe, "term").join(dl, id_col)
    idf_int = F.least(
        F.floor(
            F.lit(float(SCALE))
            * (((F.col("n_docs") - F.col("df")) + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
        ),
        F.lit(IDF_INT_MAX),
    )
    avgdl = F.col("total_len") / F.col("n_docs")
    den = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + (F.lit(b) * F.col("dl")) / avgdl
    )
    tfnorm_int = F.floor(F.lit(float(SCALE)) * F.col("tf") / den)
    scored = (
        hits.crossJoin(F.broadcast(stats))
        .withColumn("_w", (idf_int * tfnorm_int).cast("bigint"))
        .groupBy(qid_col, id_col)
        .agg(F.sum("_w").alias("score"))
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "score", "rank")
    )
