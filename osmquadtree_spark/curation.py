"""End-to-end resumable CURATION pipeline over the documents table —
the text-side twin of the tiling pipeline (pipeline.py): the same
manifest-last stage-commit shape (Iceberg-snapshot stand-in), the same
resume-from-first-uncommitted-stage semantics, chaining the curation
operators a training-data pipeline actually runs:

  stage "quality"  Gopher-style keep/drop with reason bitmask
                   (operators/docs.quality_gate with keep_columns: ONE
                   join, docs ⋈ the per-doc rarity aggregate, and the
                   bitmask projected next to the doc columns)
  stage "dedup"    MinHash-LSH near-dup pairs → connected components →
                   canonical representative per cluster
                   (operators/dedup.minhash_lsh_pairs +
                    operators/components.connected_components)
  stage "decon"    Bloom-filter benchmark decontamination over the
                   surviving canonicals (operators/bloom — the
                   shuffle-free probe path); benchmark doc_ids are
                   anti-joined out of the corpus FIRST (train =
                   doc_id % mod != 0, the q_contaminate_bloom
                   convention) so bench docs can never leak into the
                   final shards as training rows; the probe passes the
                   doc columns through and the write drops its
                   contaminated rows (no anti-join back onto the corpus)
  stage "weights"  DSIR importance weights vs the benchmark target
                   (operators/dsir, λ artifact committed inside)
  stage "shards"   fixed-token-budget shard packing + per-shard
                   manifest (operators/docs.token_shards /
                    assignment_manifest — the resume/lineage table)

Every stage writes its own directory under ``out_dir`` and commits by
writing ``_manifest.json`` LAST; a killed run re-invoked with the same
``out_dir`` skips committed stages and reads each stage's INPUT from the
previous stage's committed parquet — no recomputation of upstream
lineage on resume. The read uses the schema the manifest records
(``commit.read_committed``), so a stage boundary costs no footer
inference job. NULL-text documents are counted into a ``manual_queue``
bucket at the quality stage (quality_gate returns NULL keep for them —
they need inspection, not a silent drop) and excluded from every
downstream stage.

Commit-cost shape: stage row counts come from the WRITE job itself
(``commit.write_observed``, shared with the tiling pipeline) via the
observation API (``DataFrame.observe`` — accumulator-backed,
exactly-once per successful job), not a read-back ``count()``;
at 100 TB a per-stage re-listing + footer scan of every output file
would double the pipeline's IO for numbers the write already knows. The
only post-write read inside a stage is the per-shard manifest, a
summary a write-side observation cannot express: one column-pruned
groupBy(shard_id) over the committed shard assignment, read with the
write's schema, instead of re-running the assignment's two-level prefix
sum (the tile lineage aggregate has the same shape). ``verify=True``
restores the read-back as an explicit integrity mode: each stage
re-counts its committed parquet and the manifest records
``verified_rows``.

Scale shape: every stage is the library operator (each individually
plan-gated and value-gated in the sweep registry); the pipeline adds
only parquet checkpoints between them.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .commit import (
    commit_manifest, is_committed, read_committed, read_manifest, write_observed,
)

BENCH_MOD_DEFAULT = 41  # every 41st doc is the synthetic benchmark set


def stage_quality(
    spark,
    docs: DataFrame,
    path: str,
    quality_params: dict | None = None,
    verify: bool = False,
) -> dict:
    """quality_gate over the full corpus; keeps the input columns beside
    (reasons, keep) so downstream stages read one table. The gate's
    ``keep_columns`` projects its decision next to the docs columns in
    its one join (docs ⋈ the per-doc rarity aggregate), so the stage does
    not join the decision back onto the text. ``quality_params``
    forwards threshold kwargs to quality_gate — the drop-rate tuning
    surface the reason histogram in this stage's manifest exists to
    inform."""
    if is_committed(path):
        return read_manifest(path)
    t0 = time.time()
    from .operators.docs import quality_gate

    joined = quality_gate(docs, **(quality_params or {}), keep_columns=True)
    # the reason histogram rides the write's observe too: `reasons` is a
    # 4-bit mask, so its 16 possible values (+ the NULL-text bucket) are a
    # FIXED set of count_if aggregates — no groupBy, no post-write read
    hist_aggs = {
        f"_r{k}": F.count_if(F.col("reasons") == k) for k in range(16)
    }
    w = write_observed(
        joined,
        path,
        extra={
            "kept": F.count_if(F.col("keep") == True),  # noqa: E712
            "manual_queue": F.count_if(F.col("keep").isNull()),
            **hist_aggs,
        },
        verify=verify,
    )
    hist = {str(k): w.pop(f"_r{k}") for k in range(16)}
    hist = {k: v for k, v in hist.items() if v}
    if w["manual_queue"]:
        hist["null"] = w["manual_queue"]
    return commit_manifest(
        path,
        {
            **w,
            "dropped": w["rows"] - w["kept"] - w["manual_queue"],
            "reason_histogram": hist,
            "elapsed_sec": time.time() - t0,
        },
    )


def stage_dedup(
    spark,
    quality_path: str,
    path: str,
    metrics_path: str | None = None,
    verify: bool = False,
) -> dict:
    """Near-dup clusters over the quality survivors; output = survivors
    with (component_id, is_canonical). Non-clustered docs are their own
    canonical. Nothing is dropped at this stage — ``non_canonical`` rows
    are kept (flagged false) and excluded later, at decon.
    ``metrics_path`` commits the hot-bucket drop counts and
    component-convergence rounds alongside (the production observability
    surface — silent caps are how recall loss hides)."""
    if is_committed(path):
        return read_manifest(path)
    t0 = time.time()
    from .operators.components import connected_components
    from .operators.dedup import minhash_lsh_pairs

    docs = read_committed(spark, quality_path).filter(F.col("keep") == True)  # noqa: E712
    pairs = minhash_lsh_pairs(
        docs.select("doc_id", "text"), metrics_path=metrics_path
    ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    comp = connected_components(
        pairs, metrics_path=metrics_path, operator="curation_components"
    ).select(F.col("node").alias("doc_id"), "component_id")
    out = (
        docs.join(comp, "doc_id", "left")
        .withColumn(
            "component_id", F.coalesce(F.col("component_id"), F.col("doc_id"))
        )
        .withColumn("is_canonical", F.col("component_id") == F.col("doc_id"))
    )
    w = write_observed(
        out, path, extra={"canonical": F.count_if(F.col("is_canonical"))},
        verify=verify,
    )
    return commit_manifest(
        path,
        {
            **w,
            "non_canonical": w["rows"] - w["canonical"],
            "elapsed_sec": time.time() - t0,
        },
    )


def stage_decon(
    spark,
    dedup_path: str,
    path: str,
    bench: DataFrame,
    min_hits: int = 2,
    m_bits: int = 1 << 20,
    k: int = 4,
    n: int = 3,
    exclude_bench: bool = True,
    verify: bool = False,
) -> dict:
    """Bloom probe of the canonical survivors against the benchmark set;
    output keeps only clean docs, manifest records the flagged count and
    the filter's fill factor (the false-positive-rate driver).

    ``exclude_bench`` anti-joins the benchmark's doc_ids out of the
    corpus BEFORE the probe (the planner picks the join: a bench slice
    of O(corpus/41) rows need not fit a broadcast, and a small eval set
    still broadcasts under the default threshold): when bench is carved
    from the corpus itself (the default every-Nth slice), the probe
    alone only removes bench docs that self-flag with ≥ min_hits
    distinct grams, so short bench docs would leak into the final shards
    as training rows AND be double-counted as target+raw by the weights
    stage. Set False only
    for an external eval set whose doc_id namespace is unrelated to the
    corpus. The probe itself runs ONCE, as the stage write: it passes
    the doc columns through (``keep_columns``), so the write keeps the
    rows whose ``contaminated`` is not true instead of anti-joining the
    flagged ids back onto the probe's own input, and the probed count is
    an observation on the probe's output."""
    if is_committed(path):
        return read_manifest(path)
    t0 = time.time()
    from .operators import bloom as bl

    bf = bl.collect_bloom(bl.bloom_build(bench, n=n, m_bits=m_bits, k=k))
    dedup = read_manifest(dedup_path)
    canonical_total = int(dedup["canonical"])
    docs = read_committed(spark, dedup_path, dedup).filter("is_canonical")
    if exclude_bench:
        docs = docs.join(bench.select("doc_id").distinct(), "doc_id", "left_anti")
    probe_obs = Observation()
    out = (
        bl.bloom_probe(docs, bf, min_hits=min_hits, keep_columns=True)
        .observe(probe_obs, F.count(F.lit(1)).alias("probed"))
        .filter(~F.coalesce(F.col("contaminated"), F.lit(False)))
        .select(*docs.columns)
    )
    w = write_observed(out, path, verify=verify)
    probed_rows = int(probe_obs.get["probed"])
    import numpy as np

    set_bits = int(np.unpackbits(bf.bitmap).sum())
    return commit_manifest(
        path,
        {
            **w,
            "probed": probed_rows,
            "flagged": probed_rows - w["rows"],
            "bench_excluded": canonical_total - probed_rows,
            "bloom_fill_x10000": set_bits * 10000 // bf.m_bits,
            "elapsed_sec": time.time() - t0,
        },
    )


def stage_weights(
    spark,
    decon_path: str,
    path: str,
    bench: DataFrame,
    n_buckets: int = 512,
    verify: bool = False,
) -> dict:
    """DSIR weights of the clean survivors vs the benchmark target; the
    λ artifact commits under this stage's directory (atomic tmp+swap)."""
    if is_committed(path):
        return read_manifest(path)
    t0 = time.time()
    from .operators.dsir import dsir_weights

    docs = read_committed(spark, decon_path).select("doc_id", "text")
    both = docs.withColumn("is_target", F.lit(False)).unionByName(
        bench.select("doc_id", "text").withColumn("is_target", F.lit(True))
    )
    # keep_text: the probe emits (doc_id, text, n_feats, weight_x)
    # directly, so the stage write is the probe's own pass — no
    # corpus-sized join-back of weights onto text
    out = dsir_weights(
        both, n_buckets=n_buckets,
        lambda_path=os.path.join(path, "lambda"),
        keep_text=True,
    )
    w = write_observed(out, path, verify=verify)
    return commit_manifest(
        path,
        {**w, "n_buckets": n_buckets, "elapsed_sec": time.time() - t0},
    )


def stage_shards(
    spark, weights_path: str, path: str, shard_tokens: int, verify: bool = False
) -> dict:
    """Token-budget shard packing of the final corpus + the per-shard
    lineage manifest a resuming shard writer restarts from. The packing
    (token_shards' two-level prefix sum) runs once, in the assignment
    write; the manifest is one column-pruned groupBy(shard_id) over the
    committed assignment, read with the write's schema
    (docs.assignment_manifest — the aggregate the shard_manifest gate
    runs). The manifest totals (shards / docs / tokens) are observed on
    the manifest write, and the observed docs must equal the assignment's
    observed rows."""
    if is_committed(path):
        return read_manifest(path)
    t0 = time.time()
    from .operators.docs import assignment_manifest, token_shards

    docs = read_committed(spark, weights_path).select("doc_id", "text")
    w = write_observed(token_shards(docs, shard_tokens), path, verify=verify)
    man = assignment_manifest(read_committed(spark, path, w))
    obs = Observation()
    man.observe(
        obs,
        F.count(F.lit(1)).alias("shards"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
    ).write.mode("overwrite").parquet(os.path.join(path, "manifest"))
    got = {k: int(v) if v is not None else 0 for k, v in obs.get.items()}
    if got["docs"] != w["rows"]:
        raise RuntimeError(
            f"shard manifest at {path} covers {got['docs']} docs, the "
            f"assignment write observed {w['rows']}"
        )
    if verify:
        man_r = spark.read.parquet(os.path.join(path, "manifest"))
        rb = int(man_r.count())
        if rb != got["shards"]:
            raise RuntimeError(
                f"stage verify failed at {path}: wrote {got['shards']} "
                f"manifest rows, read back {rb}"
            )
        got["verified_rows"] = rb
    return commit_manifest(
        path,
        {
            **got,
            "schema": w["schema"],
            "shard_tokens": shard_tokens,
            "elapsed_sec": time.time() - t0,
        },
    )


def run_curation(
    spark: SparkSession,
    docs: DataFrame | None,
    out_dir: str,
    bench: DataFrame | None = None,
    bench_mod: int = BENCH_MOD_DEFAULT,
    shard_tokens: int = 4096,
    quality_params: dict | None = None,
    stop_after: str | None = None,
    exclude_bench: bool = True,
    verify: bool = False,
) -> dict:
    """Run (or resume) the curation chain. ``docs`` may be None on resume
    when stage "quality" is already committed. ``bench`` defaults to the
    every-``bench_mod``-th synthetic benchmark slice of ``docs`` (the
    sweep-registry convention); pass a real eval-set DataFrame in
    production (with ``exclude_bench=False`` if its doc_id namespace is
    unrelated to the corpus). ``stop_after`` simulates a kill between
    stage commits; ``verify`` re-reads every stage's committed output and
    cross-checks the observed row counts."""
    t0 = time.time()
    q_p = os.path.join(out_dir, "quality")
    d_p = os.path.join(out_dir, "dedup")
    c_p = os.path.join(out_dir, "decon")
    w_p = os.path.join(out_dir, "weights")
    s_p = os.path.join(out_dir, "shards")

    if docs is None and not is_committed(q_p):
        raise ValueError("stage 'quality' not committed and no input provided")
    if bench is None:
        src = docs if docs is not None else read_committed(spark, q_p)
        bench = src.filter(F.col("doc_id") % bench_mod == 0).select(
            "doc_id", "text"
        )

    manifests: dict[str, dict] = {}
    manifests["quality"] = stage_quality(spark, docs, q_p, quality_params, verify)
    if stop_after == "quality":
        return manifests
    manifests["dedup"] = stage_dedup(
        spark, q_p, d_p, metrics_path=os.path.join(out_dir, "metrics"),
        verify=verify,
    )
    if stop_after == "dedup":
        return manifests
    manifests["decon"] = stage_decon(
        spark, d_p, c_p, bench, exclude_bench=exclude_bench, verify=verify
    )
    if stop_after == "decon":
        return manifests
    manifests["weights"] = stage_weights(spark, c_p, w_p, bench, verify=verify)
    if stop_after == "weights":
        return manifests
    manifests["shards"] = stage_shards(spark, w_p, s_p, shard_tokens, verify)
    total = time.time() - t0
    manifests["total"] = {
        "input_rows": manifests["quality"]["rows"],
        "final_docs": manifests["shards"]["docs"],
        "shards": manifests["shards"]["shards"],
        "elapsed_sec": total,
    }
    return manifests
