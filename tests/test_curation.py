"""Resumable curation pipeline (osmquadtree_spark/curation.py): stage
invariants over the sf0.001 documents table, kill/resume semantics, and
cross-run determinism — the text-side twin of the tile pipeline's
test_sortblocks resume coverage."""

import json
import os

import pytest
from pyspark.sql import functions as F

from osmquadtree_spark.commit import commit_manifest, read_committed, write_observed
from osmquadtree_spark.curation import run_curation, stage_quality, stage_shards

# permissive thresholds for the tiny-vocab synthetic corpus: the default
# Gopher-style mean-frequency rule correctly drops ~98% of word salad,
# which would leave downstream stages near-empty — the pipeline test
# wants volume THROUGH every stage, the operator's own thresholds are
# gated in the sweep registry (q_quality_gate)
QP = {"max_mean_freq_x100": 100_000, "max_dup_x10000": 10_000, "small_vocab": True}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="module")
def full_run(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curation"))
    m = run_curation(spark, docs, out, quality_params=QP)
    return out, m


def test_stage_conservation(spark, docs, full_run):
    out, m = full_run
    q = m["quality"]
    assert q["rows"] == docs.count()
    assert q["kept"] + q["dropped"] + q["manual_queue"] == q["rows"]
    assert sum(q["reason_histogram"].values()) == q["rows"]
    # dedup input = quality keeps; canonical + non-canonical = input
    # (nothing is dropped at the dedup stage — non-canonicals are kept
    # flagged and excluded at decon)
    assert m["dedup"]["rows"] == q["kept"]
    assert m["dedup"]["canonical"] + m["dedup"]["non_canonical"] == m["dedup"]["rows"]
    # decon excludes the benchmark slice up front (ADVICE r4: bench docs
    # must never reach the shards as training rows), then probes exactly
    # the remaining canonicals
    assert m["decon"]["bench_excluded"] >= 0
    assert (
        m["decon"]["probed"] + m["decon"]["bench_excluded"]
        == m["dedup"]["canonical"]
    )
    assert m["decon"]["rows"] + m["decon"]["flagged"] == m["decon"]["probed"]
    # weights and shards carry the clean survivors
    assert m["weights"]["rows"] == m["decon"]["rows"]
    assert m["shards"]["docs"] == m["weights"]["rows"]
    assert m["total"]["final_docs"] == m["shards"]["docs"]
    # enough volume survives for the test to mean anything
    assert m["shards"]["docs"] >= 50


def test_no_contaminated_or_dup_in_output(spark, docs, full_run):
    out, m = full_run
    final = spark.read.parquet(os.path.join(out, "weights", "data"))
    ids = {r["doc_id"] for r in final.select("doc_id").collect()}
    # NO benchmark doc in the final corpus — the decon stage anti-joins
    # the bench slice out before the probe (ADVICE r4: a short bench doc
    # with < min_hits distinct grams would otherwise leak through and be
    # double-counted as target+raw by the weights stage)
    assert not any(i % 41 == 0 for i in ids)
    dedup = spark.read.parquet(os.path.join(out, "dedup", "data"))
    non_canon = {r["doc_id"] for r in dedup.filter(~F.col("is_canonical")).collect()}
    assert not (ids & non_canon)
    # every output doc carries an integer weight
    assert final.filter(F.col("weight_x").isNull()).count() == 0


def test_shard_packing_consistent(spark, full_run):
    out, m = full_run
    shards = spark.read.parquet(os.path.join(out, "shards", "data"))
    man = spark.read.parquet(os.path.join(out, "shards", "manifest"))
    agg = {
        r["shard_id"]: (r["n"], r["t"])
        for r in shards.groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t"))
        .collect()
    }
    for r in man.collect():
        assert agg[r["shard_id"]] == (r["n_docs"], r["n_tokens"])


def test_kill_resume(spark, docs, tmp_path, full_run):
    _, ref = full_run
    out = str(tmp_path / "resume")
    part = run_curation(spark, docs, out, quality_params=QP, stop_after="dedup")
    assert set(part) == {"quality", "dedup"}
    # poison the input: resume must NOT recompute committed stages.
    # bench passes explicitly (the original slice) — the default derives
    # it from the provided docs, which would change the DECON stage's
    # benchmark, not re-run a committed stage
    bench = docs.filter(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    poisoned = docs.filter(F.col("doc_id") % 2 == 0)
    m = run_curation(spark, poisoned, out, bench=bench, quality_params=QP)
    assert m["quality"]["rows"] == ref["quality"]["rows"]  # not the poisoned count
    for stage in ("quality", "dedup", "decon", "weights", "shards"):
        a = {k: v for k, v in m[stage].items() if k != "elapsed_sec"}
        b = {k: v for k, v in ref[stage].items() if k != "elapsed_sec"}
        assert a == b, stage


def test_mid_stage_kill_resume(spark, docs, tmp_path, full_run):
    """A kill DURING a stage (data files written, manifest never
    committed) must cause a full recompute of that stage on resume —
    manifest-last is the commit point, partial data is not trusted.
    Round-4's smoke only killed BETWEEN stage commits."""
    _, ref = full_run
    out = str(tmp_path / "midkill")
    run_curation(spark, docs, out, quality_params=QP, stop_after="quality")
    # simulate dying mid-write of the dedup stage: partial (wrong) data
    # on disk, no _manifest.json
    partial = docs.limit(3)
    partial.write.mode("overwrite").parquet(os.path.join(out, "dedup", "data"))
    assert not os.path.exists(os.path.join(out, "dedup", "_manifest.json"))
    m = run_curation(spark, docs, out, quality_params=QP)
    for stage in ("quality", "dedup", "decon", "weights", "shards"):
        a = {k: v for k, v in m[stage].items() if k != "elapsed_sec"}
        b = {k: v for k, v in ref[stage].items() if k != "elapsed_sec"}
        assert a == b, stage


def test_verify_mode_records_counts(spark, docs, tmp_path):
    out = str(tmp_path / "verified")
    m = run_curation(spark, docs, out, quality_params=QP, verify=True)
    for stage in ("quality", "dedup", "decon", "weights"):
        assert m[stage]["verified_rows"] == m[stage]["rows"], stage
    assert m["shards"]["verified_rows"] == m["shards"]["shards"]


def test_resume_without_input(spark, tmp_path, full_run, docs):
    out, ref = full_run
    # docs=None works once quality is committed
    m = run_curation(spark, None, out)
    assert {k: v for k, v in m["shards"].items() if k != "elapsed_sec"} == {
        k: v for k, v in ref["shards"].items() if k != "elapsed_sec"
    }
    with pytest.raises(ValueError):
        run_curation(spark, None, str(tmp_path / "fresh"))


def test_manifest_files_are_json(full_run):
    out, _ = full_run
    for stage in ("quality", "dedup", "decon", "weights", "shards"):
        with open(os.path.join(out, stage, "_manifest.json")) as f:
            assert isinstance(json.load(f), dict)


def test_stage_shard_manifest_matches_gate(spark, docs, tmp_path):
    """The stage builds its manifest from the committed assignment; it must
    equal the shard_manifest gate's operator run over the same documents."""
    from osmquadtree_spark.operators.docs import shard_manifest

    src = str(tmp_path / "weights")
    corpus = docs.select("doc_id", "text")
    commit_manifest(src, write_observed(corpus, src))
    stage_shards(spark, src, str(tmp_path / "shards"), 512)
    got = spark.read.parquet(str(tmp_path / "shards" / "manifest"))
    want = shard_manifest(corpus, 512)
    assert got.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert len(want.collect()) > 10


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_stage_quality_equals_gate_join(spark, docs, tmp_path):
    """The quality stage projects quality_gate's decision next to the doc
    columns in one join; its table must equal the gate's output joined
    back onto the docs, NULL-text docs included (NULL reasons/keep)."""
    null_docs = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.lit(None).cast("string"))
    )
    corpus = docs.unionByName(null_docs)
    path = str(tmp_path / "quality")
    m = stage_quality(spark, corpus, path, QP)
    assert m["manual_queue"] == null_docs.count() > 0
    from osmquadtree_spark.operators.docs import quality_gate

    want = corpus.join(
        quality_gate(corpus, **QP).select("doc_id", "reasons", "keep"), "doc_id"
    )
    got = read_committed(spark, path)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_stage_decon_equals_anti_join(spark, docs, full_run):
    """The decon stage filters the probe's own pass-through output; its
    table must equal the anti-join of the flagged ids onto the probed
    canonicals."""
    from osmquadtree_spark.operators import bloom as bl

    out, m = full_run
    bench = docs.filter(F.col("doc_id") % 41 == 0).select("doc_id", "text")
    bf = bl.collect_bloom(bl.bloom_build(bench))
    probed = (
        read_committed(spark, os.path.join(out, "dedup"))
        .filter("is_canonical")
        .join(bench.select("doc_id").distinct(), "doc_id", "left_anti")
    )
    flagged = (
        bl.bloom_probe(probed.select("doc_id", "text"), bf, min_hits=2)
        .filter("contaminated")
        .select("doc_id")
    )
    want = probed.join(flagged, "doc_id", "left_anti")
    got = read_committed(spark, os.path.join(out, "decon"))
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    assert m["decon"]["flagged"] > 0


def test_run_curation_job_count(spark, docs, tmp_path):
    """The whole chain's Spark jobs under one job group: 49 on this
    corpus. Re-running the MinHash pair plan for the component labels,
    an idle convergence round, re-running the shard packing for the
    manifest, a footer inference per stage read, a join of a stage's
    result back onto its own input or a shuffle in the Bloom build would
    each add jobs here."""
    import uuid

    sc = spark.sparkContext
    group = f"curation-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "run_curation job-count guard")
    try:
        run_curation(spark, docs, str(tmp_path / "run"), quality_params=QP)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # with a checkpoint dir set on the session (tests/test_cache.py sets
    # one, and it sticks), stage checkpoints are reliable: writing the
    # oriented-edge checkpoint's files is one more job
    reliable = sc._jsc.sc().getCheckpointDir().isDefined()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 49 + reliable


def test_stage_tables_are_zstd(full_run):
    """Curation stage tables are committed as zstd Parquet."""
    import pyarrow.parquet as pq

    out, _ = full_run
    data = os.path.join(out, "quality", "data")
    files = [f for f in os.listdir(data) if f.endswith(".parquet")]
    assert files
    for f in files:
        meta = pq.ParquetFile(os.path.join(data, f)).metadata
        assert meta.row_group(0).column(0).compression == "ZSTD", f
