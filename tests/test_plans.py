"""Physical-plan hygiene tests — the engine's declarative-first claims
(SURVEY §4) must be visible in the plans Catalyst actually produces:
filters and projections reach the parquet scan, small dimension joins
broadcast, the tile layout is a partition-id exchange + in-partition sort,
and the assignment kernel stays a single projected Arrow eval (no join)."""

import numpy as np
from pyspark.sql import functions as F

from osmquadtree_spark import queries as Q


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df, spark) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_and_projection_pushdown(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _formatted(q, spark)
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: the scan schema carries only the needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_bbox_extract_scan_is_pruned(spark, sf_dir):
    plan = _formatted(Q.q_bbox_extract(spark, sf_dir), spark)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # the derived-element query needs only the key/coordinate source columns
    assert "l_comment" not in read_schema


def test_top_customers_broadcasts_dimension(spark, sf_dir):
    plan = _plan(Q.q_top_customers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # customer is the broadcast side


def test_knn_broadcasts_queries(spark, sf_dir):
    plan = _plan(Q.q_knn_points(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_tile_layout_is_partition_id_plus_sort(spark, sf_dir):
    from osmquadtree_spark.operators.sortblocks import tile_sorted

    df = Q._elements_qt(spark, sf_dir)
    gqt = np.asarray([0], dtype=np.int64)
    out = tile_sorted(df, gqt, "qt", sort_cols=["elem_id"], num_partitions=8)
    plan = _plan(out)
    # the group table is the partitioner: rows go straight to the
    # partition id the assignment pass computed — no range sampling
    assert "shufflepartitionidpassthrough" in plan
    assert "REPARTITION_BY_NUM" in plan
    assert "rangepartitioning" not in plan.lower()
    # in-partition sort only (Sort [...], false = local), above the exchange
    assert "Sort [group_qt" in plan and "], false, 0" in plan
    assert plan.index("Sort [group_qt") < plan.index("Exchange")
    # group cell + destination partition come from ONE ArrowEvalPython
    assert plan.count("ArrowEvalPython") == 1


def test_qt_assign_is_single_arrow_projection(spark, sf_dir):
    # q_qt_assign serves a session-memoized localCheckpoint whose plan
    # string collapses to an RDD scan — assert the UNDERLYING lineage
    from osmquadtree_spark.functions.udfs import make_qt_calculate

    qt_calc = make_qt_calculate()
    df = Q._elements(spark, sf_dir).withColumn(
        "qt", qt_calc("minx", "miny", "maxx", "maxy")
    ).select("elem_id", "qt")
    plan = _plan(df)
    assert plan.count("ArrowEvalPython") == 1  # one vectorized kernel stage
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_whole_stage_codegen_covers_relational_query(spark, sf_dir):
    df = Q.q_tpch_q1(spark, sf_dir)
    df.collect()  # AQE only finalizes (and shows codegen stages) on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # the codegen-stage marker in compact plan strings


def test_text_analysis_is_single_projection(spark, sf_dir):
    """All four text stages in one pass: one scan + one Arrow kernel — no
    join, no aggregate; the only permissible exchange is the small-scan
    balance repartition (absent at scale, see docs.balanced)."""
    q = Q.spark_queries()["text_analysis"](spark, sf_dir)
    plan = _plan(q)
    assert "Join" not in plan and "HashAggregate" not in plan
    assert "MapInPandas" in plan
    # at-scale shape: an input that already has enough splits gains NO
    # further exchange from the kernel (the only Exchange in this plan is
    # the test's own repartition that fabricates the many-split input)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(64)
    from osmquadtree_spark.operators.docs import text_analysis_vectorized

    assert _plan(text_analysis_vectorized(docs)).count("Exchange") == 1


def test_minzoom_spec_join_broadcasts(spark, sf_dir):
    """The 726-row minzoom spec must reach the tag join as a broadcast —
    compiling it to a CASE chain or shuffling the spec would both be wrong."""
    q = Q.spark_queries()["geom_minzoom"](spark, sf_dir)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan


def test_extract_members_uses_hash_joins_not_cartesian(spark, sf_dir):
    q = Q.spark_queries()["extract_members"](spark, sf_dir)
    plan = _plan(q)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dedup_candidate_joins_are_slim(spark, sf_dir):
    """The minhash band join must NOT carry the signature arrays — they are
    re-joined after pair dedup (shuffle-bytes discipline for 100 TB)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from osmquadtree_spark.operators.dedup import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(docs))
    # the band-bucket self-join output columns are ids only; sig appears in
    # the plan solely under the post-pair rejoin (two hash joins on doc ids)
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin") >= 3


def test_lsh_bucket_signatures_single_arrow_stage(spark, sf_dir):
    """Bucket ids come from ONE mapInPandas matmul per side, not per-plane
    HOF folds (which show up as repeated 'aggregate(' lambdas)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from osmquadtree_spark.operators.ann import bucket_signatures, make_planes

    planes = make_planes(4, 12, 64)
    plan = _plan(bucket_signatures(emb, planes, ["vec_id"]))
    assert "MapInPandas" in plan
    assert "aggregate(" not in plan


def test_knn_candidate_join_is_equi_hash_join(spark, sf_dir):
    """The scale-path kNN candidate join must be an exploded neighbor-cell
    EQUI-join (hash join), never a ring-predicate BroadcastNestedLoopJoin
    that re-scans every point per round."""
    from osmquadtree_spark.operators.spatial import (
        candidate_cell_join,
        make_qt_point_udf,
        make_xyz_udf,
        neighbor_cells,
    )

    zoom, n = 8, 1 << 8
    xyz = make_xyz_udf(zoom)
    qt_point = make_qt_point_udf(zoom)
    pts = (
        Q._elements(spark, sf_dir)
        .filter(~F.col("is_box"))
        .select(F.col("elem_id"), F.col("minx").alias("lon"), F.col("miny").alias("lat"))
        .limit(2000)
    )
    p = pts.withColumn("_t", xyz(qt_point(F.col("lon"), F.col("lat")))).select(
        F.col("elem_id").alias("point_id"),
        "lon",
        "lat",
        F.col("_t.tile_x").alias("px"),
        F.col("_t.tile_y").alias("py"),
    )
    q = pts.limit(5).withColumn("_t", xyz(qt_point(F.col("lon"), F.col("lat")))).select(
        F.col("elem_id").alias("query_id"),
        F.col("_t.tile_x").alias("qx"),
        F.col("_t.tile_y").alias("qy"),
    )
    cand = candidate_cell_join(p, neighbor_cells(q, 2, n))
    plan = _plan(cand)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # wrap ring (2r+1 >= n) emits each x exactly once: cells per query =
    # n * rows-in-range, no duplicates
    wrapped = neighbor_cells(q, n, n)
    counts = wrapped.groupBy("query_id", "px", "py").count()
    assert counts.filter(F.col("count") > 1).count() == 0


def test_update_alloc_kernel_is_diff_bounded(spark, sf_dir):
    """change_allocs must semi-join the planet-scale stored cells to the
    change-set ids BEFORE the find_tile assign UDF — the reference's
    -index.pbf prune (update.cpp:217-254). The kernel's input row count is
    O(|change set|), and the physical plan shows the semi join feeding the
    Python UDF stage."""
    from osmquadtree_spark.operators.update import change_allocs

    stored = Q._elements(spark, sf_dir).select(
        (F.col("elem_id") % 3).cast("int").alias("element_type"),
        F.col("elem_id").alias("id"),
        F.abs(F.col("elem_id") * 37 % 1000).alias("qt"),
    )
    changes = stored.filter(F.col("id") % 101 == 0).select(
        "element_type", "id", "qt", F.lit(4).alias("changetype")
    )
    gqt = Q._level3_groups()
    allocs = change_allocs(stored, changes, gqt)
    plan = _plan(allocs)
    # the semi join is present and the kernel is an Arrow eval stage
    assert "LeftSemi" in plan
    assert "ArrowEval" in plan or "BatchEvalPython" in plan or "MapInPandas" in plan
    # row-count bound: kernel input == store ∩ change ids, not the store
    n_changes = changes.count()
    assert allocs.count() <= n_changes
    assert stored.count() > 10 * n_changes  # the prune actually prunes


def test_doc_chunks_is_shuffle_free_generator(spark, sf_dir):
    """doc_chunks claims 'pure scan-side projection, zero shuffles': the
    executed plan must contain a Generate (posexplode) and NO Exchange."""
    plan = _plan(Q.q_doc_chunks(spark, sf_dir))
    assert "Generate" in plan
    assert "Exchange" not in plan


def test_sample_by_hash_is_scan_side_filter(spark, sf_dir):
    """sample_by_hash claims a scan-side projection with no shuffle: the
    plan holds one ArrowEvalPython (the mark kernel) + Filter, no Exchange,
    and the NULL-key exclusion is pushed into the parquet scan."""
    plan = _plan(Q.q_sample_by_hash(spark, sf_dir))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan
    assert "isnotnull(doc_id" in plan.lower().replace(" ", "") or "isnotnull" in plan


def test_decontaminate_broadcasts_bench_grams(spark, sf_dir):
    """The bench side is small by construction; the gram probe must be a
    BroadcastHashJoin (never a shuffle of the 100-TB training gram table
    onto the gram key), and no join may degrade to nested-loop.
    Differential assert: the unhinted plan is the control — a fixture-
    scale stats-based broadcast elsewhere in the plan (e.g. the sizes
    join) can't mask a dropped hint on the gram probe itself."""
    from osmquadtree_spark.operators import docs as dops

    plan = _plan(Q.q_decontaminate(spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.selectExpr("doc_id AS bench_id", "text").limit(5)
    # control: kill stats-based broadcasts so ONLY the explicit hint can
    # produce one — at fixture scale everything is "small" to the planner
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        on = _plan(dops.benchmark_overlap(docs, bench, broadcast_bench=True))
        off = _plan(dops.benchmark_overlap(docs, bench, broadcast_bench=False))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert on.count("BroadcastHashJoin") > off.count("BroadcastHashJoin")


def test_semantic_candidate_join_is_slim_equi_join(spark, sf_dir):
    """semantic_dup_pairs' candidate join runs on slim (id, cid int32)
    rows — embeddings must re-attach only AFTER pair dedup, and every join
    is a hash equi-join."""
    from osmquadtree_spark.operators.dedup import semantic_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(semantic_dup_pairs(emb, 0.4, n_centroids=8, nprobe=2))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    n_hash = (
        plan.count("SortMergeJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
    )
    # cid candidate join + two rescore re-attach joins
    assert n_hash >= 3


def test_components_round_is_two_shuffle_hash_aggs(spark):
    """One large-star + small-star round = groupBy-min aggregates and hash
    joins only — no cartesian, no UDF stage (pure JVM column algebra)."""
    import pandas as pd

    from osmquadtree_spark.operators import components as cc

    e = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3], "id_b": [2, 3, 4]}).astype("int64")
    ).selectExpr("id_a AS u", "id_b AS v")
    plan = _plan(cc._small_star(cc._large_star(e)))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "HashAggregate" in plan


def test_bm25_probe_is_broadcast_inverted_index(spark, sf_dir):
    """The postings probe must broadcast the diff-scale query-term side
    (an inverted-index lookup, never a corpus shuffle onto term); the only
    nested-loop allowed is the 1-row corpus-stats crossJoin."""
    plan = _plan(Q.q_bm25_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only BNLJs are the 1-row corpus-stats constants (n_docs x
    # total_len, then stats onto the hits) — any other BNLJ is a regression
    assert plan.count("BroadcastNestedLoopJoin") <= 2


# --------------------------------------------------------------------------
# round-4 close additions: the new curation operators' scale claims


def test_token_rarity_vocab_lookup_broadcasts(spark, sf_dir):
    """The gate query passes small_vocab=True: the freq lookup must be a
    BroadcastHashJoin (the exploded corpus is never shuffled on the
    maximally-skewed token key), and nothing may degrade to nested-loop."""
    plan = _plan(Q.q_token_rarity(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_quota_prunes_before_window(spark, sf_dir):
    """source_quota_cap claims the rank window never sees the full corpus:
    per-key stats join via broadcast, the survivor filter sits below the
    window sort, and no nested-loop anywhere."""
    plan = _plan(Q.q_source_quota(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the mark-threshold prefilter must appear (survivors only reach the sort)
    assert "_mark" in plan and "_thr" in plan


def test_embedding_outliers_arrow_plan_shape(spark, sf_dir):
    """The dim-flat Arrow kernel claims its distance pass is ONE
    mapInPandas over the scan (centroid table broadcast as a
    sparkContext variable, not a join) with the mean lookup the single
    broadcast join — no explode anywhere."""
    plan = _plan(Q.q_embedding_outliers(spark, sf_dir))
    assert "Generate" not in plan
    assert "MapInPandas" in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_shared_spans_join_is_hashed_equi_join(spark, sf_dir):
    """shared_span_pairs claims the gram self-join moves xxhash64 int64
    keys (not k-word strings) and never degrades to a cartesian product."""
    plan = _plan(Q.q_shared_spans(spark, sf_dir))
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_shards_corpus_window_is_banded(spark, sf_dir):
    """token_shards claims the only unpartitioned window runs over the
    tiny band table: exactly ONE single-partition exchange in the plan
    (the band-offset window), the corpus window exchanges on the band
    key, and the offset join broadcasts."""
    plan = _plan(Q.q_token_shards(spark, sf_dir))
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(_band" in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_mix_is_agg_only(spark, sf_dir):
    """corpus_mix claims one grouped aggregate + a |groups|-row window:
    no Generate (token counts come from size(split), never explode), no
    joins at all."""
    plan = _plan(Q.q_corpus_mix(spark, sf_dir))
    assert "Generate" not in plan
    assert "Join" not in plan


def test_span_mask_join_is_hashed_equi_join(spark, sf_dir):
    """dedup_span_mask shares the diagonal-run stage: hashed int64 gram
    keys, no cartesian/nested-loop, and the interval-merge windows
    partition by doc (never a global sort of the corpus)."""
    plan = _plan(Q.q_span_mask(spark, sf_dir))
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_image_phash_clusters_no_cartesian(spark, sf_dir):
    """The cluster build must inherit the pigeonhole equi-join shape (no
    all-pairs scan) and the star rounds' hash aggregates — never a
    cartesian/nested-loop anywhere in the composed plan."""
    plan = _plan(Q.q_image_phash_clusters(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tile_sample_reuses_quota_shape(spark, sf_dir):
    """tile_sample is source_quota_cap keyed by rounded cell: broadcast
    stat joins, mark prefilter present, no nested-loop."""
    plan = _plan(Q.q_tile_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "_mark" in plan and "_thr" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_gate_single_corpus_join_chain(spark, sf_dir):
    """quality_gate composes the row-local repetition projection with the
    broadcast-vocab rarity stage: broadcast joins only (the doc_id
    stat join may shuffle: both sides are corpus-scale), no generate
    beyond the rarity explode, no nested-loop."""
    plan = _plan(Q.q_quality_gate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
