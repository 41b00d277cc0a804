"""Session cache registry — every operator-internal ``persist()`` goes
through ``cached()`` so the handles can be released between driver sweeps.

Operators persist intermediates (LSH signatures, band tables, capped gram
tables) that are read by multiple join branches of ONE query plan; the
builder returns lazily, so the operator itself can never know when the last
action ran. Without a registry those cached blocks accumulate across a
50-query driver sweep until LRU eviction. ``release_all()`` (called from
queries.clear_session_caches before every tools/gates.py sweep) unpersists
everything registered since the last release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def cached(df: DataFrame) -> DataFrame:
    """persist() + register for release_all()."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def stage_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage at a pipeline stage boundary.

    Default: ``localCheckpoint`` — blocks live on executors, so on a real
    cluster a LOST EXECUTOR FAILS THE JOB instead of recomputing. That is
    acceptable for short bounded pipelines (the kNN expansion's ≤
    max_rounds loop, the bench memos), not for long production runs.

    Escape hatch (r3 verdict #8): set ``SPARK_GRAFT_CHECKPOINT_DIR`` (or
    pre-configure ``sparkContext.setCheckpointDir``) and every stage
    checkpoint in the engine becomes a RELIABLE checkpoint to that
    directory (HDFS/S3 on a cluster) — executor loss then recomputes from
    the checkpoint files. jobs/tile_pipeline.py documents the policy.

    Cleanup caveat: Spark deletes reliable-checkpoint FILES only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` was set at
    session build (osmquadtree_spark.session.build sets it unless the
    launcher chose otherwise); without it every checkpointed stage leaves
    its files behind and the checkpoint dir grows across runs."""
    import os

    sc = df.sparkSession.sparkContext
    ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    already = sc._jsc.sc().getCheckpointDir().isDefined()
    if ckdir and not already:
        # set ONCE per session: setCheckpointDir is NOT idempotent — every
        # call mints a fresh <dir>/<uuid> subdirectory (an FS round-trip,
        # and a leak of never-cleaned checkpoint dirs on HDFS/S3). First
        # configuration wins for the session's lifetime.
        sc.setCheckpointDir(ckdir)
        already = True
    if already:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_stage_checkpoint(df: DataFrame) -> None:
    """Drop the executor blocks behind a ``stage_checkpoint`` frame that
    nothing can reference anymore (e.g. a superseded round of an
    iterative loop, once its successor is materialized).

    ``DataFrame.unpersist()`` cannot do this: localCheckpoint blocks
    belong to the underlying RDD, not to the SQL CacheManager, and
    otherwise live until the async reference-tracking cleaner notices
    the RDD is unreachable after a JVM GC — in a checkpoint-per-round
    loop that lag accumulates O(rounds × data) of MEMORY_AND_DISK
    blocks and forces spill churn mid-loop. The checkpointed frame's
    plan is a single LogicalRDD node whose ``rdd`` field IS the block
    holder; unpersist it directly. Best-effort by design (a reliable
    checkpoint reads from files, its unpersist is a no-op; a plan shape
    we don't recognize is left to the async cleaner)."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getName().endswith(".LogicalRDD"):
            node.rdd().unpersist(False)
    except Exception:
        pass


def release_all() -> None:
    global _PERSISTED
    frames, _PERSISTED = _PERSISTED, []
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped
