"""Run-scoped operator metrics — the "no silent caps" surface.

Operators that sacrifice recall for scale (hot-bucket caps in the dedup /
ANN family) REGISTER their drop statistics and recall proxies here as lazy
DataFrames at plan-construction time; nothing executes until
``commit_pending`` runs ONCE per run, writing every registered frame under
a single run-id directory of one metrics table:

    <base>/run_id=<rid>/part-*.parquet
    columns: operator, metric, bucket_key, value (bigint)

Why deferred: round 3 committed each operator's drops as an eager
overwrite-parquet action at plan-construction time, which (a) paid a full
signature pass per query before the query even ran (the 2.3× dedup-family
bench regression), (b) clobbered the previous run's table even for
constructed-but-abandoned plans, and (c) could overwrite mid-lifetime
under concurrent runs. Deferring to one run-scoped append keeps the
committed-metrics guarantee at every run endpoint in this repo —
queries.clear_session_caches, bench sweeps, tools/driver_sweep and
jobs/tile_pipeline all call ``commit_pending`` — while the registered
frames read the operator's OWN cached intermediates, so the commit costs
one small job, not a recompute. The contract for OTHER embedders: a
process that registers metrics and exits without calling
``commit_pending`` drops them — if you end a run, flush it.

Standard metric names:
- ``bucket_rows_dropped``  rows in each dropped hot bucket (key = bucket)
- ``bucket_cap``           the cap in force
- ``candidate_pairs``      candidate-set size before re-scoring — the
  production recall proxy (a collapsing candidate count flags silent
  recall loss without a brute-force twin)
- ``recall_x1000_vs_exact`` recall vs the exact operator ×1000, committed
  by the test-scale gates (tests/test_dedup.py) where brute force is
  feasible
"""

from __future__ import annotations

import errno
import os
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METRIC_COLS = ("operator", "metric", "bucket_key", "value")

# (base_path, dedupe key or None, canonical frame); a keyed registration
# REPLACES any pending entry with the same (base_path, key), so building
# the same query twice in one run commits one copy of its metrics (the
# last-constructed plan's), not two — rebuilt-plan double-counting was a
# round-4 review finding. Constructed-but-never-executed plans still
# commit (their metrics are deterministic functions of the inputs, so the
# VALUES are right); the only cost is that the commit computes the frame
# cold instead of reading the abandoned plan's never-populated cache.
_PENDING: list[tuple[str, tuple | None, DataFrame]] = []


def metric_frame(
    operator: str, metric: str, bucket_key_col, value_col
) -> list:
    """Column list in canonical order for a metrics row set."""
    return [
        F.lit(operator).alias("operator"),
        F.lit(metric).alias("metric"),
        bucket_key_col.cast("string").alias("bucket_key"),
        value_col.cast("bigint").alias("value"),
    ]


def register(base_path: str, frame: DataFrame, key: tuple | None = None) -> None:
    """Queue a canonical (operator, metric, bucket_key, value) frame for
    the next commit. Lazy — no Spark action here. ``key`` (normally
    ``(operator, metric)``) makes the registration idempotent per run:
    the newest frame for a (base_path, key) wins."""
    global _PENDING
    if key is not None:
        _PENDING = [e for e in _PENDING if not (e[0] == base_path and e[1] == key)]
    _PENDING.append((base_path, key, frame))


def register_count(
    base_path: str, operator: str, metric: str, df: DataFrame
) -> None:
    """Queue ``count(df)`` as a single metric row. Point it at a CACHED
    frame (or a parquet scan) so the commit pays a cache read, not a
    recompute of the operator's joins."""
    register(
        base_path,
        df.groupBy().agg(F.count(F.lit(1)).alias("_n")).select(
            *metric_frame(operator, metric, F.lit(""), F.col("_n"))
        ),
        key=(operator, metric),
    )


def register_literal(
    base_path: str, operator: str, metric: str, value: int, spark
) -> None:
    """Queue a constant metric row (e.g. the cap in force)."""
    register(
        base_path,
        spark.range(1).select(
            *metric_frame(operator, metric, F.lit(""), F.lit(int(value)))
        ),
        key=(operator, metric),
    )


def pending_count() -> int:
    return len(_PENDING)


def commit_pending(run_id: str | None = None) -> dict:
    """Write all pending frames — ONE union + write per base path, under a
    fresh run-id subdirectory (append-by-directory: concurrent or repeated
    runs never clobber each other; ADVICE r3). Each base commits
    independently: a frame whose lineage broke after registration (e.g. a
    failed query, or an export a foreign process removed) fails ONLY its
    own base — the error is returned in ``errors`` instead of aborting the
    other bases' writes, so one poisoned frame cannot lose a whole run's
    metrics. Returns {"bases": n, "run_id": rid, "sec": t, "errors":
    {base: msg}}; empty pending is a no-op."""
    global _PENDING
    pend, _PENDING = _PENDING, []
    if not pend:
        return {"bases": 0, "run_id": None, "sec": 0.0, "errors": {}}
    rid = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    by_base: dict[str, list[DataFrame]] = {}
    for base, _key, fr in pend:
        by_base.setdefault(base, []).append(fr)
    errors: dict[str, str] = {}
    for base, frames in by_base.items():
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        try:
            out.write.mode("overwrite").parquet(os.path.join(base, f"run_id={rid}"))
        except Exception as ex:  # noqa: BLE001 — per-base isolation is the point
            errors[base] = f"{type(ex).__name__}: {ex}"
    return {
        "bases": len(by_base),
        "base_paths": sorted(by_base),
        "run_id": rid,
        "sec": round(time.time() - t0, 3),
        "errors": errors,
    }


def discard_pending() -> None:
    """Drop pending frames without writing (test isolation only — a real
    run endpoint must commit instead)."""
    global _PENDING
    _PENDING = []


def atomic_export(df: DataFrame, path: str) -> None:
    """Write ``df`` to ``path`` via tmp-dir + rename — the soundness-oracle
    export surface (LSH/IVF candidate sets). The candidate sets are
    deterministic functions of the inputs, so repeated builds write
    identical CONTENT, and the tmp+rename keeps a reader from ever seeing
    a half-written directory; the rename-aside swap (fsutil.swap_dir,
    shared with the qts store) also keeps it from ever being a
    half-DELETED one. Remaining window, accepted under the
    single-writer-per-sf assumption the scratch layout implies: a Spark
    DataFrame that LISTED the old files before a swap can hit
    FileNotFound at execution (part-file names differ even when rows do
    not). Concurrent runs against the same sf scratch should set distinct
    scratch roots; a concurrent writer winning the swap race is accepted
    (identical content by determinism)."""
    # Swap tolerance (see _swap_into): ONLY the concurrent-winner
    # signature is swallowed — the final rename hitting a directory a
    # concurrent builder just re-created (EEXIST/ENOTEMPTY, identical
    # content by determinism). Any other OSError (EBUSY on a bind-mounted
    # scratch, EACCES after a permission change) must surface — the
    # destination may still hold a STALE export from other inputs, and
    # the DuckDB soundness oracle re-scores the same exported bytes, so
    # serving it silently would defeat the exact silent-failure class
    # this surface exists to catch.
    tmp = path + ".tmp-" + uuid.uuid4().hex[:8]
    try:
        df.write.mode("overwrite").parquet(tmp)
    except Exception:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        raise
    _swap_into(tmp, path)


def _swap_into(tmp: str, path: str) -> None:
    """Shared tmp→final swap with the concurrent-winner tolerance
    documented on atomic_export."""
    import shutil

    from .fsutil import swap_dir

    try:
        try:
            swap_dir(tmp, path)
        except OSError as ex:
            if ex.errno not in (errno.EEXIST, errno.ENOTEMPTY) or not os.path.isdir(
                path
            ):
                raise
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)


def atomic_export_local(pdf, path: str) -> None:
    """Driver-side tmp+swap parquet export for BOUNDED artifacts whose
    rows already live on the driver (the B≈512-row DSIR λ table: its
    inputs were collect()ed to compute λ in the first place; the
    ≤|tiles|-row tile lineage of sortblocks.write_tile_sorted). The Spark
    alternative — createDataFrame(rows).coalesce(1).write — exists only
    to round-trip a few hundred rows through a Python-RDD scan and a
    task launch; measured 4.5-7.5 s of pure overhead per export on the
    bench host vs milliseconds for a direct pyarrow write of the SAME
    single-file parquet (DuckDB and Spark read it identically). Use
    atomic_export for anything distributed; this one asserts its input
    is a pandas frame, i.e. already driver-resident by construction. A
    failed write removes its tmp dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp-" + uuid.uuid4().hex[:8]
    try:
        os.makedirs(tmp)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(tmp, "part-00000.parquet"),
        )
    except BaseException:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        raise
    _swap_into(tmp, path)


def export_candidates(
    pairs: DataFrame,
    export_path: str,
    metrics_path: str | None,
    operator: str,
) -> DataFrame:
    """The shared soundness-oracle export contract (LSH / IVF candidate
    sets): atomically export ``pairs`` to parquet, return the READ-BACK
    scan (so the downstream re-score and the DuckDB oracle read the same
    bytes), and register the exported row count as the ``candidate_pairs``
    recall proxy — a free count off the export scan at commit time. One
    definition instead of the three per-operator copies a round-4 review
    flagged."""
    atomic_export(pairs, export_path)
    out = pairs.sparkSession.read.parquet(export_path)
    if metrics_path is not None:
        register_count(metrics_path, operator, "candidate_pairs", out)
    return out


def read_metrics(spark, base_path: str) -> DataFrame:
    """All committed runs of a metrics table (run_id recovered from the
    directory name)."""
    return spark.read.option("basePath", base_path).parquet(
        os.path.join(base_path, "run_id=*")
    )
