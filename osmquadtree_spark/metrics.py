"""Run-scoped operator metrics — the "no silent caps" surface.

Operators that sacrifice recall for scale (hot-bucket caps in the dedup /
ANN family) RECORD their drop statistics and recall proxies here as plain
driver-side values, at the point where the operator computes them: the
cap's own bucket-count aggregate, the component loop's round counter,
the bm25 probe it collects, the row count observed on a candidate
export's write. ``commit_pending`` runs ONCE per run and writes each
base's rows from the driver with pyarrow, under a single run-id
directory of one metrics table:

    <base>/run_id=<rid>/part-00000.parquet
    columns: operator, metric, bucket_key, value (bigint)

The commit submits no Spark job, so it cannot fail on a query's broken
lineage and costs milliseconds. Recording a (base, operator, metric)
again replaces the pending rows (newest wins): building the same query
twice in one run commits one copy of its metrics, not two. A plan that
is built but never run still commits, because its values were computed
while it was built. Every run endpoint in this repo —
queries.clear_session_caches, every tools/gates.py sweep and both
jobs — calls ``commit_pending``; a process that records metrics and exits
without calling it drops them: if you end a run, flush it.

Why no ``DataFrame.observe`` inside a plan: an Observation on a subtree
that adaptive execution prunes never fires. Probed on pyspark 4.1.2 at
``local[2]`` with AQE on (Spark's default): an observation on the
hot-bucket aggregate under a broadcast ``left_anti`` came back as an
empty row whenever the hot set was empty — the normal case — because AQE
drops the join. Observing at a plan's ROOT (a write, as
``commit.write_observed`` and :func:`export_candidates` do) is safe.

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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

METRIC_COLS = ("operator", "metric", "bucket_key", "value")

# (base_path, operator, metric) -> [(bucket_key, value), ...]
_PENDING: dict[tuple[str, str, str], list[tuple[str, int]]] = {}


def record(base_path: str, operator: str, metric: str, value: int) -> None:
    """Queue one unkeyed metric row for the next commit."""
    record_rows(base_path, operator, metric, [("", value)])


def record_rows(base_path: str, operator: str, metric: str, rows) -> None:
    """Queue ``(bucket_key, value)`` rows as the run's value of one
    (base_path, operator, metric), replacing any pending rows for it."""
    key = (base_path, operator, metric)
    _PENDING.pop(key, None)  # the newest recording also commits last
    _PENDING[key] = [(str(k), int(v)) for k, v in rows]


def commit_pending(run_id: str | None = None) -> dict:
    """Write every base's pending rows under a fresh run-id subdirectory
    (append-by-directory: concurrent or repeated runs never clobber each
    other; ADVICE r3), each through the tmp+swap of
    :func:`atomic_export_local`. Each base commits independently: a
    failed write (disk full, a read-only base) fails ONLY its own base,
    returned in ``errors``. Returns {"bases": n, "base_paths": [...],
    "run_id": rid, "sec": t, "errors": {base: msg}, "rows": {base:
    [(operator, metric, bucket_key, value), ...]}}; empty pending is a
    no-op."""
    global _PENDING
    pend, _PENDING = _PENDING, {}
    if not pend:
        return {"bases": 0, "base_paths": [], "run_id": None, "sec": 0.0,
                "errors": {}, "rows": {}}
    import pyarrow as pa

    rid = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    by_base: dict[str, list[tuple]] = {}
    for (base, op, metric), rows in pend.items():
        by_base.setdefault(base, []).extend((op, metric, k, v) for k, v in rows)
    schema = pa.schema(
        [(c, pa.string()) for c in METRIC_COLS[:3]] + [("value", pa.int64())]
    )
    errors: dict[str, str] = {}
    for base, rows in by_base.items():
        table = pa.Table.from_pylist([dict(zip(METRIC_COLS, r)) for r in rows], schema)
        try:
            atomic_export_local(table, os.path.join(base, f"run_id={rid}"))
        except Exception as ex:  # noqa: BLE001 — per-base isolation is the point
            errors[base] = f"{type(ex).__name__}: {ex}"
    return {
        "bases": len(by_base),
        "base_paths": sorted(by_base),
        "run_id": rid,
        "sec": round(time.time() - t0, 3),
        "errors": errors,
        "rows": by_base,
    }


def discard_pending() -> None:
    """Drop pending values without writing (test isolation only — a real
    run endpoint must commit instead)."""
    _PENDING.clear()


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


def atomic_export_local(table, path: str) -> None:
    """Driver-side tmp+swap parquet export for BOUNDED artifacts whose
    rows already live on the driver (the B≈512-row DSIR λ table: its
    inputs were collect()ed to compute λ in the first place; the
    ≤|tiles|-row tile lineage of sortblocks.write_tile_sorted). The Spark
    alternative — createDataFrame(rows).coalesce(1).write — exists only
    to round-trip a few hundred rows through a Python-RDD scan and a
    task launch; measured 4.5-7.5 s of pure overhead per export on the
    bench host vs milliseconds for a direct pyarrow write of the SAME
    single-file parquet (DuckDB and Spark read it identically). Use
    atomic_export for anything distributed; this one takes a pandas
    frame or a pyarrow table, i.e. rows already driver-resident by
    construction (the run metrics of :func:`commit_pending` too). A
    failed write removes its tmp dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp-" + uuid.uuid4().hex[:8]
    try:
        os.makedirs(tmp)
        if not isinstance(table, pa.Table):
            table = pa.Table.from_pandas(table, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
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
    bytes), and record the exported row count as the ``candidate_pairs``
    recall proxy — observed on the export write itself (a root-level
    observe, as commit.write_observed does), so it costs no job. One
    definition instead of the three per-operator copies a round-4 review
    flagged."""
    obs = Observation()
    atomic_export(pairs.observe(obs, F.count(F.lit(1)).alias("rows")), export_path)
    if metrics_path is not None:
        record(metrics_path, operator, "candidate_pairs", obs.get["rows"])
    return pairs.sparkSession.read.parquet(export_path)


def read_metrics(spark, base_path: str) -> DataFrame:
    """All committed runs of a metrics table (run_id recovered from the
    directory name)."""
    return spark.read.option("basePath", base_path).parquet(
        os.path.join(base_path, "run_id=*")
    )
