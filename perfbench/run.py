"""Job-level benchmark of osmquadtree_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One client runs one job at a time in a
closed loop on ``local[<nproc>]``, in this process, for ``--seconds`` of
wall time after set-up, and checks every job's committed output outside
the timed window.  The last line of standard output is one JSON object:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of one traced job (see perfbench/spans.py).

Inputs are generated from the seed into ``.perfbench/inputs`` and reused
while their parquet footers match the cache record.  Each run writes one
record to ``.perfbench/records``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))


def _import_program() -> None:
    """Make the checkout's package importable here and in the Python
    workers Spark forks; fail before any output if it is missing."""
    if not os.path.isdir(os.path.join(ROOT, "osmquadtree_spark")):
        sys.exit("perfbench: run from the root of a checkout holding osmquadtree_spark/")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep Spark's, Python's and every JVM's scratch files inside the
    # checkout (JAVA_TOOL_OPTIONS also reaches spark-submit's launcher JVM)
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.environ[var] = os.path.join(WORK, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        ) if p
    )
    import osmquadtree_spark  # noqa: F401


def spark_confs(cpus: int, mem_bytes: int) -> dict[str, str]:
    """The session the benchmark runs, fitted to the host: one local thread
    per CPU and an eighth of the host's memory for the driver (1-4 GiB)."""
    driver_mb = max(1024, min(4096, mem_bytes // 8 // 2**20))
    return {
        "spark.master": f"local[{cpus}]",
        "spark.driver.memory": f"{driver_mb}m",
        "spark.sql.shuffle.partitions": str(2 * cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
    }


def start_session(confs: dict[str, str], event_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in confs.items():
        b = b.config(k, v)
    if event_dir is not None:
        # Spark 4.1 compresses event logs with zstd by default; no zstd
        # reader is installed, so the log is written plain
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM spark-submit started (it exits when its
    stdin closes), and wait until it has ended; the Python workers are
    the JVM's children and end with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# -- inputs --------------------------------------------------------------------


def _input_dir(wl, seed: int) -> str:
    from workloads import GEN_VERSION

    return os.path.join(WORK, "inputs", f"{wl.name}-s{seed}-n{wl.size}-v{GEN_VERSION}")


def _data_files(d: str) -> dict[str, int]:
    """Every parquet file of a generated input with its row count, read
    from the footers."""
    import pyarrow.parquet as pq

    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet") or f.startswith("part-"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, d)] = pq.ParquetFile(p).metadata.num_rows
    return out


def verify_input(d: str) -> dict | None:
    """The cache record of input ``d`` if every file it lists is present
    with the row count its footer recorded, else None."""
    rec_path = os.path.join(d, "_input.json")
    try:
        with open(rec_path) as f:
            rec = json.load(f)
        return rec if _data_files(os.path.join(d, "data")) == rec["files"] else None
    except (OSError, ValueError, KeyError):
        return None


# generated inputs kept per workload, enough for a set of ten seeds run
# twice (a tile input is 43 MB); older ones are deleted
KEEP_INPUTS = 12


def _prune_inputs(wl, keep: str) -> None:
    others = sorted(
        glob.glob(os.path.join(WORK, "inputs", f"{wl.name}-*")), key=os.path.getmtime
    )
    others = [d for d in others if d != keep]
    for d in others[: max(0, len(others) + 1 - KEEP_INPUTS)]:
        shutil.rmtree(d, ignore_errors=True)


def ensure_input(spark, wl, seed: int) -> tuple[dict, float]:
    """(cache record, seconds spent generating — 0 on a cache hit)."""
    d = _input_dir(wl, seed)
    rec = verify_input(d)
    if rec is not None:
        os.utime(d)
        return rec, 0.0
    _prune_inputs(wl, d)
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = wl.generate(spark, seed, os.path.join(tmp, "data"))
    rec = {"meta": meta, "files": _data_files(os.path.join(tmp, "data"))}
    with open(os.path.join(tmp, "_input.json"), "w") as f:
        json.dump(rec, f)
    os.rename(tmp, d)
    return rec, time.perf_counter() - t0


def input_bytes(wl, seed: int, rec: dict) -> int:
    """Bytes of the parquet files the job reads."""
    d = os.path.join(_input_dir(wl, seed), "data")
    return sum(os.path.getsize(os.path.join(d, f)) for f in rec["files"])


# -- one job -------------------------------------------------------------------


def run_job(spark, wl, tracer, seed: int, rec: dict) -> dict:
    """One job, timed from the first call into the program to the committed
    result, with its CPU time and peak memory.  The output check runs
    after the clock stops; the output is then deleted."""
    from procstat import RssSampler, cpu_seconds, process_tree
    from workloads import tree_bytes

    src = os.path.join(_input_dir(wl, seed), "data")
    out = os.path.join(WORK, "out", wl.name)
    shutil.rmtree(out, ignore_errors=True)
    row = {}
    cpu0 = cpu_seconds(process_tree())
    with RssSampler() as rss:
        t0 = time.perf_counter()
        try:
            result = wl.run(spark, tracer, src, out, rec["meta"])
            row["job_s"] = time.perf_counter() - t0
            row["result"] = result
        except Exception:
            row["job_s"] = time.perf_counter() - t0
            row["error"] = traceback.format_exc(limit=4)
    row["cpu_s"] = cpu_seconds(process_tree()) - cpu0
    row["peak_rss_mb"] = rss.peak / 2**20
    row["peak_rss_parts_mb"] = {k: v / 2**20 for k, v in rss.peak_parts.items()}
    if "error" not in row:
        try:
            row["problems"] = wl.check(out, rec["meta"], seed)
        except Exception:
            row["problems"] = [traceback.format_exc(limit=4)]
        row["stored_bytes"] = tree_bytes(out)
    row["ok"] = "error" not in row and not row["problems"]
    shutil.rmtree(out, ignore_errors=True)
    _release(spark)
    return row


def _release(spark) -> None:
    """Drop what a job left cached so the next job starts alike."""
    from osmquadtree_spark.cache import release_all

    release_all()
    spark.catalog.clearCache()


# -- the two kinds of run ------------------------------------------------------


# The first job of a session took 2-3x a warm one at local[4] on a 4-core
# host, and the second still 10-30% more than the third.
WARMUP_JOBS = 2


@dataclass
class Setup:
    spark: object
    rec: dict  # the input's cache record
    setup_s: float  # session start, input check and warm-up; no generation
    gen_s: float  # input generation, 0 when the cache held the input
    warmup: list  # the warm-up jobs' rows
    tracer: object  # a span of each warm-up job when tracing, else no-op


def _setup(wl, seed: int, confs: dict, event_dir: str | None = None) -> Setup:
    from spans import Tracer

    t0 = time.perf_counter()
    spark = start_session(confs, event_dir)
    rec, gen_s = ensure_input(spark, wl, seed)
    tracer = Tracer(spark if event_dir else None)
    warmup = []
    for _ in range(WARMUP_JOBS):
        with tracer.span("bench.warmup"):
            warmup.append(run_job(spark, wl, Tracer(None), seed, rec))
    return Setup(spark, rec, time.perf_counter() - t0 - gen_s, gen_s, warmup, tracer)


def end_to_end(wl, seed: int, seconds: float, confs: dict) -> tuple[dict, dict]:
    from spans import Tracer

    st = _setup(wl, seed, confs)
    rows = []
    t_end = time.perf_counter() + seconds
    while not rows or time.perf_counter() < t_end:
        rows.append(run_job(st.spark, wl, Tracer(None), seed, st.rec))
    stop_session(st.spark)
    inb = input_bytes(wl, seed, st.rec)
    good = [r for r in rows if r["ok"]] or rows
    med = {k: statistics.median(r[k] for r in good) for k in ("job_s", "cpu_s", "peak_rss_mb")}
    stored = [r["stored_bytes"] for r in good if "stored_bytes" in r]
    metrics = {
        "job_s": (med["job_s"], "s"),
        "rows_per_s": (st.rec["meta"]["rows"] / med["job_s"], "1/s"),
        "cpu_s": (med["cpu_s"], "s"),
        "peak_rss_mb": (med["peak_rss_mb"], "MB"),
        "stored_bytes_ratio": (statistics.median(stored) / inb if stored else 0.0, "ratio"),
        "setup_s": (st.setup_s, "s"),
        "ok_ratio": (sum(r["ok"] for r in rows) / len(rows), "ratio"),
    }
    detail = {"gen_s": st.gen_s, "input_bytes": inb, "warmup": st.warmup, "jobs": rows}
    return metrics, {"rows": rows, "warmup": st.warmup, "detail": detail, "rec": st.rec}


def traced(wl, seed: int, seconds: float, confs: dict) -> tuple[dict, dict]:
    """One session with the event log on: set-up and warm-up, then an
    untraced job, a job with every span installed and another untraced
    job.  The tracing overhead is the traced job's time minus the mean of
    the untraced jobs', which ran on either side of it because jobs still
    speed up slightly after the warm-up."""
    from spans import Tracer, fold, layer_metrics, read_event_log

    event_dir = os.path.join(WORK, "eventlog", f"{wl.name}-{seed}-{os.getpid()}")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)
    st = _setup(wl, seed, confs, event_dir)
    tracer = st.tracer

    def untraced() -> dict:
        # its jobs carry a job group too, so that every job in the log
        # belongs to a span, but no wrapper runs inside it
        with tracer.span("bench.untraced"):
            return run_job(st.spark, wl, Tracer(None), seed, st.rec)

    base = [untraced()]
    tracer.install()
    try:
        with tracer.span("bench.job"):
            row = run_job(st.spark, wl, tracer, seed, st.rec)
    finally:
        tracer.uninstall()
    base.append(untraced())
    stop_session(st.spark)
    totals, unattributed = fold(tracer.spans, read_event_log(event_dir))
    metrics = {}
    for name, unit in layer_metrics():
        span, q = name.rsplit(".", 1)
        metrics[name] = (totals.get(span, {}).get(q, 0.0), unit)
    metrics["trace.overhead_s"] = (row["job_s"] - statistics.mean(r["job_s"] for r in base), "s")
    metrics["trace.unattributed_jobs"] = (float(len(unattributed)), "count")
    detail = {
        "gen_s": st.gen_s, "warmup": st.warmup, "untraced_jobs": base, "traced_job": row,
        "unattributed_jobs": unattributed, "span_totals": totals,
        "spans": [
            {"name": s.name, "uid": s.uid, "parent": s.parent.uid if s.parent else None,
             "start": s.start, "end": s.end}
            for s in tracer.spans
        ],
    }
    shutil.rmtree(event_dir, ignore_errors=True)
    return metrics, {
        "rows": base + [row], "warmup": st.warmup, "detail": detail, "rec": st.rec,
        "ok_extra": not unattributed,
    }


# -- run record ----------------------------------------------------------------


def source_identity() -> dict:
    """The git sha when the checkout is a repository, and always a hash of
    the program's sources (benchmark checkouts carry no .git)."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(os.path.join(ROOT, "osmquadtree_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def write_record(record: dict) -> str:
    d = os.path.join(WORK, "records")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(
        d, f"{record['workload']}-s{record['seed']}-t{record['trace']}-{int(time.time() * 1e3)}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _import_program()
    import pyarrow
    import pyspark
    from procstat import host_cpus, host_mem_bytes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    cpus, mem = host_cpus(), host_mem_bytes()
    confs = spark_confs(cpus, mem)
    os.makedirs(WORK, exist_ok=True)
    run = traced if args.trace else end_to_end
    metrics, res = run(wl, args.seed, args.seconds, confs)
    rows = res["rows"]
    failed = sum(not r["ok"] for r in rows)
    correct = (
        failed == 0 and all(r["ok"] for r in res["warmup"]) and res.get("ok_extra", True)
    )
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "time": time.time(), **source_identity(),
        "host": {"cpus": cpus, "mem_bytes": mem},
        "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__},
        "spark_confs": confs, "loop": "closed, 1 client, 1 job at a time",
        "input": {"size": wl.size, **{
            k: v for k, v in res["rec"]["meta"].items() if k != "pairs"}},
        "metrics": {k: v for k, (v, _u) in metrics.items()},
        "correct": correct, "attempted": len(rows), "failed": failed,
        **res["detail"],
    }
    write_record(record)
    for r in res["warmup"] + rows:
        if not r["ok"]:
            print(f"perfbench: job failed: {r.get('error') or r['problems']}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(correct), "attempted": len(rows), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
