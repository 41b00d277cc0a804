#!/usr/bin/env python
"""Benchmark harness: the headline gates (``headline=True`` in
osmquadtree_spark.queries.GATES) at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, ...}

The primary north-rule metric (tiles+rows/sec on the quadtree-assignment +
tile-split pipeline) is included as "rows_per_sec" alongside the per-query
wall clocks. Every query is fully materialized via a noop-format write so
column pruning can't skip work.

Usage: python bench.py [--sf-dir DIR] [--cpus N] [--json-out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("osmquadtree-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int | None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--json-out", default=None)
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    # best-of-N per query: the sandbox host is multi-tenant and single
    # timings vary ±2×; the best attempt is the least-contended observation
    # of the same deterministic plan (all attempts reported)
    ap.add_argument(
        "--repeats", type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")),
    )
    args = ap.parse_args()

    from osmquadtree_spark import queries as Q

    spark = build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # --queries can time any gate, not just the external driver's capped 50
    names = (
        args.queries.split(",")
        if args.queries
        else [n for n, g in Q.GATES.items() if g.headline]
    )
    unknown = [n for n in names if n not in Q.GATES]
    if unknown:
        # fail BEFORE the untimed setup (input count, qts-store build,
        # warmup) — a typo'd name would otherwise surface as a bare
        # KeyError minutes in, with no JSON line emitted
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # input scale for the throughput metric: rows entering the flagship
    # assignment pipeline (lineitem-derived elements)
    n_rows = spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()

    # the persistent qts store (the -qts.pbf analog) is an INPUT of the
    # update queries: make sure it exists before any timed sweep, and report
    # its (one-off) build cost separately — every timed attempt then pays
    # exactly the production read path
    from osmquadtree_spark.sources.qts_store import ensure_qts_store, store_is_current

    t0 = time.time()
    store_was_current = store_is_current(args.sf_dir)
    ensure_qts_store(spark, args.sf_dir)
    store_build_sec = 0.0 if store_was_current else round(time.time() - t0, 3)

    # warm the python worker pool + Arrow machinery once (cluster startup is
    # not steady-state throughput; the scaling bench excludes it the same way)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(v):
        return v

    spark.range(0, 32 * 1024, 1, args.cpus).select(_warm("id")).write.format(
        "noop"
    ).mode("overwrite").save()

    from osmquadtree_spark import metrics as M

    attempts: dict[str, list[float]] = {}
    sub: dict[str, list[dict]] = {}
    metrics_commit: list[dict] = []
    for rep in range(max(1, args.repeats)):
        # memoized computations (resolved updates, extract IdSet, element
        # cells, way coords, old-qt derivations) must not leak between
        # repeats — a best-of over a memo hit would report a cache read as
        # the query's cost. Only the fixture source frames (stand-ins for
        # the input parquet itself) persist; old element cells are read
        # from the on-disk qts store on EVERY attempt.
        Q.clear_session_caches(keep_input_stores=rep > 0)
        for name in names:
            fn = Q.GATES[name].build
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            t1 = time.time()
            materialize(df)
            t2 = time.time()
            attempts.setdefault(name, []).append(round(t2 - t0, 3))
            # construct = plan build incl. any eager artifact work (LSH
            # candidate exports); exec = the Spark job(s). The r3 verdict
            # demanded this split to attribute the dedup-family deltas.
            sub.setdefault(name, []).append(
                {"construct": round(t1 - t0, 3), "exec": round(t2 - t1, 3)}
            )
        # operator metrics (hot-bucket drops, candidate counts) commit ONCE
        # per sweep, against the operators' still-warm caches; timed and
        # reported separately so the per-query numbers are the production
        # query cost and the commit cost is visible, not hidden
        try:
            metrics_commit.append(M.commit_pending())
        except Exception as ex:  # a frame sharing a failed query's lineage
            metrics_commit.append({"error": f"{type(ex).__name__}: {ex}"})
    timings = {name: min(ts) for name, ts in attempts.items()}

    pipeline_sec = timings.get("qt_assign", 0) + timings.get("group_assign_fine", 0)
    total = round(sum(timings.values()), 3)
    first_sweep_total = round(sum(ts[0] for ts in attempts.values()), 3)
    out = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": args.sf_dir,
        "cpus": args.cpus,
        "input_rows": n_rows,
        "pipeline_sec": round(pipeline_sec, 3),
        "rows_per_sec": round(n_rows / pipeline_sec, 1) if pipeline_sec else None,
        "repeats": max(1, args.repeats),
        "first_sweep_total_sec": first_sweep_total,
        "qts_store_build_sec": store_build_sec,
        "timing_policy": (
            "best-of-N per query (host is multi-tenant; all attempts "
            "reported, first-sweep total reported separately); computation "
            "memos cleared between sweeps; old element cells and the "
            ".osc-analog change set are read from the on-disk qts store on "
            "every attempt (one-off build cost is qts_store_build_sec); "
            "operator metrics (hot-bucket drops, candidate counts) commit "
            "once per sweep against warm caches — metrics_commit per sweep "
            "below; sub_timings split plan construction (incl. eager LSH "
            "candidate exports) from Spark execution per attempt"
        ),
        "attempts": attempts,
        "sub_timings": sub,
        "metrics_commit": metrics_commit,
    }
    line = json.dumps(out)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
