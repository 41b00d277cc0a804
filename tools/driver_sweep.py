#!/usr/bin/env python
"""Emulate the external driver's correctness sweep over every gate: run
each ``GATES`` entry (osmquadtree_spark/queries.py) on Spark at a given
scale factor, run its DuckDB oracle over the same parquet, and compare them
with ``queries.compare`` — column names, row counts and full sorted values.

This is the repo-local twin of the per-round CORRECTNESS_r{N}.json gate —
run it after touching any operator a gate exercises:

    python tools/driver_sweep.py                       # all gates, sf0.01
    python tools/driver_sweep.py --queries geom_ways   # subset
    python tools/driver_sweep.py --sf /root/testdata/sf0.001   # cross-scale

Cross-scale runs: several oracles (group_assign_fine, image_tiles, the
LSH/IVF/semantic soundness oracles, and dsir_weights' λ table) derive
artifacts — the greedy group table, the engine-exported candidate sets
and the committed DSIR λ parquet — at the driver's fixed correctness
scale, because ``oracle_sql()`` takes no sf argument per the contract.
This script points them at the swept scale via SPARK_GRAFT_ORACLE_SF_DIR.
Every gate has an oracle; a gate is green only when it is EQ. The sweep
exits 1 when a gate is not EQ or a base of the run-end metrics commit
fails (the --json-out artifact names those under metrics_errors).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--queries", nargs="*", default=None, help="subset of registry keys")
    ap.add_argument(
        "--json-out",
        default=None,
        help="write a sweep artifact: per-gate status/rows/sec plus the "
        "run's committed operator metrics (hot-bucket drops, candidate "
        "counts) aggregated per (operator, metric) — the caps-active "
        "evidence a full-scale sweep exists to record",
    )
    args = ap.parse_args()

    # point the scale-derived oracles at the SWEPT scale unconditionally:
    # a stale SPARK_GRAFT_ORACLE_SF_DIR exported by an earlier cross-scale
    # run would otherwise silently derive the group table / LSH candidate
    # sets at a different scale than the Spark queries (setdefault kept
    # the stale value, and skipped the guard entirely at sf0.01)
    prev = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
    if prev is not None and os.path.normpath(prev) != os.path.normpath(args.sf):
        print(
            f"overriding stale SPARK_GRAFT_ORACLE_SF_DIR={prev} with {args.sf}",
            file=sys.stderr,
        )
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = args.sf

    from osmquadtree_spark import metrics as M
    from osmquadtree_spark import queries as Q
    from osmquadtree_spark import session

    spark = session.build("osmquadtree-spark-sweep", args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    con = Q.oracle_connection(args.sf)

    names = args.queries or list(Q.GATES)
    unknown = [n for n in names if n not in Q.GATES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # the persistent qts store (the -qts.pbf analog) is an input of the
    # update gates: build it before the timed loop, as bench.py does, so
    # the first gate that reads it does not pay the one-off build in its
    # own ``sec``; the build cost is reported as store_build_sec
    from osmquadtree_spark.sources.qts_store import ensure_qts_store, store_is_current

    t0 = time.time()
    store_was_current = store_is_current(args.sf)
    ensure_qts_store(spark, args.sf)
    store_build_sec = 0.0 if store_was_current else round(time.time() - t0, 3)

    failures = []
    gate_results: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        g = Q.GATES[name]
        try:
            v = Q.compare(g.build(spark, args.sf), con.sql(g.oracle()))
            status, rows = v.status, v.rows
            for line in v.report:
                print(f"  {line}")
        except Exception as ex:  # surface, keep sweeping
            status, rows = f"ERROR {type(ex).__name__}: {ex}", 0
        if status != "EQ":
            failures.append(name)
        print(f"{name}: {status} rows={rows} {time.time() - t0:.1f}s", flush=True)
        gate_results[name] = {
            "status": status,
            "rows": rows,
            "sec": round(time.time() - t0, 1),
        }

    # run endpoint: commit the operator metrics recorded during the sweep
    # (hot-bucket drops, candidate counts) once. A failed base fails the
    # sweep: the artifact still records every gate and names the failed
    # bases under metrics_errors
    mc = M.commit_pending()
    if mc["bases"]:
        print(f"metrics committed: run_id={mc['run_id']} in {mc['sec']}s")
    for base, msg in mc["errors"].items():
        print(f"metrics commit failed for {base}: {msg}", file=sys.stderr)
    # the sum and count of the committed rows per (base, operator, metric)
    agg: dict[tuple, tuple[int, int]] = {}
    for base, rows in mc["rows"].items():
        if base not in mc["errors"]:
            for op, metric, _key, value in rows:
                t, n = agg.get((base, op, metric), (0, 0))
                agg[(base, op, metric)] = (t + value, n + 1)
    committed_metrics = [
        {"operator": op, "metric": metric, "total": t, "rows": n}
        for (_base, op, metric), (t, n) in agg.items()
    ]

    print(f"\n{len(names) - len(failures)}/{len(names)} green; failures: {failures or 'none'}")
    if args.json_out:
        import json

        artifact = {
            "metric": "driver_sweep_value_parity",
            "sf": args.sf,
            "session": session.describe(spark),
            "store_build_sec": store_build_sec,
            "gates": len(names),
            "green": len(names) - len(failures),
            "failures": failures,
            "results": gate_results,
            # caps-active evidence: every committed drop/candidate counter
            # of THIS run (non-zero bucket_rows_dropped / df caps prove the
            # capped regime was exercised, not idled through)
            "committed_metrics": sorted(
                committed_metrics, key=lambda r: (r["operator"], r["metric"])
            ),
            "metrics_errors": mc["errors"],
        }
        with open(args.json_out, "w") as f:
            json.dump(artifact, f, indent=1)
        print(f"sweep artifact written: {args.json_out}")
    spark.stop()
    return 1 if failures or mc["errors"] else 0


if __name__ == "__main__":
    sys.exit(main())
