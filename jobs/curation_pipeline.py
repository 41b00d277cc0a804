#!/usr/bin/env python
"""spark-submit entrypoint for the resumable text-curation pipeline —
the documents-table twin of jobs/tile_pipeline.py:

    zip -r oqt_spark.zip osmquadtree_spark
    spark-submit --master <cluster> --py-files oqt_spark.zip \\
        jobs/curation_pipeline.py --out-dir /data/curated \\
        --input /data/documents.parquet \\
        [--bench-input /data/eval_set.parquet | --bench-mod 41] \\
        [--shard-tokens 4096]

Stages (quality → dedup → decon → weights → shards) each commit a
manifest LAST; re-running with the same --out-dir resumes from the first
uncommitted stage. Prints one JSON line of stage manifests.

The same reliable-checkpoint escape hatch as the tile pipeline applies:
set ``SPARK_GRAFT_CHECKPOINT_DIR`` on a real cluster so the
connected-components rounds survive executor loss.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text, ...)")
    ap.add_argument(
        "--bench-input", default=None,
        help="eval-set parquet (doc_id, text); defaults to the synthetic "
        "every-Nth slice of --input per --bench-mod",
    )
    ap.add_argument("--bench-mod", type=int, default=41)
    ap.add_argument("--shard-tokens", type=int, default=4096)
    ap.add_argument(
        "--quality-params", default=None,
        help='JSON dict of quality_gate threshold kwargs, e.g. '
        '\'{"min_tokens": 50, "max_mean_freq_x100": 91000}\'',
    )
    ap.add_argument("--stop-after", default=None, help=argparse.SUPPRESS)
    ap.add_argument(
        "--verify", action="store_true",
        help="re-read every stage's committed parquet and cross-check the "
        "observed row counts (doubles stage IO; manifests gain "
        "verified_rows). Default off: counts come from the write job's "
        "own observation metrics.",
    )
    ap.add_argument(
        "--no-exclude-bench", action="store_true",
        help="do NOT anti-join the benchmark doc_ids out of the corpus at "
        "the decon stage — only for an external eval set whose doc_id "
        "namespace is unrelated to the corpus",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("oqt-curation-pipeline")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from osmquadtree_spark.curation import run_curation

    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.bench_input) if args.bench_input else None
    manifests = run_curation(
        spark,
        docs,
        args.out_dir,
        bench=bench,
        bench_mod=args.bench_mod,
        shard_tokens=args.shard_tokens,
        quality_params=json.loads(args.quality_params)
        if args.quality_params
        else None,
        stop_after=args.stop_after,
        exclude_bench=not args.no_exclude_bench,
        verify=args.verify,
    )
    # run endpoint: flush any operator metrics registered during the run
    # (hot-bucket drops, candidate counts — osmquadtree_spark/metrics.py).
    # A failed metrics base must not eat the committed manifests: report
    # it, print the manifests, then fail the job.
    from osmquadtree_spark import metrics

    errors = metrics.commit_pending()["errors"]
    for base, msg in errors.items():
        print(f"metrics commit failed for {base}: {msg}", file=sys.stderr)
    print(json.dumps(manifests))
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
