#!/usr/bin/env python
"""spark-submit entrypoint for the resumable image tiling pipeline.

The north-rule deployment shape:

    zip -r oqt_spark.zip osmquadtree_spark
    spark-submit --master <cluster> --py-files oqt_spark.zip \\
        jobs/tile_pipeline.py --out-dir /data/tiles \\
        [--input /data/images.parquet | --n-images 1000000] \\
        [--target 40000 --minsize 20000 --tree-level 15 --partitions 256]

--partitions sets the tile layout's partition (and file) count; it
defaults to the session's spark.sql.shuffle.partitions, at most one
partition per tile.

Re-running with the same --out-dir resumes from the first uncommitted
stage (per-stage manifests are the commit markers — Iceberg snapshots in
production). The re-run takes the same --input or --n-images: the qts
stage checkpoints only (image_id, qt), and the tile stage reads the input
again and refuses to commit if it no longer matches the qts checkpoint.
Prints one JSON line of stage manifests, last.

Smoke-tested end to end through real spark-submit --py-files in
tests/test_submit.py.

Checkpoint policy: engine-internal stage checkpoints (kNN expansion
rounds, bench memos) default to ``localCheckpoint`` — executor-local
blocks, so on a real cluster a lost executor FAILS the job instead of
recomputing. For production cluster runs set
``SPARK_GRAFT_CHECKPOINT_DIR`` to an HDFS/S3 path (or call
``sparkContext.setCheckpointDir`` before the pipeline): every stage
checkpoint then becomes a reliable checkpoint and executor loss recovers
from the checkpoint files (osmquadtree_spark/cache.stage_checkpoint).
The pipeline's own resumability is independent of this: stage manifests
commit to --out-dir and a re-run resumes from the first uncommitted
stage regardless of how the in-flight job died.

The session comes from osmquadtree_spark.session.build, which fills what
the launcher left unset; its shape is printed as one {"session": ...}
JSON line before the manifests line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out-dir", required=True)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet with the image+caption schema")
    src.add_argument("--n-images", type=int, help="synthesize N deterministic rows")
    ap.add_argument("--target", type=int, default=40000)
    ap.add_argument("--minsize", type=int, default=20000)
    ap.add_argument("--tree-level", type=int, default=15)
    ap.add_argument(
        "--partitions", type=int, default=None,
        help="tile layout partitions (default: the session's shuffle partitions)",
    )
    ap.add_argument("--stop-after", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    from osmquadtree_spark import session

    spark = session.build("oqt-tile-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    print(json.dumps({"session": session.describe(spark)}))

    from osmquadtree_spark.pipeline import run_image_tiling
    from osmquadtree_spark.sources.images import images_df

    if args.input:
        images = spark.read.parquet(args.input)
    else:
        images = images_df(spark, args.n_images)
    manifests = run_image_tiling(
        spark,
        images,
        args.out_dir,
        target=args.target,
        minsize=args.minsize,
        tree_level=args.tree_level,
        num_partitions=args.partitions,
        stop_after=args.stop_after,
    )
    # run endpoint: write the operator metrics recorded during the run
    # (hot-bucket drops, candidate counts — osmquadtree_spark/metrics.py)
    # from the driver, with no Spark job. A failed metrics base must not
    # eat the committed manifests: report it, print the manifests, then
    # fail the job.
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
