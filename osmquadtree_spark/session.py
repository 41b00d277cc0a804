"""The one SparkSession builder: every entry point (the jobs,
tools/gates.py, bench_scaling.py, the test session) gets its
session from ``build``, so what the benchmarks measure is the config the
jobs ship with. The only per-caller value is the number of task slots.

Launcher wins: under ``spark-submit`` the JVM already exists and the
launcher's master, heap and confs stand; ``build`` then sets only the keys
the launcher left unset. The session's resulting shape is recorded in
every artifact through ``describe``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver heap is a quarter of the host's memory, scaled by the share of
# the host's cores the session gets, within [1 GiB, 16 GiB]. Not perfbench's
# eighth: tools/gates.py --check collects whole result sets to compare them,
# and at 4 of 4 cores on a 15.7 GB host sf0.1's geojson_tiles took 84.2 s
# with a 2 GiB heap against 38.9 s with 4 GiB (changes_stream 280.6 vs
# 285.5 s, image_phash_clusters 77.4 vs 72.6 s, all EQ). Scaling with the
# core share keeps "the heap grows with the simulated cluster" for
# bench_scaling.py's pinned levels.
MIN_HEAP = 1 << 30
MAX_HEAP = 16 << 30
# shuffle partitions per task slot: every slot has a second task queued, as
# in perfbench's 2×cores
PARTITIONS_PER_SLOT = 2


def fit(cpus: int, mem_bytes: int, host_cpus: int) -> tuple[int, int]:
    """The host-fitting rule: (driver heap in bytes, shuffle partitions) for
    a local session of ``cpus`` task slots on a host with ``mem_bytes`` of
    memory and ``host_cpus`` cores. Slots beyond the host's cores share
    its memory, they do not add to it."""
    share = min(cpus, host_cpus)
    heap = min(max(mem_bytes // 4 * share // host_cpus, MIN_HEAP), MAX_HEAP)
    return heap, PARTITIONS_PER_SLOT * cpus


def build(app: str, cpus: int | None = None) -> SparkSession:
    """Start (or join the launcher's) session named ``app``. ``cpus``
    defaults to the cores this process may run on, so a process pinned to
    N cores gets local[N]; under a launcher its master decides instead."""
    confs = {
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # with SPARK_GRAFT_CHECKPOINT_DIR engaged (cache.stage_checkpoint),
        # Spark deletes out-of-scope reliable checkpoint files only when
        # this is set; without it the checkpoint dir grows across runs
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    }
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # the launcher started the JVM
        from pyspark import SparkConf, SparkContext

        # connect to the launcher's JVM first: a SparkConf made before that
        # is an empty Python dict that sees none of the launcher's confs
        SparkContext._ensure_initialized()
        preset = {k for k, _ in SparkConf().getAll()}
    else:
        # the heap is fixed at JVM launch, so no SparkConf may be made
        # before getOrCreate starts the JVM with these confs
        preset = set()
        cpus = cpus or len(os.sched_getaffinity(0))
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        heap, _ = fit(cpus, mem, os.cpu_count())
        confs["spark.master"] = f"local[{cpus}]"
        confs["spark.driver.memory"] = f"{heap >> 20}m"
        confs["spark.ui.enabled"] = "false"
    b = SparkSession.builder.appName(app)
    for k in confs.keys() - preset:
        b = b.config(k, confs[k])
    spark = b.getOrCreate()
    if "spark.sql.shuffle.partitions" not in preset:
        # a runtime SQL conf: a cluster's parallelism is known only now
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(PARTITIONS_PER_SLOT * spark.sparkContext.defaultParallelism),
        )
    return spark


def describe(spark: SparkSession) -> dict:
    """The session's shape as it runs, whoever set it: the record every
    benchmark artifact and job output carries."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
    }
