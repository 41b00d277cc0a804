"""Self-tests of the benchmark: its output checks reject corrupted output,
and the traced run attributes every Spark job to a span.

    python -m pytest perfbench -q

Run from the root of a checkout; each test uses a small input.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p
)

import spans  # noqa: E402
import workloads as W  # noqa: E402


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="module")
def spark(event_dir):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", event_dir)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiled(spark, tmp_path_factory):
    """A traced tiling job over 2,000 image rows: (output dir, input meta,
    tracer)."""
    base = tmp_path_factory.mktemp("tiles")
    src, out = str(base / "in"), str(base / "out")
    meta = W.gen_images(spark, 7, src, n=2_000)
    tracer = spans.Tracer(spark)
    tracer.install()
    try:
        with tracer.span("bench.job"):
            W.run_tiling(spark, tracer, src, out, meta)
    finally:
        tracer.uninstall()
    return out, meta, tracer


def test_tiling_check_passes(tiled):
    out, meta, _ = tiled
    assert W.check_tiling(out, meta, 7) == []


def _corrupted(out: str, tmp_path, corrupt) -> str:
    copy = str(tmp_path / "copy")
    shutil.copytree(out, copy)
    corrupt(copy)
    return copy


def _drop_data_file(d):
    data = os.path.join(d, "tiles", "data")
    os.remove(os.path.join(data, sorted(f for f in os.listdir(data) if f.endswith(".parquet"))[-1]))


def _split_tile(d):
    """Half of one tile's rows moved to another partition; the row total
    is unchanged."""
    lin_dir = os.path.join(d, "tiles", "_metrics")
    t = pq.read_table(lin_dir).to_pandas()
    moved = t.iloc[[0]].copy()
    moved["_part_id"] = t["_part_id"].max() + 1
    moved["row_count"] = t.loc[0, "row_count"] // 2
    t.loc[0, "row_count"] -= moved["row_count"].iloc[0]
    t = pd.concat([t, moved], ignore_index=True)
    shutil.rmtree(lin_dir)
    os.makedirs(lin_dir)
    t.to_parquet(os.path.join(lin_dir, "part-0.parquet"))


def _claim_more_tiles(d):
    p = os.path.join(d, "tiles", "_manifest.json")
    with open(p) as f:
        man = json.load(f)
    man["tiles"] += 1
    with open(p, "w") as f:
        json.dump(man, f)


def _move_row_to_wrong_tile(d):
    data = os.path.join(d, "tiles", "data")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(data, f)).to_pandas()
            if len(t):
                t["group_qt"] = t["group_qt"] + 1
                t.to_parquet(os.path.join(data, f))


@pytest.mark.parametrize(
    "corrupt", [_drop_data_file, _split_tile, _claim_more_tiles, _move_row_to_wrong_tile]
)
def test_tiling_check_rejects_corrupt_output(tiled, tmp_path, corrupt):
    out, meta, _ = tiled
    assert W.check_tiling(_corrupted(out, tmp_path, corrupt), meta, 7)


def test_every_job_is_attributed(spark, tiled, event_dir):
    _, _, tracer = tiled
    spark.stop()  # flushes the event log
    totals, unattributed = spans.fold(tracer.spans, spans.read_event_log(event_dir))
    assert unattributed == []
    for name in ("pipeline.stage_qts", "sortblocks.compute_groups", "sortblocks.write_tile_sorted"):
        assert totals[name]["jobs"] > 0, name
        assert totals[name]["task_cpu_s"] > 0, name
    job = totals["bench.job"]
    assert job["jobs"] >= totals["pipeline.run_image_tiling"]["jobs"] > 0
    assert 0 <= job["driver_s"] <= job["s"]


def test_fold_rolls_up_and_flags_unattributed():
    root = spans.Span("a", "root", None, 100.0, 110.0)
    child = spans.Span("b", "child", root, 101.0, 105.0)
    root.children.append(child)

    def job(i, group, s, e, stage):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": i, "Submission Time": s * 1e3,
             "Stage IDs": [stage], "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
             "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": 2e9},
                {"Name": "time to run Python workers", "Value": 500}]}},
            {"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": e * 1e3},
        ]

    events = job(0, "a", 100.5, 101.5, 0) + job(1, "b", 102.0, 104.0, 1) + job(2, None, 111, 112, 2)
    totals, unattributed = spans.fold([root, child], events)
    assert unattributed == [2]
    assert totals["child"] == pytest.approx(
        {"s": 4, "self_s": 4, "driver_s": 2, "jobs": 1, "task_cpu_s": 2, "py_run_s": 0.5}
    )
    assert totals["root"] == pytest.approx(
        {"s": 10, "self_s": 6, "driver_s": 7, "jobs": 2, "task_cpu_s": 4, "py_run_s": 1}
    )


def test_layer_metrics_match_benchmark_json():
    names = spans.layer_metric_names()
    assert len(names) == len(set(names)) <= 128
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    units = dict(spans.layer_metrics(), **{"trace.overhead_s": "s", "trace.unattributed_jobs": "count"})
    assert declared == [(n, units[n]) for n in names]
