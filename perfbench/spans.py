"""Spans around the program's public entry points, folded with Spark's
event log into per-layer metrics.

A span is entered by calling a wrapped function.  Entering a span tags every Spark job
the thread submits with ``setJobGroup(<span id>)``; leaving it restores
the parent's tag.  After the traced session stops, ``fold`` reads the
uncompressed event log, attributes each job and stage to the innermost
span by job group, and rolls the quantities up to the ancestors, the way
a span's wall time includes its children's.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import time
from dataclasses import dataclass, field

# (module, attribute, span name).  One span name may wrap the same function
# under several module names: pipeline.py imports write_tile_sorted at
# module level, so the pipeline calls it through its own namespace.
WRAPPED = (
    ("osmquadtree_spark.pipeline", "run_image_tiling", "pipeline.run_image_tiling"),
    ("osmquadtree_spark.pipeline", "stage_qts", "pipeline.stage_qts"),
    ("osmquadtree_spark.pipeline", "stage_groups", "pipeline.stage_groups"),
    ("osmquadtree_spark.pipeline", "stage_tiles", "pipeline.stage_tiles"),
    ("osmquadtree_spark.pipeline", "write_tile_sorted", "sortblocks.write_tile_sorted"),
    ("osmquadtree_spark.operators.sortblocks", "write_tile_sorted", "sortblocks.write_tile_sorted"),
    ("osmquadtree_spark.operators.sortblocks", "compute_groups", "sortblocks.compute_groups"),
    ("osmquadtree_spark.curation", "run_curation", "curation.run_curation"),
    ("osmquadtree_spark.curation", "stage_quality", "curation.stage_quality"),
    ("osmquadtree_spark.curation", "stage_dedup", "curation.stage_dedup"),
    ("osmquadtree_spark.curation", "stage_decon", "curation.stage_decon"),
    ("osmquadtree_spark.curation", "stage_weights", "curation.stage_weights"),
    ("osmquadtree_spark.curation", "stage_shards", "curation.stage_shards"),
    ("osmquadtree_spark.operators.components", "connected_components", "components.connected_components"),
    ("osmquadtree_spark.operators.bloom", "collect_bloom", "bloom.collect_bloom"),
    ("osmquadtree_spark.metrics", "commit_pending", "metrics.commit_pending"),
)

SPANS = tuple(dict.fromkeys(w[2] for w in WRAPPED))

BASE_QUANTITIES = ("s", "self_s", "driver_s", "jobs", "task_cpu_s")

# stage accumulables summed per span, and the metric each one feeds.  The
# Python worker times are Spark's SQL timing metrics (ms) summed over
# tasks, so they are task-seconds and can exceed the span's wall time.
_STAGE_SUMS = {
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "time to start Python workers": ("py_init_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
}

# the extra quantities each span reports, beyond BASE_QUANTITIES: spans with
# an Exchange report shuffle and spill, spans that scan files their input,
# spans that run pandas or Arrow UDFs their Python worker time.  Kept to
# the layers an optimisation is most likely to move (at most 128 metrics).
# What each should move end to end:
#   sortblocks.compute_groups driver_s, jobs       -> job_s
#   pipeline.stage_qts py_init_s, py_run_s          -> job_s, cpu_s
#   sortblocks.write_tile_sorted shuffle, spill     -> job_s, cpu_s, peak_rss_mb
#   stage_qts / write_tile_sorted input_bytes       -> job_s (the read-backs)
#   pipeline.stage_qts s (payload written twice)    -> stored_bytes_ratio
#   curation.stage_quality task_cpu_s               -> job_s, cpu_s
#     (quality_gate is built-in Spark SQL: it runs no Python UDF)
#   components.connected_components jobs            -> job_s
EXTRA = {
    "pipeline.stage_qts": ("input_bytes", "py_init_s", "py_run_s"),
    "pipeline.stage_groups": ("shuffle_write_bytes", "input_bytes"),
    "sortblocks.compute_groups": ("shuffle_write_bytes", "spill_bytes"),
    "sortblocks.write_tile_sorted": (
        "shuffle_write_bytes", "spill_bytes", "input_bytes", "py_init_s", "py_run_s",
    ),
    "curation.stage_quality": ("shuffle_write_bytes", "spill_bytes", "input_bytes"),
    "curation.stage_dedup": ("shuffle_write_bytes", "spill_bytes", "py_run_s"),
    "curation.stage_weights": ("py_run_s",),
    "components.connected_components": ("shuffle_write_bytes",),
}


def _unit(quantity: str) -> str:
    return "count" if quantity == "jobs" else "bytes" if quantity.endswith("bytes") else "s"


def layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric but the two about tracing."""
    return [
        (f"{s}.{q}", _unit(q)) for s in SPANS for q in BASE_QUANTITIES + EXTRA.get(s, ())
    ]


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run prints, in BENCHMARK.json order."""
    return [n for n, _u in layer_metrics()] + ["trace.overhead_s", "trace.unattributed_jobs"]


@dataclass
class Span:
    uid: str
    name: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Records spans and tags the Spark jobs each one submits.  A disabled
    tracer's ``span`` is a no-op, so untraced runs pay nothing."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    def _tag(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.uid, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{len(self.spans)}", name, parent, time.time())
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def install(self) -> None:
        """Wrap every function in WRAPPED with a span of its name."""
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)

            def wrapper(*a, __orig=orig, __name=name, **kw):
                with self.span(__name):
                    return __orig(*a, **kw)

            functools.update_wrapper(wrapper, orig)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir`` (Spark 4
    writes a directory of rolled files; a plain file is read too)."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    events = []
    for path in files:
        if path.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {path}: set spark.eventLog.compress=false")
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(spans: list[Span], events: list[dict]) -> tuple[dict[str, dict], list[int]]:
    """Per span name, the summed quantities of every instance of that span,
    and the ids of the jobs no span claims."""
    by_uid = {sp.uid: sp for sp in spans}
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str | None] = {}
    own: dict[str, dict[str, float]] = {sp.uid: {} for sp in spans}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1e3,
            }
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = (
                ev.get("Properties") or {}
            ).get("spark.jobGroup.id")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            uid = stage_group.get(info["Stage ID"])
            if uid not in own:
                continue
            for acc in info.get("Accumulables", []):
                key = _STAGE_SUMS.get(acc.get("Name"))
                if key is not None:
                    q, scale = key
                    own[uid][q] = own[uid].get(q, 0.0) + float(acc["Value"]) * scale
    unattributed = sorted(j for j, v in jobs.items() if v["group"] not in by_uid)
    job_spans: dict[str, list[tuple[float, float]]] = {sp.uid: [] for sp in spans}
    for v in jobs.values():
        if v["group"] in by_uid:
            job_spans[v["group"]].append((v["start"], v.get("end", v["start"])))

    def subtree(sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(s.children)
        return out

    totals: dict[str, dict[str, float]] = {}
    for sp in spans:
        tree = subtree(sp)
        wall = sp.end - sp.start
        job_iv = [
            (max(s, sp.start), min(e, sp.end))
            for t in tree for s, e in job_spans[t.uid]
            if min(e, sp.end) > max(s, sp.start)
        ]
        q = {
            "s": wall,
            "self_s": wall - _union_len([(c.start, c.end) for c in sp.children]),
            "driver_s": wall - _union_len(job_iv),
            "jobs": float(sum(len(job_spans[t.uid]) for t in tree)),
        }
        for t in tree:
            for k, v in own[t.uid].items():
                q[k] = q.get(k, 0.0) + v
        agg = totals.setdefault(sp.name, {})
        for k, v in q.items():
            agg[k] = agg.get(k, 0.0) + v
    return totals, unattributed
