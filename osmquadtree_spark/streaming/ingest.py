"""Streaming element ingest: assign quadtree cells + group tiles to rows as
they arrive, maintain a live per-tile count aggregate, and append
tile-partitioned output.

The reference is batch-only; this is the Structured-Streaming face of the
same kernels: the qt assignment is stateless (the Arrow kernel runs
per micro-batch), the group table is a broadcast computed offline by
``operators.sortblocks.compute_groups*`` (the reference also fixes the
grouping before writing, sortblocks.cpp:422-501), and per-tile counts are a
streaming groupBy in update mode — the metrics side of the north rule's
lineage table, live.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import make_qt_calculate
from ..kernels import quadtree as qtk
from ..operators.sortblocks import make_assign_group_udf


def with_cells_stream(
    elements: DataFrame,
    group_qts: np.ndarray | None = None,
    buffer: float = qtk.BUFFER_DEFAULT,
    max_depth: int = qtk.MAX_DEPTH_CLI,
) -> DataFrame:
    """Stateless enrichment of a streaming element frame (minx, miny, maxx,
    maxy int64 fixed-point): adds ``qt`` and, when a group table is given,
    ``group_qt``. Works identically on batch frames."""
    qt = make_qt_calculate(buffer, max_depth)
    out = elements.withColumn("qt", qt("minx", "miny", "maxx", "maxy"))
    if group_qts is not None:
        assign = make_assign_group_udf(elements.sparkSession, group_qts)
        out = out.withColumn("group_qt", assign(F.col("qt")))
    return out


def tile_counts_stream(enriched: DataFrame, tile_col: str = "group_qt") -> DataFrame:
    """Live per-tile row counts (update-mode aggregate) — the streaming
    lineage/metrics feed. State is one counter per tile (≤ number of
    groups), hash-sharded by tile."""
    return enriched.groupBy(tile_col).agg(F.count(F.lit(1)).alias("row_count"))


def windowed_counts_stream(
    df: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("group_qt",),
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark
    (append mode): each (window, keys) row emits EXACTLY ONCE, when the
    watermark (max event time seen minus the delay) passes the window
    end, and the window's state is dropped — so state is bounded by the
    number of OPEN windows × keys regardless of corpus size, the property
    that matters at 10^12 rows. Rows arriving later than the watermark
    are dropped (the late-data contract); rows late but within the delay
    are counted. Both behaviors are pinned in tests/test_streaming.py;
    the no-late-data equivalence to the batch aggregate is value-gated
    against DuckDB via the ``windowed_events_stream`` sweep entry.

    The reference's closest analog is the daily .osc replication window
    (docs/source/getting_started.rst:60-68) — batch replay there, a
    genuine event-time stream here.

    Output: (win_start, win_end epoch seconds BIGINT — timezone-free,
    Spark's window alignment is epoch-based; *keys; row_count)."""
    win = F.window(ts_col, window).alias("win")
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(
            F.col("win.start").cast("long").alias("win_start"),
            F.col("win.end").cast("long").alias("win_end"),
            *keys,
            "row_count",
        )
    )


def session_counts_stream(
    df: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
    gap: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time SESSION-window counts (append mode): a session is a
    maximal run of events per key where consecutive gaps are < ``gap``;
    its window is [first_event, last_event + gap). Unlike tumbling
    windows, sessions MERGE — a late-but-within-watermark event that
    lands between two open sessions of the same key fuses them into one
    (state-store merge, pinned in tests/test_streaming.py). A session
    emits exactly once, when the watermark passes its end, and its state
    is dropped — state stays bounded by OPEN sessions × keys.

    Semantics twin (the sweep's ``session_events_stream`` value gate):
    SQL gaps-and-islands — new session when ts - lag(ts) >= gap (Spark's
    window end is EXCLUSIVE, so an event at exactly last + gap starts a
    new session; the oracle must use >=, not >). The reference is
    batch-only (no analog); this is the telemetry/training-pipeline
    sessionization shape, first-class in Structured Streaming.

    Output: (sess_start, sess_end epoch MICROseconds BIGINT — the events
    corpus carries microsecond timestamps, so second-truncated bounds
    would collide; *keys; row_count)."""
    win = F.session_window(F.col(ts_col), gap).alias("sess")
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(
            F.unix_micros(F.col("sess.start")).alias("sess_start"),
            F.unix_micros(F.col("sess.end")).alias("sess_end"),
            *keys,
            "row_count",
        )
    )
