"""Structured-Streaming tests: file-source micro-batches with availableNow
triggers. Checks (1) the stateful latest-wins change stream converges to the
batch apply_changes result, (2) state carries across separate runs via the
checkpoint, (3) streaming ingest output rows equal the batch kernel's."""

import os

import numpy as np
import pandas as pd

from osmquadtree_spark.operators.changes import apply_changes
from osmquadtree_spark.streaming.changes import apply_changes_stream
from osmquadtree_spark.streaming.ingest import tile_counts_stream, with_cells_stream

CH_SCHEMA = "key bigint, seq bigint, payload double, changetype int"


def _write_batch(spark, path, rows, i):
    pdf = pd.DataFrame(rows, columns=["key", "seq", "payload", "changetype"])
    spark.createDataFrame(pdf, CH_SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, f"b{i}")
    )


def _run_stream(spark, src, chk, sink_name):
    stream = spark.readStream.schema(CH_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/*")
    q = (
        apply_changes_stream(stream)
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {sink_name}")


def test_stream_matches_batch_apply_changes(spark, tmp_path):
    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    b0 = [(k, 0, float(k), 0) for k in range(20)]
    b1 = [(k, 1, k * 2.0, 4) for k in range(0, 20, 3)] + [(5, 1, 0.0, 1)]
    b2 = [(k, 2, k * 3.0, 5) for k in range(0, 20, 4)] + [(7, 2, 0.0, 2)]
    _write_batch(spark, src, b0, 0)
    _write_batch(spark, src, b1, 1)
    _write_batch(spark, src, b2, 2)

    out = _run_stream(spark, src, chk, "chsink").toPandas()
    # memory sink in update mode appends every update — last row per key wins
    final = out.sort_values("seq").groupby("key").last().reset_index()
    live = final[~final["is_deleted"]][["key", "payload", "changetype"]]

    main = spark.createDataFrame(pd.DataFrame(b0, columns=["key", "seq", "payload", "changetype"])).drop("seq")
    ch1 = spark.createDataFrame(pd.DataFrame(b1, columns=["key", "seq", "payload", "changetype"])).drop("seq")
    ch2 = spark.createDataFrame(pd.DataFrame(b2, columns=["key", "seq", "payload", "changetype"])).drop("seq")
    want = apply_changes(main, [ch1, ch2], ["key"]).toPandas()

    got = live.sort_values("key").reset_index(drop=True)
    want = want[["key", "payload", "changetype"]].sort_values("key").reset_index(drop=True)
    pd.testing.assert_frame_equal(got.astype({"key": "int64"}), want.astype({"key": "int64"}), check_dtype=False)
    # tombstoned keys are flagged, not silently dropped
    assert set(final[final["is_deleted"]]["key"]) == {5, 7}


def test_stream_state_survives_restart(spark, tmp_path):
    src, chk, out = str(tmp_path / "src"), str(tmp_path / "chk"), str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema(CH_SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(out)

        q = (
            apply_changes_stream(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    _write_batch(spark, src, [(1, 0, 10.0, 0), (2, 0, 20.0, 0)], 0)
    run()
    r1 = spark.read.parquet(out).toPandas()
    assert len(r1) == 2

    # second run from the SAME checkpoint: only new files are processed and
    # the keyed state still remembers seq 0
    _write_batch(spark, src, [(1, 1, 11.0, 4)], 1)
    _write_batch(spark, src, [(1, 0, 99.0, 4)], 2)  # stale seq → ignored by state
    run()
    r2 = spark.read.parquet(out).toPandas()
    upd = r2.sort_values("seq").groupby("key").last()
    assert upd.loc[1, "payload"] == 11.0  # stale seq-0 row did not win
    assert upd.loc[2, "payload"] == 20.0


def test_stream_ingest_matches_batch_kernel(spark, tmp_path):
    from osmquadtree_spark.functions.udfs import make_qt_calculate

    src = str(tmp_path / "elems")
    rng = np.random.default_rng(11)
    n = 2000
    lon = rng.integers(-1700000000, 1700000000, n)
    lat = rng.integers(-800000000, 800000000, n)
    pdf = pd.DataFrame({"elem_id": np.arange(n), "minx": lon, "miny": lat, "maxx": lon, "maxy": lat})
    schema = "elem_id bigint, minx bigint, miny bigint, maxx bigint, maxy bigint"
    spark.createDataFrame(pdf, schema).coalesce(2).write.parquet(src + "/b0")

    stream = spark.readStream.schema(schema).parquet(src + "/*")
    from osmquadtree_spark.kernels import quadtree as qtk

    # group table: root + the four depth-1 tiles (A B C D)
    gqt = np.sort(np.array(
        [0] + [qtk.from_string_scalar(s) for s in "ABCD"], dtype=np.int64
    ))
    enriched = with_cells_stream(stream, gqt)
    q = (
        tile_counts_stream(enriched)
        .writeStream.format("memory").queryName("tilecounts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    got = {r.group_qt: r.row_count for r in spark.sql("SELECT * FROM tilecounts").collect()}

    batch = spark.read.parquet(src + "/b0")
    bdf = with_cells_stream(batch, gqt).groupBy("group_qt").count()
    want = {r.group_qt: r["count"] for r in bdf.collect()}
    assert got == want
    assert sum(got.values()) == n


def test_stream_tiebreak_chunk_invariant(spark, tmp_path):
    """Equal-seq rows split ACROSS micro-batches must elect the same
    winner as when they share one (r4 review: a strict seq comparison
    handed ties to whichever chunk arrived first). Winner at equal seq =
    max (changetype, payload), matching the batch window's desc order."""
    src, chk = str(tmp_path / "s1"), str(tmp_path / "c1")
    src2, chk2 = str(tmp_path / "s2"), str(tmp_path / "c2")
    # same-chunk: both seq-5 rows in one file
    _write_batch(spark, src, [(1, 5, 2.0, 1), (1, 5, 1.0, 0)], 0)
    same = _run_stream(spark, src, chk, "tb_same").toPandas()
    # split: the LOWER-ranked row arrives in a LATER micro-batch
    _write_batch(spark, src2, [(1, 5, 2.0, 1)], 0)
    _write_batch(spark, src2, [(1, 5, 1.0, 0)], 1)
    split = _run_stream(spark, src2, chk2, "tb_split").toPandas()
    w_same = same.sort_values("seq").groupby("key").last()
    w_split = split.sort_values("seq").groupby("key").last()
    assert bool(w_same.loc[1, "is_deleted"]) == bool(w_split.loc[1, "is_deleted"]) == True  # noqa: E712
    assert w_same.loc[1, "payload"] == w_split.loc[1, "payload"] == 2.0


def test_stream_null_payload_stays_null_and_loses_ties(spark, tmp_path):
    """NULL payloads must survive as NULL (not NaN — the batch path
    keeps NULL and a sink MERGE must too) and must LOSE an equal-
    (seq, changetype) tie to any numeric payload (the batch window's
    descending order is NULLS LAST)."""
    src, chk = str(tmp_path / "sn"), str(tmp_path / "cn")
    # key 1: lone NULL payload row → emitted payload must be NULL
    # key 2: NULL and 7.0 at equal (seq, ct) → 7.0 wins
    pdf = pd.DataFrame(
        {"key": [1, 2, 2], "seq": [3, 4, 4],
         "payload": [None, None, 7.0], "changetype": [0, 4, 4]}
    )
    spark.createDataFrame(pdf, CH_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "b0"))
    out = _run_stream(spark, src, chk, "nullsink").toPandas()
    last = out.sort_values("seq").groupby("key").last()
    assert pd.isna(last.loc[1, "payload"])
    # Spark distinguishes NULL from NaN: assert the sink column is NULL
    spark_rows = {
        r["key"]: r for r in
        spark.sql("SELECT key, payload, isnan(payload) AS nan FROM nullsink").collect()
        if r is not None
    }
    # payload is NULL (None), not NaN (isnan(NULL) is false in Spark SQL;
    # a NaN payload would make it true)
    assert spark_rows[1]["payload"] is None and spark_rows[1]["nan"] is False
    assert last.loc[2, "payload"] == 7.0


def test_stream_neg_inf_beats_null_across_chunks(spark, tmp_path):
    """A genuine -inf payload must beat NULL at an equal (seq, changetype)
    tie even when the rows arrive in SEPARATE micro-batches (r4 review: a
    -inf sentinel for NULL in the state comparison tied with real -inf,
    so the winner depended on chunk placement; the (is_numeric, value)
    key ranks NULL strictly below -inf, matching the in-chunk sort)."""
    ninf = float("-inf")
    results = []
    for tag, batches in (
        ("same", [[(1, 5, None, 0), (1, 5, ninf, 0)]]),
        ("null_then_inf", [[(1, 5, None, 0)], [(1, 5, ninf, 0)]]),
        ("inf_then_null", [[(1, 5, ninf, 0)], [(1, 5, None, 0)]]),
    ):
        src, chk = str(tmp_path / f"s_{tag}"), str(tmp_path / f"c_{tag}")
        for i, rows in enumerate(batches):
            _write_batch(spark, src, rows, i)
        out = _run_stream(spark, src, chk, f"ninf_{tag}").toPandas()
        last = out.sort_values("seq").groupby("key").last()
        results.append(last.loc[1, "payload"])
    assert all(r == ninf for r in results), results


def test_stream_nan_payload_is_null(spark, tmp_path):
    """A NaN payload is NULL to the operator: a lone NaN is emitted as NULL
    (Spark orders NaN above every double, so a max that skipped the
    NaN->NULL map would emit NaN and make NaN WIN ties), and NaN loses an
    equal-(seq, changetype) tie to a numeric payload, in one file and
    across micro-batches."""
    nan = float("nan")
    for tag, batches, want in (
        ("lone", [[(1, 3, nan, 0)]], None),
        ("same", [[(1, 5, nan, 4), (1, 5, 7.0, 4)]], 7.0),
        ("split", [[(1, 5, 7.0, 4)], [(1, 5, nan, 4)]], 7.0),
    ):
        src, chk = str(tmp_path / f"s_{tag}"), str(tmp_path / f"c_{tag}")
        for i, rows in enumerate(batches):
            # from tuples, not pandas: a pandas NaN would be written as NULL
            spark.createDataFrame(rows, CH_SCHEMA).coalesce(1).write.parquet(f"{src}/b{i}")
        sink = f"nan_{tag}"
        _run_stream(spark, src, chk, sink)
        # every row the update-mode sink received carries the winner
        rows = spark.sql(
            f"SELECT DISTINCT payload, isnan(payload) AS nan FROM {sink}"
        ).collect()
        assert [(r["payload"], r["nan"]) for r in rows] == [(want, False)], tag


def test_stream_changes_plan_has_no_python(spark, tmp_path):
    """Latest-wins runs as Spark's built-in streaming aggregate (state in
    the JVM state store), not as a per-key Python state function."""
    src = str(tmp_path / "src")
    _write_batch(spark, src, [(1, 0, 1.0, 0)], 0)
    stream = spark.readStream.schema(CH_SCHEMA).parquet(src + "/*")
    plan = apply_changes_stream(stream)._jdf.queryExecution().analyzed().toString()
    assert "Aggregate" in plan
    assert "FlatMapGroupsInPandasWithState" not in plan


def _dedup_corpus(n=150):
    """Deterministic near-dup corpus: 12-word texts from a 30-word vocab;
    every doc with i % 5 == 2 copies doc i-2's words with the last word
    replaced (11/12 shared words -> most 3-grams shared), and every doc
    with i % 11 == 7 is an EXACT copy of doc i-7."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i:02d}" for i in range(30)]
    texts = []
    for i in range(n):
        if i % 11 == 7 and i >= 7:
            texts.append(texts[i - 7])
        elif i % 5 == 2 and i >= 2:
            words = texts[i - 2].split(" ")
            words[-1] = rng.choice(vocab)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(12)))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def _run_dedup_stream(spark, src, chk, sink, bucket_cap=None):
    from osmquadtree_spark.streaming.dedup import minhash_pairs_stream

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/*")
    q = (
        minhash_pairs_stream(stream, bucket_cap=bucket_cap)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    return spark.sql(f"SELECT DISTINCT doc_a, doc_b, match_cnt FROM {sink}")


def test_stream_dedup_converges_to_batch(spark, tmp_path):
    """The distinct emitted pair set over micro-batched delivery equals the
    batch minhash_lsh_pairs result on the same corpus (the module's
    equivalence contract), regardless of the corpus split."""
    from osmquadtree_spark.operators.dedup import minhash_lsh_pairs

    pdf = _dedup_corpus()
    src, chk = str(tmp_path / "docs"), str(tmp_path / "chk")
    for i in range(3):
        part = pdf[pdf["doc_id"] % 3 == i]
        spark.createDataFrame(part, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(f"{src}/b{i}")

    got = sorted(
        tuple(r) for r in _run_dedup_stream(spark, src, chk, "dedupsink").collect()
    )
    batch = minhash_lsh_pairs(
        spark.createDataFrame(pdf, "doc_id bigint, text string"),
        bucket_cap=None,
        metrics_path=None,
    )
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want
    assert len(got) >= 20  # the corpus must actually exercise the operator
    # exact copies agree on all 16 minhashes
    exact = {(i - 7, i) for i in range(7, len(pdf), 11) if i >= 7}
    full = {(a, b) for a, b, m in got if m == 16}
    assert exact <= full


def test_stream_dedup_state_survives_restart(spark, tmp_path):
    """A pair whose second document arrives in a LATER run of the same
    checkpointed query still emits: bucket membership is in keyed state,
    not in the micro-batch. (foreachBatch parquet sink — the memory sink
    does not support checkpoint recovery.)"""
    from osmquadtree_spark.operators.dedup import minhash_lsh_pairs
    from osmquadtree_spark.streaming.dedup import minhash_pairs_stream

    pdf = _dedup_corpus(40)
    src = str(tmp_path / "docs")
    chk, out = str(tmp_path / "chk"), str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema("doc_id bigint, text string").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")

        def sink(bdf, bid):
            if bdf.count():
                bdf.write.mode("append").parquet(out)

        q = (
            minhash_pairs_stream(stream, bucket_cap=None)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    # split at 25: the planted exact pair (22, 29) spans the two runs
    early = pdf[pdf["doc_id"] < 25]
    late = pdf[pdf["doc_id"] >= 25]
    spark.createDataFrame(early, "doc_id bigint, text string").coalesce(1).write.parquet(
        f"{src}/b0"
    )
    run()
    first = {tuple(r) for r in spark.read.parquet(out).distinct().collect()}
    spark.createDataFrame(late, "doc_id bigint, text string").coalesce(1).write.parquet(
        f"{src}/b1"
    )
    run()
    both = {tuple(r) for r in spark.read.parquet(out).distinct().collect()}

    want = {
        tuple(r)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(pdf, "doc_id bigint, text string"),
            bucket_cap=None,
            metrics_path=None,
        ).collect()
    }
    assert both == want
    # cross-run pairs (first doc in run 1, second in run 2) exist and only
    # surfaced in run 2 — i.e. they needed the carried state
    cross = {(a, b) for a, b, m in want if a < 25 <= b}
    assert cross and cross <= {(a, b) for a, b, m in both - first}


def test_stream_dedup_bucket_saturation(spark, tmp_path):
    """bucket_cap=1 saturates every bucket at its first member: identical
    docs emit NO pairs (their buckets all hold the first doc and skip the
    rest) — the stream analog of the batch hot-bucket drop, and the state
    size bound."""
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(6, dtype=np.int64),
            "text": ["x1 x2 x3 x4 x5 x6"] * 6,
        }
    )
    src, chk = str(tmp_path / "docs"), str(tmp_path / "chk")
    spark.createDataFrame(pdf, "doc_id bigint, text string").coalesce(1).write.parquet(
        f"{src}/b0"
    )
    got = _run_dedup_stream(spark, src, chk, "satsink", bucket_cap=1).collect()
    assert got == []


def test_windowed_counts_watermark_late_data(spark, tmp_path):
    """Append-mode event-time windows with a 5-minute watermark over
    controlled arrival order (file mtimes pin micro-batch order):
    a late row whose window is still open is counted; a row arriving
    AFTER its window's state was evicted is dropped (Spark's guarantee
    is one-sided — a too-late row landing in the SAME batch that evicts
    the window may still merge, so the drop case must arrive a batch
    later); every closed window emits exactly once (no duplicate from
    the dropped row re-opening state); the still-open final window
    never emits."""
    import os

    from osmquadtree_spark.streaming.ingest import windowed_counts_stream

    # the VALUES timestamp literals parse in the SESSION timezone while the
    # expected keys below are UTC minute-of-day — pin UTC so the test is not
    # host-timezone-dependent
    tz_prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        _run_windowed_counts_case(spark, tmp_path)
    finally:  # a mid-test failure must not leak UTC into the session fixture
        spark.conf.set("spark.sql.session.timeZone", tz_prev)


def _run_windowed_counts_case(spark, tmp_path):
    import os

    from osmquadtree_spark.streaming.ingest import windowed_counts_stream

    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    batches = [
        # b0: two rows in W1 [00:00,00:10) + one at 00:21 -> watermark 00:16
        ["00:02", "00:05", "00:21"],
        # b1: 00:17 late-but-open (W2 end 00:20 > wm 00:16) -> counted;
        #     W1 (end 00:10 <= wm) evicted + emitted; 00:40 -> wm 00:35
        ["00:17", "00:40"],
        # b2: 00:05 replay AFTER W1's eviction -> dropped, no re-emission;
        #     flush row at 01:30 -> watermark 01:25 closes W3 and W4
        ["00:05", "01:30"],
    ]
    for i, times in enumerate(batches):
        rows = ", ".join(f"(timestamp'2024-01-01 {t}:00', 'k')" for t in times)
        spark.sql(f"SELECT * FROM (VALUES {rows}) AS v(ts, k)").coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        d = f"{src}/b{i}"
        for f_ in os.listdir(d):
            os.utime(os.path.join(d, f_), (1_700_000_000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        windowed_counts_stream(
            stream, ts_col="ts", keys=("k",), window="10 minutes", watermark="5 minutes"
        )
        .writeStream.format("memory")
        .queryName("winlate")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r.win_start % 86400 // 60, r.win_end % 86400 // 60): r.row_count
        for r in spark.sql("SELECT * FROM winlate").collect()
    }
    want = {
        (0, 10): 2,   # b1's replayed 00:05 was dropped (window closed)
        (10, 20): 1,  # 00:17 arrived late but its window was still open
        (20, 30): 1,
        (40, 50): 1,
    }  # [01:30, 01:40) never closes -> never emits
    assert got == want


def test_stream_dedup_duplicate_delivery_in_one_batch(spark, tmp_path):
    """At-least-once safety INSIDE a single micro-batch: the same
    (doc_id, text) delivered twice in one trigger is ignored — no crash in
    the per-bucket ordering (numpy-sig tuple ties), no self-pairs — and
    the emitted set still equals the batch operator on the deduped corpus.
    Also exercises within-trigger pair discovery (the whole corpus arrives
    in ONE batch, so every pair is found among that trigger's new members)."""
    from osmquadtree_spark.operators.dedup import minhash_lsh_pairs

    pdf = _dedup_corpus(60)
    dup = pd.concat([pdf, pdf.iloc[:15]], ignore_index=True)
    src, chk = str(tmp_path / "docs"), str(tmp_path / "chk")
    spark.createDataFrame(dup, "doc_id bigint, text string").coalesce(1).write.parquet(
        f"{src}/b0"
    )
    got = sorted(
        tuple(r) for r in _run_dedup_stream(spark, src, chk, "dupsink").collect()
    )
    want = sorted(
        tuple(r)
        for r in minhash_lsh_pairs(
            spark.createDataFrame(pdf, "doc_id bigint, text string"),
            bucket_cap=None,
            metrics_path=None,
        ).collect()
    )
    assert got == want
    assert all(a < b for a, b, _ in got)


def test_session_windows_merge_and_single_emission(spark, tmp_path):
    """Session-window semantics that the sweep's in-event-order replay can
    NOT see (it needs controlled arrival order): two OPEN sessions of the
    same key ([00:00,00:15) and [00:20,00:35), gap 15m) are FUSED by a
    late-but-within-watermark bridge event at 00:10 arriving a batch later
    (state-store session merge); the merged session emits EXACTLY once
    when the watermark passes its end, with the union bounds and the
    summed count; an event at exactly last + gap (00:50 after 00:35-end
    session... exercised via the flush row) opens a new session that never
    closes and never emits."""
    tz_prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        _run_session_merge_case(spark, tmp_path)
    finally:  # a mid-test failure must not leak UTC into the session fixture
        spark.conf.set("spark.sql.session.timeZone", tz_prev)


def _run_session_merge_case(spark, tmp_path):
    import os

    from osmquadtree_spark.streaming.ingest import session_counts_stream

    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    batches = [
        # b0: 00:00 and 00:20 -> two open sessions (gap 20m >= 15m);
        #     watermark (30m) stays before both ends -> nothing emits
        ["00:00", "00:20"],
        # b1: bridge 00:10 -> gaps 10m/10m < 15m -> ONE merged session
        #     [00:00, 00:35)
        ["00:10"],
        # b2: flush 02:00 -> wm 01:30 > 00:35 -> merged session emits once;
        #     the flush's own session [02:00, 02:15) stays open forever
        ["02:00"],
    ]
    for i, times in enumerate(batches):
        rows = ", ".join(f"(timestamp'2024-01-01 {t}:00', 'k')" for t in times)
        spark.sql(f"SELECT * FROM (VALUES {rows}) AS v(ts, k)").coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
        d = f"{src}/b{i}"
        for f_ in os.listdir(d):
            os.utime(os.path.join(d, f_), (1_700_000_000 + i * 10,) * 2)

    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        session_counts_stream(
            stream, ts_col="ts", keys=("k",), gap="15 minutes", watermark="30 minutes"
        )
        .writeStream.format("memory")
        .queryName("sessmerge")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = [
        (r.sess_start % 86_400_000_000 // 60_000_000,
         r.sess_end % 86_400_000_000 // 60_000_000,
         r.k, r.row_count)
        for r in spark.sql("SELECT * FROM sessmerge").collect()
    ]
    # exactly ONE row: the fused session, union bounds, all 3 events
    assert got == [(0, 35, "k", 3)]


def test_stream_stream_join_semantics(spark, tmp_path):
    """Time-bounded stream-stream inner join (streaming/joins.py) under
    controlled arrival order: the horizon's upper bound is EXCLUSIVE
    (click at exactly view+horizon never matches), equal timestamps match
    (>= lower bound), an out-of-order view arriving a batch AFTER its
    click still matches (right-side state held), and a too-late view is
    NOT retained in state once the watermark has passed its horizon — a
    click for it arriving in a LATER batch finds nothing. (Two late rows
    arriving in the SAME batch still match each other — Spark's lateness
    guarantee for joins, like windows, is one-sided: eviction happens at
    batch boundaries, verified here by splitting the late pair.)

    Replay plumbing reuses queries._replay_stream(pin_mtimes=True) — the
    SAME scaffold the production value gate runs on — so this test pins
    the semantics of the gate's actual delivery mechanism."""
    from osmquadtree_spark.queries import _replay_stream
    from osmquadtree_spark.streaming.joins import time_bounded_join_stream

    tz_prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        batches = [
            # (event_id, hh:mm, user, type)
            [(100, "00:00", 2, "view"), (101, "00:30", 2, "click"),  # == bound: excluded
             (102, "00:05", 3, "view"), (103, "00:05", 3, "click"),  # equal ts: included
             (104, "00:20", 1, "click")],                            # right before left
            [(105, "00:12", 1, "view"),                              # out-of-order match
             (106, "03:00", 9, "view")],                             # heartbeat -> wm 02:00
            [(107, "00:30", 5, "view")],                             # too late for state
            [(108, "00:40", 5, "click")],                            # next batch: no match
        ]
        dfs = [
            spark.sql(
                "SELECT * FROM (VALUES "
                + ", ".join(
                    f"(CAST({e} AS BIGINT), timestamp'2024-01-01 {t}:00', "
                    f"CAST({u} AS BIGINT), '{k}')"
                    for e, t, u, k in rows
                )
                + ") AS v(event_id, ts, user_id, event_type)"
            )
            for rows in batches
        ]
        res = _replay_stream(
            spark,
            dfs,
            "event_id bigint, ts timestamp, user_id bigint, event_type string",
            lambda stream: time_bounded_join_stream(
                stream, "view", "click", key="user_id",
                horizon="30 minutes", watermark="1 hour",
            ),
            "append",
            "left_id bigint, right_id bigint, user_id bigint, "
            "left_ts bigint, right_ts bigint",
            "oqt_sjoin_sem_",
            pin_mtimes=True,
        )
        got = {(r.left_id, r.right_id) for r in res.collect()}
        assert got == {(102, 103), (105, 104)}
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_prev)


def test_exact_dedup_ttl_eviction_and_readmission(spark, tmp_path):
    """exact_dedup_stream TTL semantics over a controlled watermark
    timeline (TTL 10 s): a duplicate arriving while its key's state is
    live is DROPPED; once the watermark passes stored-ts + TTL the state
    is evicted and the next arrival of the key is ADMITTED AGAIN — the
    deliberate state/recall trade documented in streaming/dedup.py."""
    import os

    from osmquadtree_spark.streaming.dedup import exact_dedup_stream

    tz_prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        src = str(tmp_path / "src")
        batches = [
            # b0: first A and B -> both emitted; watermark = 00:00:05 - 10s
            [("A", "00:00:00"), ("B", "00:00:05")],
            # b1: duplicate A at t=100 while A's state is live (wm < 10s)
            #     -> dropped, AND it extends A's state expiry to 110s (the
            #     within-watermark guarantee is dedup vs the LAST
            #     occurrence); its ts advances the watermark to 90s
            [("A", "00:01:40")],
            # b2: fresh key C at t=300 -> emitted; watermark -> 290s,
            #     evicting A (expiry 110) and B (15)
            [("C", "00:05:00")],
            # b3: A again at t=400, AFTER eviction -> admitted again
            [("A", "00:06:40")],
        ]
        for i, rows in enumerate(batches):
            vals = ", ".join(f"('{k}', timestamp'2024-01-01 {t}')" for k, t in rows)
            spark.sql(f"SELECT * FROM (VALUES {vals}) AS v(user_id, ts)").coalesce(
                1
            ).write.parquet(f"{src}/b{i}")
            d = f"{src}/b{i}"
            for f_ in os.listdir(d):
                os.utime(os.path.join(d, f_), (1_700_000_000 + i * 10,) * 2)

        stream = (
            spark.readStream.schema("user_id string, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            exact_dedup_stream(stream, ttl_seconds=10, key_col="user_id")
            .writeStream.format("memory")
            .queryName("exact_dedup_ttl")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        got = sorted(
            (r["user_id"], r["ts"].strftime("%H:%M:%S"))
            for r in spark.table("exact_dedup_ttl").collect()
        )
        assert got == [
            ("A", "00:00:00"),
            ("A", "00:06:40"),
            ("B", "00:00:05"),
            ("C", "00:05:00"),
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_prev)
