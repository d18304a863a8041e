"""Structured Streaming variants: windowed counts, session windows,
foreachBatch routing — driven to completion with availableNow triggers."""

import pytest

from syslog_ng_spark.streaming.stream import session_counts, stream_route, windowed_counts


@pytest.fixture(scope="module")
def stream_source(spark, tmp_path_factory, transcripts_df):
    src = str(tmp_path_factory.mktemp("stream") / "in")
    transcripts_df.write.mode("overwrite").parquet(src)
    schema = transcripts_df.schema
    return spark.readStream.schema(schema).parquet(src)


def test_windowed_counts(spark, stream_source, transcripts_df):
    agg = windowed_counts(stream_source, key=["role"], window="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) FROM wc").collect()[0][0]
    assert got == transcripts_df.count()


def test_session_counts(spark, stream_source):
    agg = session_counts(stream_source, key=["conv_id"], gap="120 seconds")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT count(*) FROM sc").collect()[0][0]
    assert rows > 0


def test_stream_route_foreachbatch(spark, stream_source, transcripts_df, tmp_path):
    from pyspark.sql import functions as F

    from syslog_ng_spark.plans import LogPath, Pipeline

    pipe = Pipeline(
        [
            LogPath("assistant", F.col("role") == "assistant", frozenset(["final"])),
            LogPath("rest", None, frozenset(["fallback"])),
        ]
    )
    sinks = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")
    q = stream_route(stream_source, pipe, sinks, ckpt).start()
    q.awaitTermination(180)
    a = spark.read.parquet(f"{sinks}/assistant").count()
    r = spark.read.parquet(f"{sinks}/rest").count()
    assert a == transcripts_df.filter("role = 'assistant'").count()
    assert a + r == transcripts_df.count()


def test_stream_suppress_stateful(spark, tmp_path):
    """Stateful suppress across micro-batches (applyInPandasWithState)."""
    import datetime

    from syslog_ng_spark.streaming.stream import stream_suppress

    base = datetime.datetime(2026, 4, 1)
    rows = [
        ("h1", "a", base + datetime.timedelta(seconds=i)) for i in range(3)
    ] + [
        ("h1", "b", base + datetime.timedelta(seconds=3)),
        ("h1", "a", base + datetime.timedelta(seconds=4)),
        ("h2", "a", base + datetime.timedelta(seconds=5)),
    ]
    df = spark.createDataFrame(rows, "host string, msg string, ts timestamp")
    src = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream_suppress(stream, identity_cols=["msg"], key=["host"], seconds=30)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.host, r.ident, r.suppressed)
        for r in spark.sql("SELECT * FROM sup").collect()
    }
    # closed runs inside the batch: h1 'a'x3 (2 suppressed), h1 'b'x1;
    # the last run per key stays in state (run not closed) — logwriter
    # would flush it on timeout.
    assert ("h1", "a", 2) in got
    assert ("h1", "b", 0) in got


def test_flow_control_max_files(spark, transcripts_df, tmp_path):
    """maxFilesPerTrigger bounds micro-batch size (flow-control analogue)."""
    from syslog_ng_spark.streaming.stream import read_stream_source, windowed_counts

    src = str(tmp_path / "in")
    transcripts_df.repartition(4).write.mode("overwrite").parquet(src)
    stream = read_stream_source(spark, src, transcripts_df.schema, max_files_per_trigger=1)
    agg = windowed_counts(stream, key=["role"], window="1 hour")
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName("fc").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # multiple micro-batches were taken (one per file), totals still exact
    assert len(q.recentProgress) >= 4
    got = spark.sql("SELECT sum(n) FROM fc").collect()[0][0]
    assert got == transcripts_df.count()


def test_stream_suppress_timeout_flushes_pending_run(spark, tmp_path):
    """The suppress timer firing with no new rows must emit the pending
    run and drop state (logwriter emits its 'last message repeated N
    times' summary on this timer) — round 1 re-armed the timeout and the
    last run per key was never flushed."""
    import datetime
    import time as _t

    from syslog_ng_spark.streaming.stream import stream_suppress

    base = datetime.datetime(2026, 4, 1)
    rows = [("h1", "a", base + datetime.timedelta(seconds=i)) for i in range(3)]
    df = spark.createDataFrame(rows, "host string, msg string, ts timestamp")
    src = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream_suppress(stream, identity_cols=["msg"], key=["host"], seconds=1)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sup_to")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = _t.time() + 60
        got = set()
        while _t.time() < deadline:
            got = {
                (r.host, r.ident, r.suppressed)
                for r in spark.sql("SELECT * FROM sup_to").collect()
            }
            if got:
                break
            _t.sleep(1)
    finally:
        q.stop()
    assert ("h1", "a", 2) in got  # flushed by the timer, not by new data


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data semantics: an event older than the watermark arriving in
    a later micro-batch is EXCLUDED from its (already finalized) window
    — the reference's timer-wheel lateness bound, Spark-native."""
    import datetime
    import time as _t

    from syslog_ng_spark.streaming.stream import read_stream_source, windowed_counts

    base = datetime.datetime(2026, 5, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(rows, "k string, ts timestamp")

    src = str(tmp_path / "in")
    mk([("a", base), ("a", base + datetime.timedelta(minutes=30))]).coalesce(1)\
        .write.mode("overwrite").parquet(src)
    _t.sleep(1.1)  # file source orders batches by mod time
    mk([("a", base + datetime.timedelta(minutes=40))]).coalesce(1)\
        .write.mode("append").parquet(src)   # advances watermark to 10:30,
    _t.sleep(1.1)                            # flushing the 10:00 window
    mk([("a", base + datetime.timedelta(minutes=1)),   # LATE: wm is 10:30
        ("a", base + datetime.timedelta(minutes=50))]).coalesce(1)\
        .write.mode("append").parquet(src)

    schema = "k string, ts timestamp"
    stream = read_stream_source(spark, src, schema, max_files_per_trigger=1)
    agg = windowed_counts(stream, key=["k"], window="10 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("late").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = [
        (r["win"]["start"].strftime("%H:%M"), r["n"])
        for r in spark.sql("SELECT * FROM late ORDER BY win").collect()
    ]
    # the 10:00 window was finalized (watermark 10:30 > window end) with
    # ONE row BEFORE the late 10:01 arrival; the late row is dropped —
    # no duplicate/updated emission of an already-closed window
    assert [n for w, n in got if w == "10:00"] == [1], got


def test_stream_suppress_event_time_timeout(spark, tmp_path):
    """Event-time timers: a pending run flushes when the WATERMARK passes
    its deadline (replay/backfill-correct — the reference's timer wheel
    runs on message time)."""
    import datetime
    import time as _t

    from syslog_ng_spark.streaming.stream import stream_suppress

    base = datetime.datetime(2026, 6, 1, 12, 0, 0)
    src = str(tmp_path / "in")

    def mk(rows):
        return spark.createDataFrame(rows, "host string, msg string, ts timestamp")

    mk([("h1", "a", base + datetime.timedelta(seconds=i)) for i in range(3)])\
        .coalesce(1).write.mode("overwrite").parquet(src)
    _t.sleep(1.1)
    # unrelated key far in event time: watermark jumps past h1's deadline
    mk([("h2", "z", base + datetime.timedelta(minutes=30))])\
        .coalesce(1).write.mode("append").parquet(src)
    _t.sleep(1.1)
    mk([("h2", "z2", base + datetime.timedelta(minutes=60))])\
        .coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("host string, msg string, ts timestamp")\
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stream_suppress(
        stream, identity_cols=["msg"], key=["host"], seconds=5,
        timeout_mode="event", watermark="1 minute",
    )
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("sup_evt").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.host, r.ident, r.suppressed)
        for r in spark.sql("SELECT * FROM sup_evt").collect()
    }
    assert ("h1", "a", 2) in got  # flushed by the event-time timer


def test_stream_suppress_batch_parity(spark, tmp_path):
    """Batch↔stream parity for the stateful suppress operator: the SAME
    corpus through batch suppress() and through stream_suppress across
    5 checkpointed micro-batches (maxFilesPerTrigger=1) must segment
    identical runs — multiset of (host, identity, suppressed) equal.
    Event-time timers + far-future sentinel batches flush every real
    pending run, so the comparison covers the full kept-row set."""
    import datetime
    import time as _t

    from syslog_ng_spark.operators.suppress import suppress
    from syslog_ng_spark.streaming.stream import stream_suppress

    base = datetime.datetime(2026, 6, 2, 9, 0, 0)

    def at(s):
        return base + datetime.timedelta(seconds=s)

    real = [
        # h1: run a×3, then a gap>5s starts a NEW 'a' run, then b, then a
        ("h1", "a", at(0)), ("h1", "a", at(1)), ("h1", "a", at(2)),
        ("h1", "a", at(20)), ("h1", "a", at(21)),
        ("h1", "b", at(22)), ("h1", "a", at(23)),
        # h2: run x×3 (2s spacing, within 5s), y, then y again after a gap
        ("h2", "x", at(0)), ("h2", "x", at(2)), ("h2", "x", at(4)),
        ("h2", "y", at(5)), ("h2", "y", at(30)),
    ]
    expected = {
        ("h1", "a", 2), ("h1", "a", 1), ("h1", "b", 0), ("h1", "a", 0),
        ("h2", "x", 2), ("h2", "y", 0),
    }  # h2 y appears twice with 0 — multiset below handles it

    def mk(rows):
        return spark.createDataFrame(
            rows, "host string, msg string, ts timestamp"
        )

    src = str(tmp_path / "in")
    # 5 files = 5 micro-batches; event-time ordered so the watermark
    # only ever advances
    files = [
        real[:3] + real[7:10],            # t <= 4
        real[3:7] + real[10:11],          # t 5..23
        real[11:12],                      # t 30
        [("h9", "zzz", at(30 * 60))],     # sentinel: watermark → +29 min
        [("h9", "zz2", at(60 * 60))],     # fire all real timers
    ]
    mk(files[0]).coalesce(1).write.mode("overwrite").parquet(src)
    for chunk in files[1:]:
        _t.sleep(1.1)  # distinct mod-times keep file (=batch) order
        mk(chunk).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("host string, msg string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_suppress(
        stream, identity_cols=["msg"], key=["host"], seconds=5,
        timeout_mode="event", watermark="1 minute",
    )
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("sup_parity").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2, "must span multiple micro-batches"

    stream_runs = sorted(
        (r.host, r.ident, r.suppressed)
        for r in spark.sql("SELECT * FROM sup_parity").collect()
        if r.host != "h9"
    )
    batch_runs = sorted(
        (r.host, r.msg, r.suppressed)
        for r in suppress(
            mk(real), 5, identity=["msg"], order_by="ts",
            partition_by=["host"],
        ).collect()
    )
    assert stream_runs == batch_runs
    assert set(stream_runs) == expected


def test_stream_exact_dedup_across_batches(spark, tmp_path):
    """Streaming exact dedup holds state ACROSS micro-batches: a text
    seen in batch 1 is suppressed when it reappears in batch 2; the
    first occurrence of each normalized text survives. (File sink +
    checkpoint — the memory sink cannot recover from a checkpoint.)"""
    import os

    from syslog_ng_spark.streaming.stream import stream_exact_dedup

    src = str(tmp_path / "in")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(1, "hello world"), (2, "other text"), (3, "HELLO   world ")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            stream_exact_dedup(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got1 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {1, 2}  # 3 normalizes to 1's text

    # batch 2: one repeat (suppressed via state), one new
    spark.createDataFrame(
        [(4, "hello world"), (5, "brand new")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got2 = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got2 == {1, 2, 5}


def test_stream_exact_dedup_watermark_bounds_state(spark, tmp_path):
    """Watermark mode = dedup-within-horizon with BOUNDED state
    (dropDuplicatesWithinWatermark): a duplicate inside the horizon is
    dropped, and once the watermark passes a hash's first sighting its
    state is evicted — the same text arriving much later is emitted
    again (a new horizon), instead of being suppressed forever by
    unbounded state."""
    import datetime
    import os

    from syslog_ng_spark.streaming.stream import stream_exact_dedup

    src = str(tmp_path / "in")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def ts(h, m=0):
        return datetime.datetime(2026, 1, 1, h, m)

    def run():
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        q = (
            stream_exact_dedup(stream, watermark_col="ts", watermark="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: duplicate inside the horizon → dropped
    spark.createDataFrame(
        [(1, "aaa", ts(10)), (2, "aaa", ts(10, 10)), (3, "bbb", ts(10, 20))],
        "doc_id long, text string, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert {r.doc_id for r in spark.read.parquet(out_dir).collect()} == {1, 3}

    # batch 2: advance the watermark far past aaa's horizon
    spark.createDataFrame(
        [(4, "ccc", ts(14))], "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    run()

    # batch 3: aaa's state was evicted → re-emitted (new horizon)
    spark.createDataFrame(
        [(5, "aaa", ts(14, 30))], "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert 5 in got
    assert got == {1, 3, 4, 5}


def test_stream_route_parity_gate(spark):
    """Batch-vs-stream routing parity (VERDICT r4 #3): the gate query
    asserts per-sink foreachBatch counts == batch Pipeline counts on the
    same corpus and raises on divergence — run it from CI too."""
    import importlib
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    try:
        entry = importlib.import_module("__spark_entry__")
    finally:
        sys.path.pop(0)
    out = entry.q_stream_route_parity(spark, None)
    rows = {r.path: r.sink_rows for r in out.collect()}
    assert set(rows) == {"security", "bash", "other"}
    assert all(v > 0 for v in rows.values())


def test_stream_session_batch_parity(spark, tmp_path):
    """Batch↔stream parity for event-time sessionization: the SAME corpus
    through batch grouping_by(timeout=gap) and through the streaming
    session_window analogue across checkpointed micro-batches must
    produce identical sessions — multiset of (conv_id, n, t0, end).
    Stream session end = last event + gap, so batch t1 + gap must equal
    it exactly. (Gaps in the data are strictly <(or >) the timeout: the
    batch splitter uses gap > timeout, session_window gap >= timeout —
    equal-gap inputs are a documented boundary divergence.)"""
    import datetime
    import time as _t

    from pyspark.sql import functions as F

    from syslog_ng_spark.operators.grouping import grouping_by
    from syslog_ng_spark.streaming.stream import session_counts

    base = datetime.datetime(2026, 6, 2, 9, 0, 0)

    def at(s):
        return base + datetime.timedelta(seconds=s)

    gap_s = 120
    real = [
        # c1: 3 events within 120s, 200s silence, then 2 more
        ("c1", at(0)), ("c1", at(100)), ("c1", at(150)),
        ("c1", at(351)), ("c1", at(400)),
        # c2: single event, then a far singleton
        ("c2", at(50)), ("c2", at(1000)),
        # c3: back-to-back (0 gap) pair
        ("c3", at(10)), ("c3", at(10)),
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "conv_id string, ts timestamp")

    src = str(tmp_path / "in")
    files = [
        real[:4] + real[5:6] + real[7:9],   # t <= 351
        real[4:5] + real[6:7],              # t 400, 1000
        [("zz", at(3 * 3600))],             # sentinel: watermark far ahead
        [("zz", at(6 * 3600))],             # flush everything real
    ]
    mk(files[0]).coalesce(1).write.mode("overwrite").parquet(src)
    for chunk in files[1:]:
        _t.sleep(1.1)
        mk(chunk).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("conv_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = session_counts(
        stream, key=["conv_id"], gap=f"{gap_s} seconds", watermark="1 minute"
    )
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("sess_parity").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2, "must span multiple micro-batches"

    stream_sessions = sorted(
        (r.conv_id, r.n, r.session.start, r.session.end)
        for r in spark.sql("SELECT * FROM sess_parity").collect()
        if r.conv_id != "zz"
    )
    batch = grouping_by(
        mk(real).withColumn("turn_idx", F.lit(0)),
        key=["conv_id"],
        aggregates={
            "n": F.count(F.lit(1)),
            "t0": F.min("ts"),
            "t1": F.max("ts"),
        },
        timeout=gap_s,
        ts_col="ts",
    )
    batch_sessions = sorted(
        (r.conv_id, r.n, r.t0, r.t1 + datetime.timedelta(seconds=gap_s))
        for r in batch.collect()
    )
    assert stream_sessions == batch_sessions
    assert sorted(s[:2] for s in stream_sessions) == [
        ("c1", 2), ("c1", 3), ("c2", 1), ("c2", 1), ("c3", 2)
    ]
