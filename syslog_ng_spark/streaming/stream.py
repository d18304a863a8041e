"""Structured Streaming variants of the pipeline stages.

The reference is a daemon: sources push, the pipe graph runs
continuously, timeouts fire off a timer wheel. The streaming rebuild maps
that onto micro-batches: ``readStream`` → the SAME column-expression
stages (parsers/filters/rewrites are pure projections, so batch and
stream share code verbatim) → watermarked windowed aggregation →
``foreachBatch`` fan-out writes.

Flow-control (cfg-tree.h:39) maps to ``maxFilesPerTrigger``/
``maxOffsetsPerTrigger``; the timer wheel maps to watermarks + session
windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.pipeline import Pipeline


def read_stream_source(
    spark,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File stream source with flow control: ``maxFilesPerTrigger`` is the
    batch analogue of the reference's source window / flags(flow-control)
    backpressure (lib/logsource.h:73-86, cfg-tree.h:39)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_route(
    stream_df: DataFrame,
    pipeline: Pipeline,
    base_path: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
):
    """Route a streaming frame through a Pipeline with one foreachBatch.

    Each micro-batch reuses the batch router (compute branch booleans
    once, N filtered writes) — exactly-once per sink comes from the
    streaming checkpoint + idempotent batch overwrites.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        routed = pipeline.route(batch_df, persist=True)
        try:
            routed.write_sinks(base_path, fmt, mode="append")
        finally:
            routed.unpersist()

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def windowed_counts(
    stream_df: DataFrame,
    key: list[str],
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key tumbling/sliding window counts with late-data handling —
    the streaming grouping-by analogue (metrics-probe shape)."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *key)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def session_counts(
    stream_df: DataFrame,
    key: list[str],
    gap: str = "60 seconds",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time session windows — the timer-wheel timeout analogue
    (grouping-parser.c:159-180): a context closes after ``gap`` silence."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *key)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_suppress(
    stream_df: DataFrame,
    identity_cols: list[str],
    key: list[str],
    seconds: float,
    ts_col: str = "ts",
    timeout_mode: str = "processing",
    watermark: str = "10 minutes",
):
    """Stateful streaming suppress() — the logwriter dedup with state that
    survives micro-batches (applyInPandasWithState, the reference's
    last-message + timer kept per key like lib/logwriter.c:578-654).

    Emits the first row of each duplicate run with ``suppressed`` counts
    for runs that closed inside the batch; state carries (last identity,
    last ts, pending count) across batches.

    ``timeout_mode``: 'processing' re-arms a wall-clock timer per batch
    (live-tail shape); 'event' arms the timer at last_ts + seconds of
    EVENT time (requires a watermark) — the reference's timer wheel runs
    on message time, so the event mode reproduces its behavior under
    replay/backfill, where wall clock is meaningless.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    out_schema = (
        ", ".join(f"{k} string" for k in key)
        + ", ident string, ts timestamp, suppressed long"
    )
    state_schema = "ident string, last_ts double, pending long"

    def fn(key_vals, pdfs, state):
        ident_prev, last_ts, pending = (
            state.get if state.exists else (None, None, 0)
        )
        if state.hasTimedOut:
            # suppress timer fired with no new rows: flush the pending run
            # (the reference logwriter emits its "last message repeated N
            # times" summary on this timer) and drop the state — re-arming
            # here would keep every idle key's last run buffered forever.
            state.remove()
            if ident_prev is not None:
                yield pd.DataFrame(
                    [(*key_vals, ident_prev, pd.Timestamp(last_ts, unit="s"), pending)],
                    columns=[*key, "ident", "ts", "suppressed"],
                )
            return
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            idents = pdf[identity_cols].astype(str).agg("\x1f".join, axis=1)
            for ident, ts in zip(idents, pdf[ts_col]):
                t = ts.timestamp()
                if (
                    ident_prev is not None
                    and ident == ident_prev
                    and last_ts is not None
                    and t - last_ts <= seconds
                ):
                    pending += 1
                    last_ts = t
                    continue
                if ident_prev is not None:
                    rows.append((*key_vals, ident_prev, pd.Timestamp(last_ts, unit="s"), pending))
                ident_prev, last_ts, pending = ident, t, 0
        state.update((ident_prev, last_ts, pending))
        if timeout_mode == "event":
            state.setTimeoutTimestamp(int((last_ts + seconds) * 1000))
        else:
            state.setTimeoutDuration(int(seconds * 1000))
        if rows:
            yield pd.DataFrame(rows, columns=[*key, "ident", "ts", "suppressed"])

    if timeout_mode == "event":
        return (
            stream_df.withWatermark(ts_col, watermark)
            .groupBy(*key)
            .applyInPandasWithState(
                fn, out_schema, state_schema, "append",
                GroupStateTimeout.EventTimeTimeout,
            )
        )
    return stream_df.groupBy(*key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


def stream_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming corpus-wide exact dedup: emit only the FIRST row of each
    normalized-text hash ever seen — the streaming face of
    ``dedup.exact_dedup`` (a training-data ingest pipeline deduping as it
    lands, before batch near-dup passes).

    Spark shape: dropDuplicates on the 64-bit xxhash key rides the state
    store (RocksDB/HDFS-backed on a cluster), so state is 8 bytes + key
    overhead per distinct document and partitioned by hash — no skew,
    no driver state. With ``watermark_col`` set, the operator uses
    ``dropDuplicatesWithinWatermark``: a duplicate arriving within the
    watermark horizon of the first sighting is dropped, each hash's state
    is evicted once the watermark passes its first-seen event time
    (bounded state, the production configuration), and a LATE first
    sighting still passes through rather than being silently discarded —
    dedup-within-horizon semantics. Without ``watermark_col`` the dedup
    is corpus-wide forever and state grows with the distinct corpus,
    exactly like the batch operator's groupBy.
    """
    h = F.xxhash64(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    ).alias("_h")
    out = stream_df.withColumn("_h", h)
    if watermark_col is not None:
        # dropDuplicates(['_h']) here would neither evict state (the
        # event-time column wasn't part of the key) nor admit late rows —
        # the within-watermark variant implements the documented contract
        return (
            out.withWatermark(watermark_col, watermark)
            .dropDuplicatesWithinWatermark(["_h"])
            .drop("_h")
        )
    return out.dropDuplicates(["_h"]).drop("_h")
