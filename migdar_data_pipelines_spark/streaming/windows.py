"""Structured Streaming over event feeds — the engine's upgrade path for the
reference's cron-batch near-real-time approximation (SURVEY.md §2.13: the
reference has NO streaming surface; daily crons + CDC hashing + checkpoint
resume stand in for it — pipeline-spec.yaml:2-3,8-9).

``Trigger.AvailableNow`` reproduces the cron-batch semantics exactly (drain
everything currently available, then stop), while the same window/watermark
plans run unmodified as continuous streams in production.

Every aggregation here works on BOTH a batch DataFrame and a streaming one —
the functions take whichever df you hand them; batch parity is what the
DuckDB oracle checks, and tests assert streaming(AvailableNow) == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import session_memo


def _ensure_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to plain ``TIMESTAMP``.

    Parquet ``timestamp[us]`` without a timezone flag loads as
    ``TIMESTAMP_NTZ``, which ``withWatermark`` rejects
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Under the project's UTC session
    (``session.py`` sets ``spark.sql.session.timeZone=UTC``) the cast is an
    exact reinterpretation — the same instant, now watermark-eligible. Under
    a non-UTC session NTZ values would be reinterpreted via the local wall
    clock, so these operators require the project's UTC session builder.
    """
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet-directory stream of events (ts as ns-long converted to
    timestamp, same as the batch loader)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        # Schema-only memo: inferring it runs a footer-read job per call,
        # and the ~15 streaming gate queries each pay it on every bench/gate
        # invocation over the same immutable events file. Keyed by path per
        # application; files appended to a streamed DIRECTORY never change
        # the schema, so this stays correct for live sources too.
        schema = session_memo(
            ("events_schema", path), lambda: spark.read.parquet(path).schema
        )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        # FileStreamSource requires a directory source; stream the parent
        # with a glob pinned to this file.
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        df = reader.parquet(os.path.dirname(path))
    else:
        df = reader.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def tumbling_agg(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str | None = None,
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window count/sum per key. With a watermark (streaming), late
    rows beyond the bound are dropped and state is GC'd — the knob that makes
    this runnable forever at scale."""
    df = events
    if watermark is not None and df.isStreaming:
        df = _ensure_event_time(df).withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window_len).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *keys,
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = None,
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Sliding-window aggregation (each row lands in len/slide windows)."""
    df = events
    if watermark is not None and df.isStreaming:
        df = _ensure_event_time(df).withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window_len, slide).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            *keys,
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
) -> DataFrame:
    """Batch sessionization: gap > N minutes starts a new session (classic
    lag + cumulative-sum). Partitioned by user — scales; within-user sort
    only. Returns one row per session. Requires the project's UTC session
    builder (see ``_ensure_event_time``) — gap arithmetic runs on epoch
    micros, so a non-UTC NTZ reinterpretation spanning a DST transition
    would shift gaps by the offset change."""
    events = _ensure_event_time(events)
    order = [F.col("ts"), F.col("event_id")]
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_us = gap_minutes * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    ts_us = F.unix_micros(F.col("ts"))
    prev_us = F.unix_micros(prev_ts)
    new_session = F.when(
        prev_ts.isNull() | ((ts_us - prev_us) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_ids = events.withColumn("__new", new_session).withColumn(
        "session_id", F.sum("__new").over(wsum).cast("long")
    )
    return (
        with_ids.groupBy(user_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .withColumn("n_events", F.col("n_events").cast("long"))
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming-native sessionization via session_window — dynamic-gap state
    merged by the streaming engine (the scalable continuous form of
    ``sessionize``)."""
    df = events
    if df.isStreaming:
        df = _ensure_event_time(df).withWatermark("ts", watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), user_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            user_col,
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup for at-least-once sources
    (``dropDuplicatesWithinWatermark``): the first record per key is emitted
    immediately; redeliveries inside the watermark gap are dropped, and the
    key's dedup state is GARBAGE-COLLECTED once the watermark passes — the
    property that makes this run forever at 100 TB/day where an unbounded
    ``dropDuplicates`` state would grow without limit. Batch frames fall
    back to plain dropDuplicates (same output on a finite input)."""
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return (
        _ensure_event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def run_available_now(
    streaming_df: DataFrame,
    checkpoint_dir: str,
    query_name: str = "events_agg",
    output_mode: str = "complete",
    timeout_s: int = 120,
):
    """Drain-everything-then-stop execution (Trigger.AvailableNow) into an
    in-memory table — the cron-batch parity mode. Returns the query; the
    result rows are ``spark.table(query_name)``."""
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return q
