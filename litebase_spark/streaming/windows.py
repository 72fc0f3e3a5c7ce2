"""Structured Streaming operators over the events table (SURVEY M4).

Net-new surface: the reference has no stream processing — its only
"stream" is HTTP transport framing (reference:
pkg/http/query_stream_controller.go:30-38). Here the batch-verified
window semantics from operators/streaming_batch get their streaming
twins: readStream source -> event-time windows + watermark -> sink.

Tests drive these with Trigger.AvailableNow into a memory sink and assert
stream results == the batch-mode oracle queries on the same fixture.
At production scale the same pipelines run continuously with a file/Kafka
source and a parquet/Delta sink + checkpointing; state size is bounded by
the watermark horizon, keyed by (window x type) or user_id.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from litebase_spark.catalog import dsum, parquet_schema
from litebase_spark.operators.streaming_batch import SESSION_GAP_MIN


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events fixture. Schema comes from
    the RAW parquet footer (ts arrives as int64 nanos under
    nanosAsLong; _normalized_events converts downstream).

    The file source requires a DIRECTORY; the fixture is a single file,
    so it is symlinked into a scratch dir (read-only view — the fixture
    itself is never touched). In production the source is the landing
    directory / Kafka topic directly."""
    import os
    import tempfile

    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stage = tempfile.mkdtemp(prefix="litebase_stream_")
    os.symlink(
        f"{sf_dir}/events.parquet", os.path.join(stage, "events.parquet")
    )
    return (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        # one file per trigger exercises incremental processing
        .option("maxFilesPerTrigger", 1)
        .load(stage)
    )


def documents_stream(
    spark: SparkSession, sf_dir: str, n_files: int = 1
) -> DataFrame:
    """File-source readStream over the documents fixture (same symlink
    staging as events_stream).  With n_files > 1 the fixture is split
    into that many parquet files so maxFilesPerTrigger=1 yields real
    multi-microbatch runs — the cross-batch state-carry test shape."""
    import os
    import tempfile

    stage = tempfile.mkdtemp(prefix="litebase_stream_docs_")
    src = f"{sf_dir}/documents.parquet"
    schema = parquet_schema(spark, src)
    if n_files <= 1:
        os.symlink(src, os.path.join(stage, "documents.parquet"))
    else:
        spark.read.schema(schema).parquet(src).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(stage)
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        # skip _SUCCESS markers in the n_files > 1 staging layout
        .option("pathGlobFilter", "*.parquet")
        .load(stage)
    )


def _normalized_events(stream: DataFrame) -> DataFrame:
    # mirror catalog.load's nanos handling for the raw stream read
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # parquet TIMESTAMP(us, isAdjustedToUTC=false) arrives as NTZ,
        # which event-time watermarks reject; session TZ is UTC so the
        # cast is value-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of stream_tumbling_window: 10-minute event-time
    tumbling windows per event type, late data admitted within the
    watermark."""
    stream = _normalized_events(stream)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_aggregation(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via session_window with the same
    30-minute gap as the batch gaps-and-islands form."""
    stream = _normalized_events(stream)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming stateful dedup on (user_id, event_type):
    dropDuplicatesWithinWatermark keeps the first arrival and expires
    state at the watermark horizon (bounded state — the property that
    matters at scale)."""
    stream = _normalized_events(stream)
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_available_now(
    df: DataFrame, output_mode: str = "append", timeout_sec: int = 120
) -> DataFrame:
    """Execute a streaming DataFrame to completion with AvailableNow into
    a memory sink; returns the materialized result as a batch DataFrame."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    return df.sparkSession.table(name)


def sliding_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of stream_sliding_window: 10-minute windows sliding
    every 5 minutes (each event lands in 2 windows)."""
    stream = _normalized_events(stream)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream INNER interval join: each purchase joined to the
    same user's clicks in the preceding 30 minutes (the streaming twin
    of the batch join_range_interval shape).

    Both sides carry watermarks and the join predicate bounds click time
    against purchase time from both directions, so Spark can expire
    state: click state is kept only `watermark + 30 min`, purchase state
    only `watermark`. Inner join (not outer) keeps results deterministic
    under AvailableNow — outer-join null rows only emit once the
    watermark passes the row's horizon, which a bounded replay never
    reaches for the tail."""
    e = _normalized_events(stream)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "inner",
    ).select("p_event_id", "p_user", "p_ts", "c_event_id", "c_ts", "c_value")


def stream_stream_left_outer(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase emits, with
    clicks from the preceding 30 minutes or NULLs if none arrived.

    Same bounded-state shape as the inner interval join; the outer
    semantics add watermark-clocked emission: an unmatched purchase's
    NULL row is held until the click-side watermark passes its horizon
    (no earlier click can still arrive), then flushed. Under
    Trigger.AvailableNow the terminal watermark stops `watermark` behind
    max event time, so purchases in that tail never resolve — the parity
    test (and the batch twin) therefore compare the watermark-final
    subset only. In production the stream runs forever and every
    purchase eventually resolves."""
    e = _normalized_events(stream)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "leftOuter",
    ).select("p_event_id", "p_user", "p_ts", "c_event_id", "c_ts", "c_value")


def stream_stream_full_outer(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matched purchase/click
    pairs emit immediately; unmatched rows on EITHER side NULL-extend
    once the watermark clears their horizon. The purchase side's horizon
    is p_ts (no earlier click can arrive); the click side's is
    c_ts + 30min (no purchase inside its forward join window can
    arrive). The batch twin restricts each NULL side to its own
    watermark-final horizon."""
    e = _normalized_events(stream)
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "fullOuter",
    ).select(
        "p_event_id", "p_user", "p_ts", "c_event_id", "c_user", "c_ts",
        "c_value",
    )


def ohlc_bars(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ts_ohlc_resample: 15-minute OHLC bars per user.
    open/close use min_by/max_by over the (ts, event_id) total order —
    safe (no tie ambiguity: event_id is unique) and streaming-legal,
    unlike the batch twin's window-function form. State is one bar per
    open (user, window), bounded by the watermark."""
    stream = _normalized_events(stream)
    order = F.struct("ts", "event_id")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "15 minutes"), "user_id")
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("window.start").alias("bucket"),
            "user_id",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def static_enrich_counts(
    stream: DataFrame, dim: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of stream_static_enrich: stream-static broadcast
    join (stateless — Spark rebuilds the static hash side per
    micro-batch, so dimension updates flow in without restarts) feeding
    a watermarked windowed aggregate (the only stateful operator)."""
    stream = _normalized_events(stream)
    return (
        stream.withWatermark("ts", watermark)
        .join(F.broadcast(dim), stream.user_id == dim.c_custkey)
        .groupBy(F.window("ts", "10 minutes"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )
