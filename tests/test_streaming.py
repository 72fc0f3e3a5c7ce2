"""Structured Streaming operator tests: stream results must equal the
batch-mode (oracle-verified) twins on the same fixture."""

from __future__ import annotations

import pytest

import litebase_spark.operators  # noqa: F401
from litebase_spark.catalog import REGISTRY
from litebase_spark.streaming.windows import (
    dedup_within_watermark,
    events_stream,
    run_available_now,
    session_aggregation,
    tumbling_counts,
)


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_tumbling_stream_equals_batch(spark, sf_dir):
    # complete mode emits every window including those still inside the
    # watermark horizon at end-of-stream (append would hold the last ~2h
    # back in state awaiting later data)
    stream_df = run_available_now(
        tumbling_counts(events_stream(spark, sf_dir)), output_mode="complete"
    )
    batch_df = REGISTRY["stream_tumbling_window"].builder(spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert rows_set(stream_df, cols) == rows_set(batch_df, cols)


def test_session_stream_matches_batch_sessionization(spark, sf_dir):
    stream_df = run_available_now(
        session_aggregation(events_stream(spark, sf_dir)),
        output_mode="complete",
    )
    batch_df = REGISTRY["stream_session_window"].builder(spark, sf_dir)
    got = rows_set(stream_df, ["user_id", "session_start", "n_events"])
    want = rows_set(batch_df, ["user_id", "session_start", "n_events"])
    assert got == want


def test_dedup_within_watermark_keeps_one_per_key(spark, sf_dir):
    out = run_available_now(dedup_within_watermark(events_stream(spark, sf_dir)))
    batch_keys = REGISTRY["stream_dedup"].builder(spark, sf_dir)
    # one surviving event per (user_id, event_type); same key set as batch
    assert out.count() == out.select("user_id", "event_type").distinct().count()
    assert rows_set(out, ["user_id", "event_type"]) == rows_set(
        batch_keys, ["user_id", "event_type"]
    )


def test_stateful_totals_carry_state_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState: keyed state must survive microbatch
    boundaries — split the fixture into 2 files, 1 file per trigger, and
    check the final running totals equal the batch aggregate."""
    import pyspark.sql.functions as F

    from litebase_spark.catalog import load
    from litebase_spark.streaming.stateful import running_user_totals
    from litebase_spark.streaming.windows import run_available_now

    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    events.repartition(2).write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_available_now(running_user_totals(stream), output_mode="update")
    # update mode re-emits a row per (key, batch); the final state per key
    # is the row with the highest running count
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    want = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    got = {r["user_id"]: r["n_events"] for r in final}
    assert got == want
    # at least one key must have been emitted twice (state carried over)
    assert out.count() > len(want)


def test_stream_parquet_sink_checkpoint_incremental(spark, sf_dir, tmp_path):
    """File sink + checkpoint: a restarted stream with the same checkpoint
    processes ONLY new files (exactly-once over the source log)."""
    import pyspark.sql.functions as F

    from litebase_spark.catalog import load

    events = load(spark, sf_dir, "events")
    first, second = (d.cache() for d in events.randomSplit([0.5, 0.5], seed=7))
    src, sink, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))
    first.coalesce(1).write.mode("append").parquet(src)

    def run_passthrough():
        q = (
            spark.readStream.schema(events.schema)
            .parquet(src)
            .withColumn("value2", F.col("value") * 2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_passthrough()
    n1 = spark.read.parquet(sink).count()
    assert n1 == first.count()

    # "new data arrives": second half lands in the source dir
    second.coalesce(1).write.mode("append").parquet(src)
    run_passthrough()
    n2 = spark.read.parquet(sink).count()
    # incremental: only the new file was processed, no reprocessing dupes
    assert n2 == first.count() + second.count()


def test_sliding_stream_equals_batch(spark, sf_dir):
    from litebase_spark.streaming.windows import sliding_counts

    stream_df = run_available_now(
        sliding_counts(events_stream(spark, sf_dir)), output_mode="complete"
    )
    batch_df = REGISTRY["stream_sliding_window"].builder(spark, sf_dir)
    cols = ["window_start", "n_events", "sum_value"]
    assert rows_set(stream_df, cols) == rows_set(batch_df, cols)


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Late-data policy, demonstrated end-to-end: an event older than the
    watermark arriving in a later microbatch must NOT reopen its
    (already emitted) window."""
    import time as _time

    import pyspark.sql.functions as F

    src, sink, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))

    from datetime import datetime

    def mk_events(rows):
        return spark.createDataFrame(
            [
                (i, datetime.strptime(ts, "%Y-%m-%d %H:%M:%S"), 1.0)
                for i, ts in enumerate(rows)
            ],
            "event_id long, ts timestamp, value double",
        )

    base = "2024-01-01 {:02d}:00:00"
    # batch 0: hours 0-4 -> watermark advances to 03:00 at batch end;
    # batch 1: on-time h5 event — h0's window is finalized and emitted
    #          (eviction lags the watermark by one batch);
    # batch 2: a LATE h0 event after finalization -> dropped by watermark
    batches = [
        [base.format(h) for h in (0, 0, 1, 2, 3, 4)],
        [base.format(5)],
        [base.format(0)],
    ]
    for rows in batches:
        mk_events(rows).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes: file source orders by mod time

    q = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = {str(r["ws"]): r["n"] for r in spark.read.parquet(sink).collect()}
    # hour-0 window was finalized with the 2 on-time events; the late
    # third arrival was dropped at the watermark
    assert out["2024-01-01 00:00:00"] == 2, out
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, dropped


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch upsert: every microbatch merges into a serving table
    keyed by user_id; final table == last-write-wins over the stream."""
    import pyspark.sql.functions as F

    from litebase_spark.catalog import load
    from litebase_spark.engine import Engine
    from litebase_spark.streaming.sinks import ForeachBatchUpsertSink

    events = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    src = str(tmp_path / "src")
    events.repartition(3).write.parquet(src)

    eng = Engine(spark=spark)
    eng.sql("DROP TABLE IF EXISTS serving_totals")
    eng.sql("CREATE TABLE serving_totals (user_id BIGINT, event_type STRING, "
            "value DOUBLE) USING PARQUET")

    sink = ForeachBatchUpsertSink(eng, "serving_totals", keys=["user_id"])
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sink.attach(stream)
    q.awaitTermination(120)

    final = spark.table("serving_totals")
    # exactly one row per user (upsert semantics, not append)
    assert final.count() == final.select("user_id").distinct().count()
    assert final.count() == events.select("user_id").distinct().count()
    assert len(sink.applied_batches) == 3  # one per file
    # idempotence: replaying an already-applied batch is a no-op
    before = final.count()
    sink.apply(events.limit(5), sink.applied_batches[0])
    assert spark.table("serving_totals").count() == before
    eng.sql("DROP TABLE serving_totals")


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from litebase_spark.streaming.windows import (
        events_stream,
        run_available_now,
        stream_stream_interval_join,
    )
    from litebase_spark.catalog import load
    from pyspark.sql import functions as F

    got = run_available_now(
        stream_stream_interval_join(events_stream(spark, sf_dir))
    )
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    want = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("p_event_id", "p_user", "p_ts", "c_event_id", "c_ts", "c_value")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() > 0


def test_ohlc_stream_equals_batch_resample(spark, sf_dir):
    """Streaming OHLC bars (min_by/max_by over the (ts, event_id) total
    order) must equal the oracle-verified batch ts_ohlc_resample."""
    from litebase_spark.streaming.windows import ohlc_bars

    stream_df = run_available_now(
        ohlc_bars(events_stream(spark, sf_dir)), output_mode="complete"
    )
    batch_df = REGISTRY["ts_ohlc_resample"].builder(spark, sf_dir)
    cols = ["user_id", "bucket", "open", "high", "low", "close", "n_events"]
    assert rows_set(stream_df, cols) == rows_set(batch_df, cols)


def test_stream_static_enrich_equals_batch(spark, sf_dir):
    """Stream-static broadcast join + windowed agg == the batch twin."""
    import litebase_spark.operators  # noqa: F401
    from litebase_spark.catalog import REGISTRY, load
    from litebase_spark.streaming.windows import (
        events_stream,
        run_available_now,
        static_enrich_counts,
    )

    dim = load(spark, sf_dir, "customer")
    # complete mode emits windows still inside the watermark horizon at
    # end-of-stream (same rationale as the tumbling parity test)
    got = run_available_now(
        static_enrich_counts(events_stream(spark, sf_dir), dim),
        output_mode="complete",
    )
    want = REGISTRY["stream_static_enrich"].builder(spark, sf_dir)
    g = {
        (r["window_start"], r["segment"]): (r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    w = {
        (r["window_start"], r["segment"]): (r["n_events"], r["sum_value"])
        for r in want.collect()
    }
    assert g == w and len(g) > 0


def test_stream_stream_left_outer_equals_batch_on_final_subset(spark, sf_dir):
    """LEFT OUTER stream-stream join: matched rows emit immediately;
    NULL-extended rows emit once the watermark passes the purchase's
    horizon. Under AvailableNow the terminal watermark is (max ts - 2h),
    so parity holds exactly on purchases older than that — the same
    subset the registered batch twin computes."""
    from litebase_spark.catalog import REGISTRY
    from litebase_spark.streaming.windows import (
        events_stream,
        run_available_now,
        stream_stream_left_outer,
    )
    from litebase_spark.catalog import load
    from pyspark.sql import functions as F

    got = run_available_now(
        stream_stream_left_outer(events_stream(spark, sf_dir))
    )
    e = load(spark, sf_dir, "events")
    horizon = (
        e.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg((F.min("mx") - F.expr("INTERVAL 2 HOURS")).alias("h"))
    ).collect()[0]["h"]
    got_final = got.filter(F.col("p_ts") < F.lit(horizon))
    want = REGISTRY["stream_left_outer_join"].builder(spark, sf_dir)
    assert sorted(map(tuple, got_final.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the outer semantics actually fired: some purchases have no click
    assert got_final.filter(F.col("c_event_id").isNull()).count() > 0


def test_stream_stream_full_outer_equals_batch_on_final_subset(spark, sf_dir):
    """FULL OUTER stream-stream join: matched pairs are deterministic;
    each NULL side finalizes at its own horizon (purchases: watermark
    passes p_ts; clicks: watermark passes c_ts + the 30-minute forward
    window). The registered batch twin encodes exactly that set."""
    from litebase_spark.catalog import REGISTRY, load
    from litebase_spark.streaming.windows import (
        events_stream,
        run_available_now,
        stream_stream_full_outer,
    )
    from pyspark.sql import functions as F

    got = run_available_now(
        stream_stream_full_outer(events_stream(spark, sf_dir))
    )
    e = load(spark, sf_dir, "events")
    horizon = (
        e.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg((F.min("mx") - F.expr("INTERVAL 2 HOURS")).alias("h"))
    ).collect()[0]["h"]
    matched = F.col("p_event_id").isNotNull() & F.col("c_event_id").isNotNull()
    got_final = got.filter(
        matched
        | (F.col("c_event_id").isNull() & (F.col("p_ts") < F.lit(horizon)))
        | (
            F.col("p_event_id").isNull()
            & (F.col("c_ts") + F.expr("INTERVAL 30 MINUTES") < F.lit(horizon))
        )
    )
    want = REGISTRY["stream_full_outer_join"].builder(spark, sf_dir)
    assert sorted(map(tuple, got_final.collect()), key=str) == sorted(
        map(tuple, want.collect()), key=str
    )
    # both outer directions actually fired
    assert got_final.filter(F.col("c_event_id").isNull()).count() > 0
    assert got_final.filter(F.col("p_event_id").isNull()).count() > 0


def test_state_v2_running_peaks_matches_batch(spark, sf_dir):
    """State API v2 (transformWithStateInPandas): per-user running
    count/total/peak equals the batch aggregate after an AvailableNow
    replay. Needs google.protobuf in the workers (the state-server
    protocol); skipped where absent."""
    from litebase_spark.streaming.stateful import (
        running_user_peaks_v2,
        state_v2_available,
    )

    if not state_v2_available():
        pytest.skip("google.protobuf not available: state API v2 gated")
    from litebase_spark.catalog import load
    from litebase_spark.streaming.windows import (
        _normalized_events,
        events_stream,
        run_available_now,
    )
    from pyspark.sql import functions as F

    stream = _normalized_events(events_stream(spark, sf_dir))
    got = run_available_now(
        running_user_peaks_v2(stream), output_mode="update"
    )
    e = load(spark, sf_dir, "events")
    want = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
            "total_value"
        ),
        (F.max(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
            "peak_value"
        ),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_streaming_minhash_dedup_matches_sequential_replay(spark, tmp_path):
    """Stream == sequential batch replay: documents arrive in three
    microbatches; accepted/rejected sets must equal applying the
    incremental probe batch-by-batch."""
    from litebase_spark.streaming.dedup_stream import StreamingMinhashDedup

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain falls softly on the quiet old town tonight")
    other = ("completely different content about distributed query "
             "engines and columnar storage formats at large scale")
    third = ("yet another unique document discussing tokenizer "
             "vocabularies and training corpus mixtures in depth")
    batches = [
        [(1, base), (2, other)],              # both novel
        [(3, base), (4, third)],              # 3 dups 1, 4 novel
        [(5, other), (6, base), (7, "tiny")], # 5 dups 2, 6 dups 1
    ]
    # batch-internal dup in one microbatch: 8 duplicates 9 (lower id kept)
    batches[1].append((9, third))  # 9 dups 4? same batch -> lower id wins
    sm = StreamingMinhashDedup(spark)
    for i, rows in enumerate(batches):
        sm.apply(
            spark.createDataFrame(rows, "doc_id long, text string"), i
        )
    assert sm.accepted_ids() == [1, 2, 4, 7]
    assert sm.rejected_ids() == [3, 5, 6, 9]
    # replayed batch id is a no-op (restart idempotence)
    n_before = len(sm.applied_batches)
    sm.apply(
        spark.createDataFrame(batches[0], "doc_id long, text string"), 0
    )
    assert len(sm.applied_batches) == n_before

    # the same filter driven by a REAL file stream accepts the same set
    import os

    d = str(tmp_path / "stream_docs")
    os.makedirs(d)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1).write.mode("overwrite").parquet(f"{d}/b{i}")
    sm2 = StreamingMinhashDedup(spark)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/b*")
    )
    q = sm2.attach(stream, availableNow=True)
    q.awaitTermination(180)
    # arrival order across files is not guaranteed, so compare the
    # accept/reject PARTITION (novel-content winners), not exact ids:
    # one representative per near-dup cluster must be accepted.
    acc = sm2.accepted_ids()
    rej = sm2.rejected_ids()
    assert sorted(acc + rej) == [1, 2, 3, 4, 5, 6, 7, 9]
    clusters = [{1, 3, 6}, {2, 5}, {4, 9}, {7}]
    for cl in clusters:
        assert len(cl.intersection(acc)) == 1


def test_foreach_batch_drives_engine_triggers(spark, sf_dir, tmp_path):
    """The CDF/foreachBatch per-commit hook composed end-to-end: a file
    stream lands micro-batches into a base table THROUGH Engine.sql, so
    the statement-level AFTER INSERT trigger re-derives a summary table
    on every micro-batch commit — the streaming form of the trigger
    analog (reference trigger DDL family, constants.go:74-77)."""
    import shutil

    import pyspark.sql.functions as F

    from litebase_spark.catalog import load
    from litebase_spark.engine import Engine

    eng = Engine(spark)
    for t in ("st_base", "st_sum"):
        eng.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    eng.sql(
        "CREATE TABLE st_base (event_type STRING, value DOUBLE) "
        "USING PARQUET"
    )
    eng.sql("CREATE TABLE st_sum (event_type STRING, n BIGINT) USING PARQUET")
    eng.sql(
        "CREATE TRIGGER st_sync AFTER INSERT ON st_base BEGIN "
        "INSERT OVERWRITE st_sum SELECT event_type, COUNT(*) AS n "
        "FROM st_base GROUP BY event_type; END"
    )

    events = load(spark, sf_dir, "events").select("event_type", "value")
    src = str(tmp_path / "trg_src")
    events.limit(90).repartition(3).write.parquet(src)

    fired = []

    def land(df, batch_id):
        rows = df.collect()
        if not rows:
            return
        vals = ", ".join(
            f"('{r['event_type']}', {float(r['value'] or 0.0)})"
            for r in rows
        )
        eng.sql(f"INSERT INTO st_base VALUES {vals}")
        fired.append(batch_id)

    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(land)
        .option(
            "checkpointLocation", str(tmp_path / "trg_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert len(fired) >= 1
    base = {
        (r.event_type, r.n)
        for r in eng.sql(
            "SELECT event_type, COUNT(*) AS n FROM st_base "
            "GROUP BY event_type"
        ).rows
    }
    summary = {
        (r.event_type, r.n)
        for r in eng.sql("SELECT * FROM st_sum").rows
    }
    # the trigger kept the derived table exactly in sync through every
    # micro-batch commit
    assert base == summary and summary
    eng.sql("DROP TRIGGER st_sync")
    for t in ("st_base", "st_sum"):
        eng.sql(f"DROP TABLE {t}")


@pytest.mark.slow
def test_rate_source_soak_sessions_tumbling_stateful(spark, tmp_path):
    """Live unbounded soak (round-5 verdict item): a rate-source
    producer lands parquet files in real time while three consumers —
    watermarked APPEND session windows, update-mode tumbling counts,
    and applyInPandasWithState running totals — process them as they
    arrive. Asserts (a) the event-time watermark advances monotonically
    across live micro-batches, (b) after a sentinel flush advances the
    watermark past every open session, each stream's final output
    equals the batch computation over the archived ground truth."""
    import pyspark.sql.functions as F

    from litebase_spark.streaming import soak
    from litebase_spark.streaming.stateful import running_user_totals

    archive = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")

    producer = soak.start_rate_producer(spark, archive, ckpt)
    try:
        soak.wait_for_batches(producer, 6, timeout_s=90)
    except Exception:
        producer.stop()
        raise

    # consumers start while the producer is still writing
    src = soak.archive_stream(spark, archive)
    sessions = (
        src.withWatermark("ts", "1 second")
        .groupBy(
            F.session_window("ts", "1 second").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "w.start", "w.end", "n")
    )
    q_sess, t_sess = soak.memory_query(sessions, "append")
    tumbling = (
        src.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "2 seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "w.start", "n")
    )
    q_tumb, t_tumb = soak.memory_query(tumbling, "update")
    q_tot, t_tot = soak.memory_query(
        running_user_totals(src.select("user_id", "value")), "update"
    )

    try:
        # let the consumers chew live batches, then stop the producer
        soak.wait_for_batches(q_tumb, 3, timeout_s=90)
        producer.stop()
        producer.awaitTermination(30)

        # (a) watermark advanced monotonically while the source was live
        wms = soak.watermarks_of(q_tumb)
        assert len(wms) >= 2, f"too few watermarked batches: {wms}"
        assert wms == sorted(wms), f"watermark regressed: {wms}"
        assert wms[-1] > wms[0], "watermark never advanced"

        # flush: one sentinel far past max event time closes every
        # session / window still held back by the watermark
        max_ts = spark.read.parquet(archive).agg(F.max("ts")).first()[0]
        soak.append_watermark_flush(spark, archive, max_ts)
        for q in (q_sess, q_tumb, q_tot):
            q.processAllAvailable()
    finally:
        for q in (q_sess, q_tumb, q_tot):
            q.stop()
        if producer.isActive:
            producer.stop()

    truth = spark.read.parquet(archive).filter(F.col("user_id") >= 0)

    # (b1) append-mode sessions == batch sessionization, exactly
    want_sess = {
        (r["user_id"], r["start"], r["end"], r["n"])
        for r in truth.groupBy(
            F.session_window("ts", "1 second").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "w.start", "w.end", "n")
        .collect()
    }
    got_sess = {
        (r["user_id"], r["start"], r["end"], r["n"])
        for r in spark.table(t_sess)
        .filter(F.col("user_id") >= 0)
        .collect()
    }
    assert got_sess == want_sess

    # (b2) tumbling update stream: latest count per (window,user) ==
    # batch count
    want_tumb = {
        (r["user_id"], r["start"]): r["n"]
        for r in truth.groupBy(
            F.window("ts", "2 seconds").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "w.start", "n")
        .collect()
    }
    got_tumb = {
        (r["user_id"], r["start"]): r["mx"]
        for r in spark.table(t_tumb)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id", "start")
        .agg(F.max("n").alias("mx"))
        .collect()
    }
    assert got_tumb == want_tumb

    # (b3) stateful running totals: final state per user == batch agg
    want_tot = {
        r["user_id"]: (r["n"], r["s"])
        for r in truth.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    got = (
        spark.table(t_tot)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n"),
            F.max("total_value").alias("s"),
        )
        .collect()
    )
    got_tot = {r["user_id"]: (r["n"], r["s"]) for r in got}
    assert set(got_tot) == set(want_tot)
    for u, (n, s) in want_tot.items():
        gn, gs = got_tot[u]
        assert gn == n, (u, gn, n)
        assert abs(gs - s) < 1e-6 * max(1.0, abs(s)), (u, gs, s)


def test_stream_scd2_converges_across_batches(spark, sf_dir, tmp_path):
    """stream_scd2_apply's cross-batch contract: with the changelog split
    into time-ordered files (1 per trigger — a CDC log is time-ordered),
    an upsert-by-(entity, version) sink converges to EXACTLY the batch
    operator's SCD-2 history: intervals left open in batch 1 are
    re-emitted closed by batch 2 and the upsert replaces them."""
    import pyspark.sql.functions as F

    from litebase_spark.catalog import load
    from litebase_spark.operators.asof import ts_scd2_intervals
    from litebase_spark.streaming.stateful import scd2_apply
    from litebase_spark.streaming.windows import run_available_now

    events = load(spark, sf_dir, "events")
    cutoff = events.agg(
        F.expr("percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)")
    ).first()[0]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    # two time-ordered files; lexicographic path order == trigger order
    events.filter(us <= cutoff).coalesce(1).write.parquet(
        src + "/part=0"
    )
    events.filter(us > cutoff).coalesce(1).write.parquet(
        src + "/part=1"
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select("user_id", "event_type", "ts", "event_id", "value")
    )
    out = run_available_now(scd2_apply(stream), output_mode="update")
    rows = out.collect()

    # upsert: LAST emission per (user, event_type, version) wins — an
    # open interval re-emitted closed replaces the open form
    serving: dict = {}
    for r in rows:
        serving[(r["user_id"], r["event_type"], r["version"])] = (
            r["valid_from_us"], r["valid_to_us"], r["is_current"],
            round(r["value"] * 100),
        )
    want = {
        (r["user_id"], r["event_type"], r["version"]): (
            r["valid_from_us"], r["valid_to_us"], r["is_current"],
            round(r["value"] * 100),
        )
        for r in ts_scd2_intervals(spark, sf_dir).collect()
    }
    assert serving == want
    # convergence was exercised: some interval was first emitted open in
    # batch 1 and re-emitted closed in batch 2 (more emissions than keys)
    assert len(rows) > len(serving)


def test_minhash_lsh_stream_carries_state_across_batches(spark, sf_dir):
    """Round-9: the streaming MinHash-LSH twin must equal the batch
    operator even when the corpus arrives over MULTIPLE microbatches —
    pairs whose members land in different batches only exist if the
    bucket posting lists really persist in keyed state."""
    import pyspark.sql.functions as F

    from litebase_spark.operators.dedup import (
        N_BANDS,
        N_HASHES,
        band_signatures,
        minhash_signatures,
    )
    from litebase_spark.streaming.stateful import minhash_lsh_pairs_stream
    from litebase_spark.streaming.windows import (
        documents_stream,
        run_available_now,
    )

    stream = documents_stream(spark, sf_dir, n_files=4)
    banded = band_signatures(
        minhash_signatures(stream), N_BANDS, N_HASHES // N_BANDS
    )
    out = run_available_now(
        minhash_lsh_pairs_stream(banded), output_mode="update"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in out.filter(F.col("est_jaccard") >= 0.4)
        .dropDuplicates(["doc_a", "doc_b"])
        .collect()
    )
    want = sorted(
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).collect()
    )
    assert got == want and len(want) > 0


def test_minhash_bucket_state_survives_empty_invocation():
    """ADVICE r9: a zero-row invocation of the bucket state function
    (reachable the moment a timeout config is set) must emit an empty
    typed frame and leave the stored posting list UNTOUCHED — the old
    path raised in pd.concat, and a stride=0 rebuild would have wiped
    the flattened signatures from state."""
    import pandas as pd

    from litebase_spark.streaming.stateful import _update_minhash_bucket

    class FakeState:
        def __init__(self, value):
            self._v = value
            self.updated = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.updated = v
            self._v = v

    stored = ([1, 2], [10, 20, 30, 40])  # two docs, stride-2 signatures
    st = FakeState(stored)
    out = list(_update_minhash_bucket(("b0", 7), iter([]), st))
    assert len(out) == 1 and len(out[0]) == 0
    assert list(out[0].columns) == ["doc_a", "doc_b", "est_jaccard"]
    assert str(out[0]["doc_a"].dtype) == "int64"
    assert st.updated is None and st.get == stored

    # and an all-empty-frames iterator behaves the same way
    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "sig": pd.Series([], dtype="object")})
    st2 = FakeState(stored)
    out2 = list(_update_minhash_bucket(("b0", 7), iter([empty]), st2))
    assert len(out2) == 1 and len(out2[0]) == 0
    assert st2.updated is None and st2.get == stored


def test_drift_psi_stream_carries_state_across_batches(spark, sf_dir, tmp_path):
    """Round-10: the streaming PSI twin must equal the batch stats_psi
    even when the corpus arrives over MULTIPLE microbatches — the
    per-bin reference/current counts only converge if the update-mode
    aggregation state really accumulates across triggers (and the
    monotone-counts => max-per-bin sink reduction is correct)."""
    import pyspark.sql.functions as F

    from litebase_spark.catalog import load
    from litebase_spark.operators.relational import (
        psi_binned,
        psi_from_cells,
        stats_psi,
    )
    from litebase_spark.streaming.windows import run_available_now

    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    # four files; each microbatch carries a slice of BOTH halves so the
    # per-bin counts genuinely update across triggers
    events.withColumn(
        "part", F.pmod(F.col("event_id"), F.lit(4))
    ).write.partitionBy("part").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .select(*[c for c in events.columns])
    )
    cells = (
        psi_binned(stream.withColumn("ts", F.col("ts").cast("timestamp")))
        .groupBy("bin")
        .agg(
            F.sum("refw").alias("c1"),
            F.sum(F.lit(1) - F.col("refw")).alias("c2"),
        )
    )
    sink = run_available_now(cells, output_mode="update")
    # state really carried: some bin was updated in more than one batch
    assert sink.count() > sink.select("bin").distinct().count()
    final = sink.groupBy("bin").agg(
        F.max("c1").alias("c1"), F.max("c2").alias("c2")
    )
    got = psi_from_cells(final).first()
    want = stats_psi(spark, sf_dir).first()
    assert got.asDict() == want.asDict()
