"""Streaming time-semantics tests: processing-time flush (A3/Q5b) on a live
unbounded stream, and watermark-driven late-data dropping (§2.6)."""

import tempfile
import time

from pyspark.sql import functions as F

from nexmark_vanilla_flink_spark.sources.generator import (
    generate_events_stream,
    split_streams,
)
from nexmark_vanilla_flink_spark.streaming.stateful import q5b_proc_time_flush


def test_q5b_proc_time_flush_emits_on_live_stream(spark):
    """A3: the processing-time timer must actually fire and flush per-key
    accumulators while the (rate-source) stream keeps running."""
    bids = split_streams(generate_events_stream(spark, rows_per_second=2000))["bids"]
    bids = bids.withColumnRenamed("auction_id", "item_id")
    out = q5b_proc_time_flush(bids, flush_interval_ms=2000)
    q = (
        out.writeStream.format("memory")
        .queryName("q5b_soak")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_q5b_"))
        .start()
    )
    try:
        flushed = 0
        for _ in range(60):  # up to ~15 s
            time.sleep(0.25)
            flushed = spark.table("q5b_soak").count()
            if flushed > 0:
                break
        assert flushed > 0, "processing-time timer never flushed"
        row = spark.table("q5b_soak").first()
        assert row["bid_count"] >= 1
        assert row["max_bid"] >= 0.0
    finally:
        q.stop()
        q.awaitTermination(30)


def test_watermark_drops_late_rows(spark):
    """§2.6 late-data handling: an event older than (max event time seen −
    watermark) arriving in a later micro-batch is dropped from an append-mode
    windowed aggregation; the reference instead silently joined late events
    into old state (SURVEY §2.6) — this is the documented divergence."""
    with tempfile.TemporaryDirectory(prefix="late_") as d:
        src = f"{d}/in"
        # batch 1: fresh events far ahead in time (hours 100..109)
        spark.range(10).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(F.lit(360000) + F.col("id") * 3600).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(src)
        schema = "k long, ts timestamp"
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = (
            sdf.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").cast("long").alias("w"), "n")
        )
        ck, out = f"{d}/ck", f"{d}/out"

        def run_once():
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()

        run_once()
        n_before = spark.read.parquet(out).count()
        # batch 2: one very LATE event (hour 0 — far behind the watermark)
        # plus one fresh event advancing time
        spark.createDataFrame(
            [(99, 0), (100, 400000)], "k long, epoch long"
        ).select(
            "k", F.timestamp_seconds("epoch").alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()
        rows = {r["w"]: r["n"] for r in spark.read.parquet(out).collect()}
        # the late event's hour-0 window must never appear in the output
        assert 0 not in rows, f"late row leaked into output: {rows}"
        assert n_before >= 0


def test_configure_runtime_preserves_session_tuning(spark):
    """Regression lock for the r3 conf-stomp bug + the r3 ADVICE refinement:
    configure_runtime runs on every streaming-source construction and must
    NOT override a session's tuned shuffle-partition count — including a
    caller that deliberately tunes to exactly 200 AFTER the session was
    first configured (the marker conf distinguishes that from the stock
    default). Only a never-configured session carrying the stock 200 gets
    resized."""
    from nexmark_vanilla_flink_spark.session import (
        _CONFIGURED_MARKER,
        configure_runtime,
    )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        configure_runtime(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        # deliberate 200 on an ALREADY-configured session is preserved
        # (pre-fix this was stomped — the one value the guard missed)
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        configure_runtime(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
        # a never-configured session carrying the stock 200 IS resized
        # (that's the function's job) — simulate by clearing the marker
        spark.conf.unset(_CONFIGURED_MARKER)
        configure_runtime(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") != "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_replay_state_partitions_defaulting(spark):
    """Bounded-replay state sizing: local master defaults to 8 (the
    measured local optimum); a non-local master returns None so the
    session owner's tuning stands."""
    from nexmark_vanilla_flink_spark.streaming.runner import (
        replay_state_partitions,
    )

    assert spark.conf.get("spark.master").startswith("local")
    assert replay_state_partitions(spark) == 8

    class FakeConf:
        def get(self, k, d=None):
            return "spark://cluster:7077"

    class FakeSpark:
        conf = FakeConf()

    assert replay_state_partitions(FakeSpark()) is None
