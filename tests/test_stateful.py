"""Low-level stateful replica checks: the hand-rolled symmetric join and
timer-driven aggregator must agree with their declarative twins on bounded
replay (modulo windows still open at end-of-stream, which timers can't fire
for — exactly the reference's semantics for an unterminated stream)."""

from pyspark.sql import functions as F

from nexmark_vanilla_flink_spark.sources.tables import nexmark_streams
from nexmark_vanilla_flink_spark.streaming.runner import run_available_now
from nexmark_vanilla_flink_spark.streaming.sources import stream_nexmark
from nexmark_vanilla_flink_spark.streaming.stateful import (
    SCD2_SPEC,
    bucketed_stateful,
    funnel_spec,
    hot_items_stateful,
    tagged_union,
    union_join_stateful,
)


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=repr)


def test_union_join_stateful_matches_batch_join(spark, sf_dir):
    s = stream_nexmark(spark, sf_dir)
    out = run_available_now(
        union_join_stateful(
            tagged_union(s["persons"], s["auctions"]), n_buckets=None
        ),
        output_mode="append",
        name="ujs",
    )
    b = nexmark_streams(spark, sf_dir)
    batch = (
        b["persons"]
        .select("user_id", "person_id")
        .join(
            b["auctions"].select(
                F.col("seller_id").alias("user_id"), "auction_id"
            ),
            "user_id",
        )
        .select("user_id", "person_id", "auction_id")
    )
    assert _rows(out) == _rows(batch)


def test_hot_items_stateful_emits_closed_windows_correctly(spark, sf_dir):
    s = stream_nexmark(spark, sf_dir)
    out = run_available_now(
        hot_items_stateful(s["bids"]), output_mode="append", name="his"
    )
    from nexmark_vanilla_flink_spark.plans.nexmark import q5_hot_items

    batch = {
        (r["auction_id"], r["w_start_s"]): (
            r["max_bid"],
            r["bid_count"],
            r["last_bid_ts_s"],
        )
        for r in q5_hot_items(spark, sf_dir).collect()
    }
    emitted = out.collect()
    # timers for the final windows can't fire after end-of-stream — emitted
    # set is a subset; every emitted row must exactly match the batch value
    assert len(emitted) > 0
    for r in emitted:
        key = (r["auction_id"], r["w_start_s"])
        assert key in batch
        assert batch[key] == (r["max_bid"], r["bid_count"], r["last_bid_ts_s"])


def test_funnel_stateful_multi_microbatch_equals_batch(spark, sf_dir):
    """CEP state machine across MANY micro-batches: events split into 6
    time-ranged files + the flush sentinel, one file per trigger — state
    must fold across batches (a user's view in batch 1, click in batch 3,
    purchase in batch 5) and the timer flush must emit the complete,
    batch-identical funnel."""
    import tempfile

    from nexmark_vanilla_flink_spark.plans.linkage import (
        _FUNNEL_WINDOW_US,
        funnel_conversion,
    )
    from nexmark_vanilla_flink_spark.sources.tables import load_table

    import glob
    import os
    import shutil
    import time

    ev = load_table(spark, sf_dir, "events")
    lo, hi, max_ts_ns = ev.agg(
        F.min(F.expr("ts_ns DIV 1000")),
        F.max(F.expr("ts_ns DIV 1000")),
        F.max("ts_ns"),
    ).collect()[0]
    flush_ms = max_ts_ns // 1_000_000 + 1
    sent_us = max_ts_ns // 1000 + 8 * 86400 * 1_000_000
    with tempfile.TemporaryDirectory(prefix="funnel_mb_") as d:
        src = f"{d}/in"
        os.makedirs(src)
        # one file per time slice with ASCENDING mtimes: the file source
        # orders batches by mtime, so arrival respects event time — the
        # watermark contract. (Arbitrary file order would make whole
        # chunks beyond-watermark-late, which no watermark engine fixes.)
        t0 = time.time() - 600
        step = (hi - lo) // 6 + 1
        proj = ev.select(
            "user_id",
            "event_type",
            F.expr("ts_ns DIV 1000").alias("us"),
            "event_id",
        )
        for i in range(6):
            stage = f"{d}/stage_{i}"
            proj.filter(
                (F.col("us") >= lo + i * step)
                & (F.col("us") < lo + (i + 1) * step)
            ).coalesce(1).write.parquet(stage)
            part = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{src}/chunk_{i}.parquet"
            shutil.move(part, dst)
            os.utime(dst, (t0 + i, t0 + i))
        stage = f"{d}/stage_sent"
        spark.createDataFrame(
            [(-1, "flush", sent_us, -1)],
            "user_id long, event_type string, us long, event_id long",
        ).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{src}/chunk_sentinel.parquet"
        shutil.move(part, dst)
        os.utime(dst, (t0 + 9, t0 + 9))
        schema = "user_id long, event_type string, us long, event_id long"
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.col("us")))
        )
        out = run_available_now(
            bucketed_stateful(
                sdf, flush_ms, funnel_spec(_FUNNEL_WINDOW_US), n_buckets=None
            ),
            output_mode="append",
            name="funnel_mb",
        )
        got = {
            r.user_id: (r.view_us, r.click_us, r.purchase_us, r.funnel_stage)
            for r in out.collect()
        }
    want = {
        r.user_id: (r.view_us, r.click_us, r.purchase_us, r.funnel_stage)
        for r in funnel_conversion(spark, sf_dir).collect()
    }
    assert got == want


def test_scd2_stateful_incremental_emission_equals_batch(spark, sf_dir):
    """Streaming CDC merge across many micro-batches: closed intervals
    emit incrementally (append mode) as the watermark finalizes them, the
    open intervals emit at flush — the union must equal the batch SCD2
    table exactly."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    from nexmark_vanilla_flink_spark.plans.linkage import scd2_user_state
    from nexmark_vanilla_flink_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    lo, hi, max_ts_ns = ev.agg(
        F.min(F.expr("ts_ns DIV 1000")),
        F.max(F.expr("ts_ns DIV 1000")),
        F.max("ts_ns"),
    ).collect()[0]
    flush_ms = max_ts_ns // 1_000_000 + 1
    sent_us = max_ts_ns // 1000 + 8 * 86400 * 1_000_000
    with tempfile.TemporaryDirectory(prefix="scd2_mb_") as d:
        src = f"{d}/in"
        os.makedirs(src)
        t0 = time.time() - 600
        step = (hi - lo) // 5 + 1
        proj = ev.select(
            "user_id",
            "event_type",
            F.expr("ts_ns DIV 1000").alias("us"),
            "event_id",
        )
        for i in range(5):
            stage = f"{d}/stage_{i}"
            proj.filter(
                (F.col("us") >= lo + i * step)
                & (F.col("us") < lo + (i + 1) * step)
            ).coalesce(1).write.parquet(stage)
            part = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{src}/chunk_{i}.parquet"
            shutil.move(part, dst)
            os.utime(dst, (t0 + i, t0 + i))
        stage = f"{d}/stage_sent"
        spark.createDataFrame(
            [(-1, "flush", sent_us, -1)],
            "user_id long, event_type string, us long, event_id long",
        ).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{src}/chunk_sentinel.parquet"
        shutil.move(part, dst)
        os.utime(dst, (t0 + 9, t0 + 9))
        schema = "user_id long, event_type string, us long, event_id long"
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.col("us")))
        )
        out = run_available_now(
            bucketed_stateful(sdf, flush_ms, SCD2_SPEC, n_buckets=None),
            output_mode="append",
            name="scd2_mb",
        )
        got = sorted(
            (
                r.user_id,
                r.valid_from_us,
                r.valid_to_us,
                r.state_value,
                r.version,
                r.is_current,
            )
            for r in out.collect()
        )
    want = sorted(
        (
            r.user_id,
            r.valid_from_us,
            r.valid_to_us,
            r.state_value,
            r.version,
            r.is_current,
        )
        for r in scd2_user_state(spark, sf_dir).collect()
    )
    assert got == want
