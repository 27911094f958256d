"""Continuous-mode CEP/SCD2 emission (VERDICT r5 task 5): with per-key
event-time timers (funnel) and per-batch closed-interval emission (SCD2),
rows must appear in micro-batches BEFORE end-of-input — the deployment
shape — while the full union stays row-identical to the batch plans."""

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from nexmark_vanilla_flink_spark.plans.linkage import (
    _FUNNEL_WINDOW_US,
    funnel_conversion,
    scd2_user_state,
)
from nexmark_vanilla_flink_spark.sources.tables import load_table
from nexmark_vanilla_flink_spark.streaming.stateful import (
    SCD2_SPEC,
    bucketed_stateful,
    funnel_stateful,
)

_SCHEMA = "user_id long, event_type string, us long, event_id long"


def _sliced_source(spark, sf_dir, d, n_slices=6):
    """Events split into time-ranged files with ascending mtimes (the file
    source orders by mtime, so arrival respects event time) plus a flush
    sentinel last; returns (streaming df, flush_ms)."""
    ev = load_table(spark, sf_dir, "events")
    lo, hi, max_ts_ns = ev.agg(
        F.min(F.expr("ts_ns DIV 1000")),
        F.max(F.expr("ts_ns DIV 1000")),
        F.max("ts_ns"),
    ).collect()[0]
    flush_ms = max_ts_ns // 1_000_000 + 1
    sent_us = max_ts_ns // 1000 + 8 * 86400 * 1_000_000
    src = f"{d}/in"
    os.makedirs(src)
    t0 = time.time() - 600
    step = (hi - lo) // n_slices + 1
    proj = ev.select(
        "user_id", "event_type", F.expr("ts_ns DIV 1000").alias("us"), "event_id"
    )
    for i in range(n_slices):
        stage = f"{d}/stage_{i}"
        proj.filter(
            (F.col("us") >= lo + i * step) & (F.col("us") < lo + (i + 1) * step)
        ).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{src}/chunk_{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (t0 + i, t0 + i))
    stage = f"{d}/stage_sent"
    spark.createDataFrame(
        [(-1, "flush", sent_us, -1)], _SCHEMA
    ).coalesce(1).write.parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    dst = f"{src}/chunk_sentinel.parquet"
    shutil.move(part, dst)
    os.utime(dst, (t0 + n_slices + 3, t0 + n_slices + 3))
    sdf = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.col("us")))
    )
    return sdf, flush_ms


def _run_collecting_epochs(spark, out_sdf, name):
    """Drive an availableNow run through foreachBatch, returning
    [(epoch_id, rows)] for every non-empty micro-batch."""
    batches = []

    def sink(df, epoch_id):
        rows = df.collect()
        if rows:
            batches.append((epoch_id, rows))

    with tempfile.TemporaryDirectory(prefix=f"{name}_ck_") as ck:
        q = (
            out_sdf.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert not q.isActive
        assert q.exception() is None
    return batches


def test_funnel_per_key_timers_emit_before_end_of_input(spark, sf_dir):
    with tempfile.TemporaryDirectory(prefix="cep_cont_") as d:
        sdf, flush_ms = _sliced_source(spark, sf_dir, d)
        batches = _run_collecting_epochs(
            spark,
            funnel_stateful(sdf, flush_ms, _FUNNEL_WINDOW_US),
            "funnel_cont",
        )
    assert batches, "no output at all"
    epochs = [e for e, _ in batches]
    # incremental: emission spans >1 epoch, with the first emitting epoch
    # strictly before the final one (per-key view+7d timers fired while
    # later slices were still unread — NOT one end-of-input dump)
    assert len(epochs) >= 2, f"all output in one epoch: {epochs}"
    assert min(epochs) < max(epochs)
    got = {
        r.user_id: (r.view_us, r.click_us, r.purchase_us, r.funnel_stage)
        for _, rows in batches
        for r in rows
    }
    n_emitted = sum(len(rows) for _, rows in batches)
    assert n_emitted == len(got), "duplicate per-user emission"
    want = {
        r.user_id: (r.view_us, r.click_us, r.purchase_us, r.funnel_stage)
        for r in funnel_conversion(spark, sf_dir).collect()
    }
    assert got == want


def test_scd2_closed_intervals_emit_before_end_of_input(spark, sf_dir):
    with tempfile.TemporaryDirectory(prefix="scd2_cont_") as d:
        sdf, flush_ms = _sliced_source(spark, sf_dir, d)
        batches = _run_collecting_epochs(
            spark,
            bucketed_stateful(sdf, flush_ms, SCD2_SPEC, n_buckets=None),
            "scd2_cont",
        )
    assert batches
    epochs = [e for e, _ in batches]
    assert len(epochs) >= 2, f"all output in one epoch: {epochs}"
    # every pre-final emission is a CLOSED interval (immutable-on-emit —
    # the append-mode soundness contract); open rows only at flush
    last = max(epochs)
    for e, rows in batches:
        if e != last:
            assert all(not r.is_current for r in rows)
    got = sorted(
        (r.user_id, r.valid_from_us, r.valid_to_us, r.state_value, r.version,
         r.is_current)
        for _, rows in batches
        for r in rows
    )
    want = sorted(
        (r.user_id, r.valid_from_us, r.valid_to_us, r.state_value, r.version,
         r.is_current)
        for r in scd2_user_state(spark, sf_dir).collect()
    )
    assert got == want
