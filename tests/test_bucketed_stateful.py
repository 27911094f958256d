"""Bucketed state must emit the EXACT row set of per-key state (r9,
VERDICT r8 task 3): `bucketed_stateful` coarsens keyed state into hash
buckets to amortize the per-key Python group-call machinery, and this
suite is what licenses that — the per-key forms (``n_buckets=None``,
and the continuous ``funnel_stateful``) are the reference forms (they
sit under the batch-oracle hash gate via the replay entries' shared
oracles and tests/test_stateful.py), so set-equality here transfers the
oracle guarantee to the bucketed runs. Run at sf0.001 like the rest of
CI; the driver re-gates the bucketed entries at sf0.01.
"""

import pytest

from nexmark_vanilla_flink_spark.plans.linkage import _sentinel_event_stream
from nexmark_vanilla_flink_spark.streaming.runner import run_available_now
from nexmark_vanilla_flink_spark.plans.linkage import _FUNNEL_WINDOW_US
from nexmark_vanilla_flink_spark.streaming.stateful import (
    EWMA_SPEC,
    SCD2_SPEC,
    SKIPGRAM_COUNTED_SPEC,
    SKIPGRAM_SPEC,
    bucketed_stateful,
    funnel_spec,
    funnel_stateful,
    tagged_union,
    union_join_stateful,
)

SPECS = {
    "ewma": (EWMA_SPEC, True),
    "scd2": (SCD2_SPEC, False),
    "skipgram": (SKIPGRAM_SPEC, False),
    "skipgram_counted": (SKIPGRAM_COUNTED_SPEC, False),
    "funnel": (funnel_spec(_FUNNEL_WINDOW_US), False),
}


def _per_key(name):
    spec, _ = SPECS[name]
    return lambda s, f: bucketed_stateful(s, f, spec, n_buckets=None)


PAIRS = {
    "ewma": _per_key("ewma"),
    "scd2": _per_key("scd2"),
    "skipgram": _per_key("skipgram"),
    # per-key-TIMER form vs bucketed flush-horizon emission: the row SET
    # must be identical even though emission timing differs
    "funnel": lambda s, f: funnel_stateful(s, f, _FUNNEL_WINDOW_US),
}


@pytest.mark.parametrize("name", sorted(PAIRS))
def test_bucketed_matches_per_key(spark, sf_dir, name):
    per_key = PAIRS[name]
    spec, with_value = SPECS[name]
    stream, flush_ms = _sentinel_event_stream(
        spark, sf_dir, with_value=with_value
    )
    ref = run_available_now(per_key(stream, flush_ms), output_mode="append")
    stream2, flush_ms2 = _sentinel_event_stream(
        spark, sf_dir, with_value=with_value
    )
    got = run_available_now(
        bucketed_stateful(stream2, flush_ms2, spec), output_mode="append"
    )
    assert [f.name for f in got.schema.fields] == [
        f.name for f in ref.schema.fields
    ]
    a = sorted([tuple(r) for r in got.collect()], key=repr)
    b = sorted([tuple(r) for r in ref.collect()], key=repr)
    assert len(a) == len(b) and a == b, f"{name}: {len(a)} vs {len(b)} rows"
    assert len(a) > 0


def _union_tagged(spark, sf_dir):
    """The replay entry's one-scan tagged stream: signups are persons
    (side 1), views stand in for auctions (side 2)."""
    from pyspark.sql import functions as F

    from nexmark_vanilla_flink_spark.streaming.sources import stream_events

    ev = stream_events(spark, sf_dir)
    return ev.filter(F.col("event_type").isin("signup", "view")).select(
        F.when(F.col("event_type") == "signup", 1)
        .otherwise(2)
        .cast("int")
        .alias("side"),
        F.col("user_id"),
        F.col("event_id").alias("row_id"),
        F.col("ts"),
    )


@pytest.mark.parametrize("name", sorted(SPECS) + ["union_join"])
def test_per_key_form_has_no_buckets(spark, sf_dir, name):
    """``n_buckets=None`` really keys state per user: its plan has no
    bucket column (no ``pmod`` hash, no sentinel ``explode``), while the
    default plan does — otherwise the parity tests above would compare
    the bucketed run with itself."""

    def plan(n_buckets):
        if name == "union_join":
            df = union_join_stateful(
                _union_tagged(spark, sf_dir), n_buckets=n_buckets
            )
        else:
            spec, with_value = SPECS[name]
            stream, flush_ms = _sentinel_event_stream(
                spark, sf_dir, with_value=with_value
            )
            df = bucketed_stateful(stream, flush_ms, spec, n_buckets=n_buckets)
        return df._jdf.queryExecution().analyzed().toString()

    per_key = plan(None)
    assert "Generate" not in per_key and "pmod" not in per_key, per_key
    bucketed = plan(16)
    assert "pmod" in bucketed, bucketed
    # the union join emits on arrival with no end-of-input sentinel, so
    # its bucket column is the bare hash; the watermark-fold driver's
    # bucket column broadcasts the sentinel to every bucket
    if name != "union_join":
        assert "Generate explode" in bucketed, bucketed


def test_bucketed_small_bucket_count(spark, sf_dir):
    """n_buckets smaller than the key count still yields the identical
    set — bucket hashing only affects placement, never the fold."""
    stream, flush_ms = _sentinel_event_stream(spark, sf_dir, with_value=True)
    ref = run_available_now(
        bucketed_stateful(stream, flush_ms, EWMA_SPEC), output_mode="append"
    )
    stream2, flush_ms2 = _sentinel_event_stream(
        spark, sf_dir, with_value=True
    )
    got = run_available_now(
        bucketed_stateful(stream2, flush_ms2, EWMA_SPEC, n_buckets=3),
        output_mode="append",
    )
    a = sorted([tuple(r) for r in got.collect()], key=repr)
    b = sorted([tuple(r) for r in ref.collect()], key=repr)
    assert a == b


def test_multibatch_timer_path(spark, sf_dir, tmp_path):
    """The sentinel-less CONTINUOUS path still works multi-batch: events
    arrive across 3 time-ordered files (maxFilesPerTrigger=1), each batch
    folds only the watermark-finalized prefix, and the end-of-horizon
    TIMER (not the end-of-input sentinel) flushes the finals in the
    trailing no-data batch. Output set must equal the sentinel-driven
    single-batch replay — the r11 fast path and the timer path are two
    emission schedules over one fold."""
    import os

    from pyspark.sql import functions as F

    from nexmark_vanilla_flink_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("ts_ns DIV 1000").alias("us"),
        "event_id",
        "ts",
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("v_fp"),
    )
    lo, hi = ev.agg(F.min("us"), F.max("us")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    d = str(tmp_path / "multibatch")
    os.makedirs(d)
    for i, cond in enumerate(
        [
            F.col("us") < cut1,
            (F.col("us") >= cut1) & (F.col("us") < cut2),
            F.col("us") >= cut2,
        ]
    ):
        stage = str(tmp_path / f"stage{i}")
        ev.filter(cond).coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        os.rename(f"{stage}/{part}", f"{d}/f{i}.parquet")
        os.utime(f"{d}/f{i}.parquet", (1_000_000_000 + i, 1_000_000_000 + i))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    # horizon 1 h before the last event: past every batch's data but below
    # the final watermark, so the flush comes from hasTimedOut, never from
    # a sentinel (there is none in this stream)
    flush_ms = hi // 1000 - 3600 * 1000
    got = run_available_now(
        bucketed_stateful(stream, flush_ms, EWMA_SPEC), output_mode="append"
    )
    ref_stream, ref_flush = _sentinel_event_stream(
        spark, sf_dir, with_value=True
    )
    ref = run_available_now(
        bucketed_stateful(ref_stream, ref_flush, EWMA_SPEC),
        output_mode="append",
        no_data_batch=False,
    )
    a = sorted([tuple(r) for r in got.collect()], key=repr)
    b = sorted([tuple(r) for r in ref.collect()], key=repr)
    assert len(a) > 0 and a == b


def test_union_join_bucketed_parity(spark, sf_dir):
    """The bucketed Q8 union join must emit the exact row SET of the
    per-key form (which itself matches the batch join —
    tests/test_stateful.py). n_buckets=3 < key count forces multiple
    users per bucket, exercising the per-user buffer isolation."""
    from nexmark_vanilla_flink_spark.streaming.sources import stream_nexmark

    s = stream_nexmark(spark, sf_dir)
    ref = run_available_now(
        union_join_stateful(
            tagged_union(s["persons"], s["auctions"]), n_buckets=None
        ),
        output_mode="append",
        no_data_batch=False,
    )
    got = run_available_now(
        union_join_stateful(_union_tagged(spark, sf_dir), n_buckets=3),
        output_mode="append",
        no_data_batch=False,
    )
    a = sorted([tuple(r) for r in got.collect()], key=repr)
    b = sorted([tuple(r) for r in ref.collect()], key=repr)
    assert len(a) > 0 and a == b


def test_skipgram_counted_parity(spark, sf_dir):
    """The counted spec's (center, context) -> sum(cnt) table must equal
    the raw skip-gram pair counts (which are set-parity-pinned against the
    per-key form above)."""
    from collections import Counter

    stream, flush_ms = _sentinel_event_stream(spark, sf_dir)
    raw = run_available_now(
        bucketed_stateful(stream, flush_ms, SKIPGRAM_SPEC),
        output_mode="append",
        no_data_batch=False,
    )
    ref = Counter((r["center"], r["context"]) for r in raw.collect())
    stream2, flush_ms2 = _sentinel_event_stream(spark, sf_dir)
    counted = run_available_now(
        bucketed_stateful(stream2, flush_ms2, SKIPGRAM_COUNTED_SPEC),
        output_mode="append",
        no_data_batch=False,
    )
    got: dict = {}
    for r in counted.collect():
        k = (r["center"], r["context"])
        got[k] = got.get(k, 0) + r["cnt"]
    assert len(got) > 0 and got == dict(ref)
