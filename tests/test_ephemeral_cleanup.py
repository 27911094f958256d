"""ADVICE r4 regressions: tmpfs scratch must not accumulate across a
process (ephemeral checkpoints removed eagerly, sink dirs at exit),
content-keyed caches must evict stale fingerprints, and a durable
append-mode replay must keep its output directory stable across resumes.
"""

import os
import re
import time
import types

import pytest
from pyspark.sql import functions as F

from nexmark_vanilla_flink_spark.sources.binary import prune_stale_cache
from nexmark_vanilla_flink_spark.streaming.runner import (
    _EPHEMERAL_DIRS,
    run_available_now,
    run_noop,
)


def _toy_stream(spark, tmp_path, n=20, subdir="in"):
    in_dir = str(tmp_path / subdir)
    spark.range(n).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("ts"),
    ).write.mode("overwrite").parquet(in_dir)
    static = spark.read.parquet(in_dir)
    return (
        spark.readStream.schema(static.schema)
        .parquet(in_dir)
        .withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("w_start_s"), "n")
    )


def test_ephemeral_checkpoint_removed_eagerly(spark, tmp_path):
    scratch_base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    # match only THIS query's checkpoint (a concurrent test process may be
    # running its own replays against the same tmpfs)
    qname = "eagerckpt"

    def _ckpts():
        return {
            d
            for d in os.listdir(scratch_base)
            if d.startswith(f"ckpt_{qname}_")
            and os.path.isdir(os.path.join(scratch_base, d))
        }

    sdf = _toy_stream(spark, tmp_path)
    before_tracked = set(_EPHEMERAL_DIRS)
    # delta-based: residue leaked by a PREVIOUS (killed) process on the
    # shared tmpfs is out of scope for an eager-cleanup assertion — the
    # r12 driver run was SIGKILLed mid-verify and its ckpt_eagerckpt_*
    # dir then failed every later same-box run of this test
    pre_existing = _ckpts()
    out = run_available_now(sdf, output_mode="append", name=qname)
    assert out.count() > 0
    # the scratch checkpoint is gone the moment the replay completes
    assert _ckpts() - pre_existing == set()
    # the sink out_dir stays (the returned frame reads it lazily) and is
    # registered for atexit removal
    created = [d for d in _EPHEMERAL_DIRS if d not in before_tracked]
    assert len(created) == 1 and os.path.isdir(created[0])
    assert os.path.basename(created[0]).startswith("out_")


def test_run_noop_finishes_and_discards_checkpoint(spark, tmp_path):
    """The discard sink shares the bounded runners' tail: it returns only
    once the replay has consumed every input row, and its scratch
    checkpoint is gone by then; a replay that outlives its timeout is
    stopped and raises instead of being handed back still running."""
    scratch_base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"

    def _ckpts():
        return {
            d
            for d in os.listdir(scratch_base)
            if d.startswith("ckpt_noop_")
            and os.path.isdir(os.path.join(scratch_base, d))
        }

    pre_existing = _ckpts()
    q = run_noop(_toy_stream(spark, tmp_path, n=20))
    assert not q.isActive and q.exception() is None
    assert sum(p["numInputRows"] for p in q.recentProgress) == 20
    assert _ckpts() - pre_existing == set()

    with pytest.raises(TimeoutError):
        run_noop(_toy_stream(spark, tmp_path, n=20, subdir="slow"), timeout_s=0.001)
    assert not spark.streams.active


def test_ephemeral_cleanup_survives_maintenance_race(spark, tmp_path):
    """VERDICT r12 task 1 (adversarial loop): the eager rmtree used to race
    Spark's ASYNC state-store maintenance thread, which can write a snapshot
    into the checkpoint's state/ tree after query termination and silently
    recreate the just-deleted dir. Crank the maintenance interval down to
    its floor so the task fires constantly, then run a STATEFUL replay 20x
    asserting zero ckpt_* residue after every single completion."""
    qname = "loopckpt"
    scratch_base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"

    def _ckpts():
        return {
            d
            for d in os.listdir(scratch_base)
            if d.startswith(f"ckpt_{qname}_")
            and os.path.isdir(os.path.join(scratch_base, d))
        }

    conf_key = "spark.sql.streaming.stateStore.maintenanceInterval"
    saved = spark.conf.get(conf_key, "60s")
    spark.conf.set(conf_key, "100ms")
    pre_existing = _ckpts()  # residue from a previous killed process
    try:
        for i in range(20):
            out = run_available_now(
                _toy_stream(spark, tmp_path), output_mode="complete", name=qname
            )
            assert out.count() > 0
            assert _ckpts() - pre_existing == set(), (
                f"ckpt residue after iteration {i}"
            )
    finally:
        spark.conf.set(conf_key, saved)


def test_surviving_checkpoint_warns_and_stays_registered(monkeypatch, tmp_path):
    """A checkpoint dir that outlives the bounded retry loop must not be
    silently forgotten: the discard warns with its path and keeps it in
    _EPHEMERAL_DIRS so the atexit sweep still removes it."""
    from nexmark_vanilla_flink_spark.streaming import runner

    path = str(tmp_path / "ckpt_residue_")
    os.makedirs(path)
    runner.track_ephemeral_dir(path)
    monkeypatch.setattr(runner.shutil, "rmtree", lambda *a, **k: None)
    try:
        with pytest.warns(RuntimeWarning, match=re.escape(path)):
            runner._discard_ephemeral_dir(path)
        assert path in _EPHEMERAL_DIRS
        assert os.path.isdir(path)
    finally:
        _EPHEMERAL_DIRS.remove(path)


class _RecordingJvm:
    """Stands in for ``spark._jvm``: any package path, class or field
    resolves to itself, so ``...state.StateStore$.MODULE$.unloadAll()``
    lands in ``unloadAll`` below."""

    def __init__(self):
        self.calls = []

    def __getattr__(self, name):
        return self

    def unloadAll(self):
        self.calls.append("unloadAll")

    def stopMaintenanceTaskWithoutLock(self):
        self.calls.append("stopMaintenanceTaskWithoutLock")


@pytest.mark.parametrize("active, stops", [([], 1), (["other-query"], 0)])
def test_state_store_stop_skipped_while_a_query_runs(tmp_path, active, stops):
    """Unloading the state store is JVM-global: discarding one replay's
    checkpoint must not unload the providers of another query that is
    still running."""
    from nexmark_vanilla_flink_spark.streaming import runner

    jvm = _RecordingJvm()
    streams = types.SimpleNamespace(active=active)
    spark = types.SimpleNamespace(streams=streams, _jvm=jvm)
    path = str(tmp_path / "ckpt_stub_")
    os.makedirs(path)
    runner._discard_ephemeral_dir(path, spark)
    assert jvm.calls == ["unloadAll", "stopMaintenanceTaskWithoutLock"] * stops
    assert not os.path.isdir(path)


def test_durable_append_resume_keeps_output(spark, tmp_path):
    """Before the fix, every run_available_now call wrote to a FRESH
    ephemeral out_dir even when resuming a durable checkpoint — a resumed
    replay silently dropped all previously committed output."""
    ckpt = str(tmp_path / "ckpt")
    sdf = _toy_stream(spark, tmp_path)
    first = run_available_now(sdf, output_mode="append", checkpoint_dir=ckpt)
    n1 = first.count()
    assert n1 > 0
    assert os.path.isdir(os.path.join(ckpt, "out"))
    # resume with no new data: the result must still cover the already
    # committed batches, not come back empty from a fresh directory
    again = run_available_now(
        _toy_stream(spark, tmp_path), output_mode="append", checkpoint_dir=ckpt
    )
    assert again.count() == n1


def test_durable_append_resume_appends_new_batches(spark, tmp_path):
    """Resume with NEW input: the second run must process only the new
    file (exactly-once from the recorded offsets) and the stable out dir
    must then cover BOTH runs' committed output."""
    ckpt = str(tmp_path / "ckpt2")
    in_dir = str(tmp_path / "in2")

    def _write(ids):
        spark.createDataFrame([(i,) for i in ids], "id long").select(
            "id",
            F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("ts"),
        ).write.mode("append").parquet(in_dir)

    def _stream():
        static = spark.read.parquet(in_dir)
        return (
            spark.readStream.schema(static.schema)
            .parquet(in_dir)
            .select("id", "ts")
        )

    _write(range(10))
    first = run_available_now(_stream(), "append", checkpoint_dir=ckpt)
    assert first.count() == 10
    _write(range(100, 105))
    second = run_available_now(_stream(), "append", checkpoint_dir=ckpt)
    got = sorted(r.id for r in second.collect())
    assert got == sorted(list(range(10)) + list(range(100, 105)))


def test_prune_stale_cache_evicts_only_same_sf(tmp_path):
    root = str(tmp_path / "cache")
    live = os.path.join(root, "sf0.001-123-456")
    stale = os.path.join(root, "sf0.001-111-222")
    other_sf = os.path.join(root, "sf0.1-999-888")
    fresh_stage = os.path.join(root, ".stage_abc")
    old_stage = os.path.join(root, ".stage_old")
    for d in (live, stale, other_sf, fresh_stage, old_stage):
        os.makedirs(d)
    os.utime(old_stage, (time.time() - 7200, time.time() - 7200))
    prune_stale_cache(root, "sf0.001", {"sf0.001-123-456"})
    assert os.path.isdir(live), "live fingerprint must survive"
    assert not os.path.isdir(stale), "stale fingerprint must be evicted"
    assert os.path.isdir(other_sf), "other-SF entries are live elsewhere"
    assert os.path.isdir(fresh_stage), "fresh stage may be a concurrent build"
    assert not os.path.isdir(old_stage), "abandoned stage must be evicted"
