"""bench.py times registry entries through perfbench's Tracer: a streaming
replay's kept sample gets its micro-batch ``durationMs`` split and
state-commit ms as ``stream_layers``, and a lazy batch entry timed right
after it gets none (its window holds no micro-batch)."""

import pytest

from bench import stream_layers, time_entry
from nexmark_vanilla_flink_spark.streaming import runner
from perfbench.tracing import Tracer

REPLAY = "q8_join_stream_replay"
BATCH = "qx_winning_bids"


@pytest.fixture
def tracer(spark, monkeypatch):
    # the tracer wraps runner.run_available_now; undo that for later tests
    monkeypatch.setattr(runner, "run_available_now", runner.run_available_now)
    tr = Tracer(spark, enabled=True, event_dir=None)
    yield tr
    spark.streams.removeListener(tr.capture)
    spark.sparkContext.setJobGroup(None, None)


def test_replay_gets_stream_layers_and_batch_entry_none(spark, sf_dir, tracer):
    wall = time_entry(spark, sf_dir, REPLAY, tracer)
    time_entry(spark, sf_dir, BATCH, tracer)
    tracer.capture.settle()  # progress events reach the listener async
    layers = stream_layers(tracer)
    assert set(layers) == {REPLAY}
    rec = layers[REPLAY]
    assert rec["batches"] >= 1
    assert rec["addBatch"] > 0
    assert rec["triggerExecution"] <= wall * 1000.0
    assert rec["state_commit_ms"] >= 0
