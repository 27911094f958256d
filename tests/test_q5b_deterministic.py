"""Deterministic pin of the Q5b processing-time flush logic (A3, reference
NexmarkQuery5b.java:204: accumulate per key, onTimer(now+10s) → emit+clear).

The wall-clock timer makes the streaming query nondeterministic by design, so
this drives the SAME applyInPandasWithState function (``q5b_flush_fn``) with
a virtual clock — a fake GroupState whose hasTimedOut flag *is* the clock —
making the accumulate → re-arm → flush → clear cycle assertable, batch by batch."""

import pandas as pd

from nexmark_vanilla_flink_spark.streaming import stateful


class FakeState:
    """Virtual-clock stand-in for pyspark's GroupState: the test decides when
    the processing-time timeout fires."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        assert self._value is not None
        return self._value

    def update(self, value):
        self._value = tuple(value)

    def remove(self):
        self._value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _batch(bids, ts):
    return pd.DataFrame({"bid": bids, "b_ts_ns": ts})


def test_accumulates_and_arms_10s_timer():
    fn = stateful.q5b_flush_fn(10_000)
    st = FakeState()
    out = list(fn((7,), iter([_batch([3.0, 9.0], [5_000_000_000, 6_000_000_000])]), st))
    assert out == []  # nothing emitted before the timer fires
    max_bid, cnt, last_ts, _ = st.get
    assert (max_bid, cnt, last_ts) == (9.0, 2, 6_000_000_000)
    assert st.timeout_ms == 10_000  # NexmarkQuery5b.java:204 — now + 10 s


def test_second_batch_merges_into_existing_state():
    fn = stateful.q5b_flush_fn(10_000)
    st = FakeState()
    list(fn((7,), iter([_batch([3.0], [5_000_000_000])]), st))
    list(fn((7,), iter([_batch([2.0, 8.0], [9_000_000_000, 4_000_000_000])]), st))
    max_bid, cnt, last_ts, _ = st.get
    assert (max_bid, cnt, last_ts) == (8.0, 3, 9_000_000_000)


def test_timeout_flushes_accumulated_state_and_clears():
    fn = stateful.q5b_flush_fn(10_000)
    st = FakeState()
    list(fn((7,), iter([_batch([3.0, 9.0], [5_000_000_000, 6_000_000_000])]), st))
    st.hasTimedOut = True
    out = list(fn((7,), iter([]), st))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["auction_id"] == 7
    assert row["max_bid"] == 9.0
    assert row["bid_count"] == 2
    assert row["last_bid_ts_s"] == 6  # ns → s floor
    assert st.removed  # state cleared after flush (emit-and-clear semantics)


def test_flush_then_new_bids_start_fresh_window():
    fn = stateful.q5b_flush_fn(10_000)
    st = FakeState()
    list(fn((7,), iter([_batch([9.0], [6_000_000_000])]), st))
    st.hasTimedOut = True
    list(fn((7,), iter([]), st))
    st = FakeState()  # Spark recreates state after remove()
    list(fn((7,), iter([_batch([1.0], [7_000_000_000])]), st))
    max_bid, cnt, last_ts, _ = st.get
    assert (max_bid, cnt, last_ts) == (1.0, 1, 7_000_000_000)


def test_custom_flush_interval_propagates():
    fn = stateful.q5b_flush_fn(2_500)
    st = FakeState()
    list(fn((1,), iter([_batch([1.0], [1_000_000_000])]), st))
    assert st.timeout_ms == 2_500
