"""transformWithStateInPandas processors — Spark 4's arbitrary-stateful API,
the direct modern counterpart of the reference's KeyedProcessFunction surface
(SURVEY.md §2.6: ValueState/ListState/MapState → transformWithStateInPandas):

  HotItemsProcessor ~ NexmarkQuery5.Aggregator (NexmarkQuery5.java:201-251):
    ValueState accumulator {max, count, last_ts} per (item, window) with an
    event-time timer at the window end — register → accumulate → onTimer
    emit + clear, exactly the reference's :240/:246-250 lifecycle.

The declarative plans remain the default; this is the exact-replica tier
alongside streaming/stateful.py (applyInPandasWithState), giving the engine
both stateful APIs the platform offers.

ENVIRONMENT GATE: transformWithStateInPandas's Python worker requires
``google.protobuf``, which is not installed in this test container (and
installs are out of scope) — ``tws_available()`` reports whether the API can
run; tests skip when it can't. The applyInPandasWithState replicas
(streaming/stateful.py) are the runnable tier everywhere.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .stateful import HOT_ITEMS_OUTPUT, hot_items_acc, hot_items_keyed, hot_items_row


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf in the Python workers."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


_ACC_SCHEMA = StructType(
    [
        StructField("max_bid", DoubleType()),
        StructField("bid_count", LongType()),
        StructField("last_ts_ns", LongType()),
    ]
)


class HotItemsProcessor(StatefulProcessor):
    """Per-(item, window) accumulator with event-time timer emission; the
    fold and the emitted row are streaming/stateful.py's, shared with
    ``hot_items_stateful``."""

    def __init__(self, window_s: int = 3600):
        self._window_s = window_s

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._acc = handle.getValueState("acc", _ACC_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        w_start_s = int(key[1])
        self._acc.update(hot_items_acc(self._acc.get() if self._acc.exists() else None, rows))
        # the reference's registerEventTimeTimer at the window end, clamped
        # above the current watermark for historical replay
        w_end_ms = (w_start_s + self._window_s) * 1000
        self._handle.registerTimer(
            max(w_end_ms, timerValues.getCurrentWatermarkInMs() + 1)
        )
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        if not self._acc.exists():
            return iter(())
        row = hot_items_row(int(key[0]), int(key[1]), self._acc.get())
        self._acc.clear()  # onTimer emit + state removal (reference :246-250)
        return iter([row])

    def close(self) -> None:
        pass


def hot_items_tws(bids: DataFrame, window_s: int = 3600) -> DataFrame:
    """Q5 on transformWithStateInPandas (ValueState + event-time timers)."""
    return hot_items_keyed(bids, window_s).transformWithStateInPandas(
        statefulProcessor=HotItemsProcessor(window_s),
        outputStructType=HOT_ITEMS_OUTPUT,
        outputMode="append",
        timeMode="eventTime",
    )
