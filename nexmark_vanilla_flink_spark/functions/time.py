"""Engine-neutral time bucketing on epoch-nanosecond integers.

The reference keeps event time as epoch-millis longs everywhere
(beans/NewPersonEvent0.java:44); we keep epoch-nanos longs (the parquet
physical type) and derive tumbling-window starts with exact integer
arithmetic so the DuckDB oracle reproduces them bit-for-bit — no timestamp
rounding, timezone, or precision pitfalls. Spark's window()/session_window()
operators are still used wherever the *streaming* twin needs them; batch
oracle-checked plans bucket on integers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NS_PER_SEC = 1_000_000_000
HOUR_S = 3600
DAY_S = 86400
HOUR_NS = HOUR_S * NS_PER_SEC
DAY_NS = DAY_S * NS_PER_SEC


def bucket_start_s(ns_col: str, width_s: int) -> Column:
    """Tumbling-window start (epoch seconds) of the window containing ns_col.

    Equivalent DuckDB: (epoch_ns(ts) // (width_s*1e9)) * width_s
    """
    width_ns = width_s * NS_PER_SEC
    return F.expr(f"CAST(({ns_col} DIV {width_ns}) * {width_s} AS BIGINT)")


def epoch_s(ns_col: str) -> Column:
    """Epoch seconds (floor) of an epoch-nanos column. DuckDB: ts_ns//1e9."""
    return F.expr(f"CAST({ns_col} DIV {NS_PER_SEC} AS BIGINT)")
