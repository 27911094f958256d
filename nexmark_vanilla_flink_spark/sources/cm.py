"""CM (cluster-monitoring) text trace source — the Spark twin of the
reference's mmap'ed whitespace-text source (S8):

  cm/CM.java:185-229  — mmaps the trace file, splits the byte range across
                        subtasks, reads line by line
  cm/CmRecord.java:23-42 — parses 12 whitespace-separated fields

Spark's text datasource already does the split-by-range parallel read; the
parse is a single split() projection (no UDF). ``write_cm_text`` produces a
trace file from any DataFrame with the CM columns — used by tests to
round-trip the format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.exact import sum_dbl

# CmRecord.java:5-21 field order
CM_FIELDS = [
    ("ts_ms", LongType()),
    ("job_id", LongType()),
    ("task_id", LongType()),
    ("machine_id", LongType()),
    ("event_type", IntegerType()),
    ("user_id", IntegerType()),
    ("category", IntegerType()),
    ("priority", IntegerType()),
    ("cpu", FloatType()),
    ("ram", FloatType()),
    ("disk", FloatType()),
    ("constraints", IntegerType()),
]

CM_SCHEMA = StructType([StructField(n, t) for n, t in CM_FIELDS])


def read_cm_text(spark: SparkSession, path: str) -> DataFrame:
    """Parse a whitespace-separated CM trace into typed columns
    (CmRecord.java:23-42's split-and-parse, as one projection)."""
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    cols = [
        parts.getItem(i).cast(t).alias(n) for i, (n, t) in enumerate(CM_FIELDS)
    ]
    return (
        lines.select(*cols)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    )


def write_cm_text(df: DataFrame, path: str) -> None:
    """Serialize CM-schema rows to the reference's text format."""
    line = F.concat_ws(" ", *[F.col(n).cast("string") for n, _ in CM_FIELDS])
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def cm_windowed_load(cm: DataFrame, window_s: int = 2) -> DataFrame:
    """The CM query itself [A4 — cm/CM.java:272-303]: keyBy(jobId) →
    tumbling event-time window → sum(cpu), as one hash aggregation."""
    return (
        cm.groupBy(
            F.col("job_id"),
            F.expr(
                f"CAST(ts_ms DIV {window_s * 1000} AS BIGINT) * {window_s}"
            ).alias("w_start_s"),
        )
        .agg(
            sum_dbl("cpu", "total_cpu"),
            F.count(F.lit(1)).alias("n_records"),
        )
    )
