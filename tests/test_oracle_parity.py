"""Every registered query with an oracle must hash-match DuckDB — the same
check the correctness driver runs at sf0.01, run here at sf0.001 for speed.
"""

import pytest
from pyspark.sql import functions as F

from nexmark_vanilla_flink_spark.plans import REGISTRY

from .oracle_utils import compare

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.spark(spark, sf_dir)
    ok, msg = compare(df, sf_dir, q.oracle)
    assert ok, f"{name}: {msg}"


def test_uncast_sum_oracle_fails_parity(spark, sf_dir):
    """Regression for the r4 driver fail this suite missed: DuckDB
    ``sum(BIGINT)`` yields HUGEINT (Arrow decimal128(38,0)) while Spark
    ``F.sum`` over a long yields BIGINT. The old ``fetchall()`` fetch path
    collapsed HUGEINT to a Python int and the divergence was invisible;
    the Arrow fetch must fail it, and the CAST form must pass."""
    df = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .groupBy()
        .agg(F.sum("r_regionkey").alias("s"))
    )
    ok, msg = compare(df, sf_dir, "SELECT sum(r_regionkey) AS s FROM region")
    assert not ok, "uncast sum() oracle must fail parity"
    assert "dtype mismatch" in msg or "value mismatch" in msg
    ok, msg = compare(
        df, sf_dir, "SELECT CAST(sum(r_regionkey) AS BIGINT) AS s FROM region"
    )
    assert ok, msg
