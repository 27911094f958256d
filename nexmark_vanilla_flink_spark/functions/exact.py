"""Exact decimal arithmetic — the SUM/AVG half of the registry's output
discipline (plans/registry.py).

A double SUM depends on the order rows reach it, so two engines (or two
shuffles) disagree in the last ULP. Every summed double is cast to
DECIMAL(18,4) first; the partial/final decimal sum is associative, is
widened to DECIMAL(38,4) so it cannot overflow, and is cast to DOUBLE only
at the end. The DuckDB oracles spell the same casts out in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"
ACC = "decimal(38,4)"


def dec(c: str | Column) -> Column:
    """``c`` (a column name or expression) as DECIMAL(18,4)."""
    return (F.col(c) if isinstance(c, str) else c).cast(DEC)


def exact_sum(expr: Column) -> Column:
    """SUM of a decimal expression, widened to the DECIMAL(38,4)
    accumulator."""
    return F.sum(expr).cast(ACC)


def sum_dbl(col: str, alias: str) -> Column:
    """DOUBLE → DECIMAL(18,4) → SUM → DECIMAL(38,4) → DOUBLE."""
    return exact_sum(dec(col)).cast("double").alias(alias)


def avg_dbl(col: str, alias: str) -> Column:
    """The exact sum over the row count."""
    return (exact_sum(dec(col)).cast("double") / F.count(F.lit(1))).alias(alias)
