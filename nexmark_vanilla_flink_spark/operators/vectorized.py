"""Arrow-batched vectorized kernels (pandas_udf factories), and the Arrow
path for shipping driver-side rows into a plan.

NOTE: deliberately NO ``from __future__ import annotations`` here —
``pandas_udf`` resolves the type hints at decoration time, and the future
import would turn them into strings that cannot be resolved against this
module's namespace.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """Driver-side rows (tuples in the column order of the ``ddl`` schema)
    as a DataFrame through Arrow. ``createDataFrame(list)`` pickles the
    rows into a PythonRDD, so reading them back starts the Python worker
    daemon just to move a few hundred rows; an Arrow table lands as a
    LocalRelation that the JVM reads itself."""
    schema = StructType.fromDDL(ddl)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.table({f.name: list(c) for f, c in zip(schema.fields, columns)})
    return spark.createDataFrame(table, schema=schema)


def make_srp_bucket(w_mat: np.ndarray, pow2: np.ndarray):
    """Signed-random-projection bucketizer: embedding array column →
    bucket id via one (batch × dims) · (dims × planes) matmul per Arrow
    batch — the dense-linear-algebra kernel where numpy beats any SQL
    expression tree (see srp_lsh_buckets' measured comparison)."""

    @F.pandas_udf("long")
    def srp_bucket(col: pd.Series) -> pd.Series:
        m = np.asarray(col.tolist(), dtype=np.float64)  # (batch, dims)
        dots = m @ w_mat.T  # (batch, planes)
        return pd.Series(((dots > 0) * pow2).sum(axis=1).astype(np.int64))

    return srp_bucket
