"""Storage-layout and shuffle-diagnostics operators, round 6 — the
engine-operations tier of a 100 TB deployment (no reference counterpart;
the reference's layout story stops at Flink key-group hashing,
`common/NexmarkCommon.java:29-59`):

  * ``bucketed_colocated_join`` — writes both fact tables bucketed AND
    sorted by the join key, then joins the bucketed reads. The join
    itself runs with ZERO exchange and ZERO sort (the physical-plan
    property `tests/test_layout.py` pins): bucket pruning replaces the
    two fact-sized shuffles a cold orders⋈lineitem join pays. This is
    the canonical Spark answer to "we join these two 50 TB tables every
    hour" — pay the layout once at write time, join for free forever.
  * ``key_skew_profile`` — per join/aggregation key column: row count,
    distinct keys, the heaviest key's share, top-10 share, and the
    max/mean skew factor. The pre-flight diagnostic that decides
    between a plain hash join, AQE skew handling, and explicit salting
    (`hot_items_salted_join`).

Both follow registry.py's determinism discipline: exact integer counts,
DECIMAL-path money sums, round() only at the edge, identical aliases in
both engines.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, sum_dbl
from ..functions.time import DAY_NS
from ..operators.bucketing import write_bucketed
from ..sources.tables import load_table
from .registry import register
from .tpch import disc_price

# ---------------------------------------------------------------------------
# bucketed_colocated_join — pay the shuffle at write time, join exchange-free
# ---------------------------------------------------------------------------

_BKT_N = 8
# Layout root: overridable (ADVICE r6), and disambiguated per PROCESS so two
# concurrent runs over the same dataset (parallel CI jobs on one host) never
# overwrite each other's external bucketed tables / partition directories
# mid-read. Within one process the path is stable, which is what makes the
# writes idempotent across bench timing passes; the whole subtree is
# registered for atexit removal so runs don't accumulate in /tmp.
_BKT_ROOT = os.path.join(
    os.environ.get("SPARK_GRAFT_LAYOUT_ROOT", "/tmp/spark_graft_layout"),
    f"pid{os.getpid()}_{uuid.uuid4().hex[:6]}",
)


def _layout_root() -> str:
    from ..streaming.runner import _EPHEMERAL_DIRS, track_ephemeral_dir

    if _BKT_ROOT not in _EPHEMERAL_DIRS:
        track_ephemeral_dir(_BKT_ROOT)
    return _BKT_ROOT

# The oracle sees the same rows the bucketed tables were written from, so
# plain SQL over the raw views is the correctness twin — bucketing is a
# physical-layout property, invisible to the result.
_BKT_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * CAST(1 - l.l_discount AS DECIMAL(18,4)))
            AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""


@register(
    "bucketed_colocated_join",
    oracle=_BKT_ORACLE,
    tags=("layout", "sink", "eager"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via bucketed tables: orders and lineitem
    are written `bucketBy(8, orderkey).sortBy(orderkey)` (external parquet
    tables — the write IS the shuffle, paid once), then the join of the
    bucketed reads needs no exchange and no sort — Catalyst sees both
    sides hash-distributed and ordered on the join key and plans a
    SortMergeJoin directly over the bucketed scans (merge hint pins SMJ so
    a small SF doesn't broadcast away the property under test; at real
    scale neither side is broadcastable anyway). The only exchange in the
    whole plan is the few-row priority rollup. At 100 TB this converts
    every recurring orders⋈lineitem join from two fact-wide shuffles into
    zero — the textbook bucketing trade (write amplification once vs
    shuffle per query), and the same property co-locating Flink's keyed
    state achieves in the reference (NexmarkCommon.java:29-59 ID strides).
    """
    # since Spark 3.0 the sorted-bucket ordering is only surfaced to the
    # planner under this conf (it needs a file listing at planning time to
    # prove one-file-per-bucket); without it the join stays exchange-free
    # but re-sorts each bucket. We guarantee one file per bucket below, so
    # the listing is cheap and the sort elimination is sound. The conf
    # cannot be save/restored around this function (ADVICE r6): the
    # returned frame is LAZY and physical planning reads the conf at
    # action time, so a restore here would silently undo the property
    # under test. It is instead an engine-wide default set at session
    # construction (session.py, alongside the other engine confs) — this
    # set only matters under a VANILLA session (the correctness driver's),
    # where it is intentionally session-scoped: it affects only
    # one-file-per-bucket bucketed scans, and the only bucketed tables in
    # this engine are the ones written here.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    names = {}
    for tbl, jk in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"{tbl}_bkt_{key}"
        # idempotent per (sf_dir): overwrite both catalog entry and files;
        # one file per bucket so the planner trusts the sortBy order and
        # the join needs no re-sort (see operators/bucketing.py)
        write_bucketed(
            load_table(spark, sf_dir, tbl),
            name,
            jk,
            n_buckets=_BKT_N,
            path=f"{_layout_root()}/{key}/{tbl}",
            single_file_per_bucket=True,
        )
        names[tbl] = name
    o = spark.table(names["orders"])
    l = spark.table(names["lineitem"])
    return (
        o.hint("merge")
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(disc_price()).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# key_skew_profile — the decide-before-you-shuffle diagnostic
# ---------------------------------------------------------------------------

_SKEW_RELS = (
    ("events.user_id", "events", "user_id"),
    ("events.event_type", "events", "event_type"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
)


def _skew_sql(rel: str, table: str, col: str) -> str:
    return f"""
SELECT '{rel}' AS rel,
       CAST(s.n_rows AS BIGINT) AS n_rows,
       CAST(s.n_keys AS BIGINT) AS n_keys,
       CAST(s.max_rows AS BIGINT) AS max_rows,
       round(CAST(s.max_rows AS DOUBLE) / s.n_rows, 6) AS top1_share,
       round(CAST(t.top10_rows AS DOUBLE) / s.n_rows, 6) AS top10_share,
       round(CAST(s.max_rows AS DOUBLE) * s.n_keys / s.n_rows, 4) AS skew_factor
FROM (
  SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys, max(c) AS max_rows
  FROM (SELECT {col} AS k, count(*) AS c FROM {table} GROUP BY 1)
) s, (
  SELECT CAST(sum(c) AS BIGINT) AS top10_rows FROM (
    SELECT c FROM (SELECT {col} AS k, count(*) AS c FROM {table} GROUP BY 1)
    ORDER BY c DESC, k LIMIT 10
  )
) t
"""


_SKEW_ORACLE = "\nUNION ALL\n".join(_skew_sql(*r) for r in _SKEW_RELS)


@register(
    "key_skew_profile",
    oracle=_SKEW_ORACLE,
    tags=("layout", "diagnostics"),
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution profile for the hot join/agg keys: total rows,
    distinct keys, heaviest-key share, top-10 share, and max/mean skew
    factor. skew_factor ~1 means uniform (plain hash partitioning is
    fine); >> 1 flags the keys that need AQE skew splitting or salting
    before a 1000-executor shuffle stalls on one straggler partition.
    Each profile is one groupBy(key) + a scalar agg + a distributed
    top-10 (TakeOrdered — no driver-side key list); per-key counts never
    leave the executors."""
    out = None
    for rel, table, col in _SKEW_RELS:
        df = load_table(spark, sf_dir, table)
        c = df.groupBy(F.col(col).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        stats = c.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").alias("max_rows"),
        )
        top10 = (
            c.orderBy(F.desc("c"), F.asc("k"))
            .limit(10)
            .agg(F.sum("c").cast("long").alias("top10_rows"))
        )
        row = stats.crossJoin(F.broadcast(top10)).select(
            F.lit(rel).alias("rel"),
            "n_rows",
            "n_keys",
            "max_rows",
            F.round(F.col("max_rows").cast("double") / F.col("n_rows"), 6).alias(
                "top1_share"
            ),
            F.round(
                F.col("top10_rows").cast("double") / F.col("n_rows"), 6
            ).alias("top10_share"),
            F.round(
                F.col("max_rows").cast("double") * F.col("n_keys") / F.col("n_rows"),
                4,
            ).alias("skew_factor"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# partitioned_pruned_scan — directory partitioning as the scan-time filter
# ---------------------------------------------------------------------------

# The oracle filters the raw view — partitioning is layout, not semantics.
_PART_ORACLE = """
SELECT (epoch_ns(ts) // 86400000000000) AS day,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
           AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


@register(
    "partitioned_pruned_scan",
    oracle=_PART_ORACLE,
    tags=("layout", "sink", "eager"),
)
def partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style directory partitioning + partition pruning: events are
    written `partitionBy(event_type)` once, and the purchase-only rollup
    then reads ONLY the event_type=purchase directory — the filter is
    resolved against directory names at planning time (PartitionFilters
    in the scan, pinned by tests/test_layout.py), so the other four
    event types cost zero I/O. The partner op to
    `bucketed_colocated_join`: bucketing pre-pays the join shuffle,
    partitioning pre-pays the selective filter — at 100 TB with a
    low-cardinality filter column this is the difference between
    scanning 20 TB and scanning 4 TB. The day rollup keeps nano-exact
    integer day buckets (epoch-ns DIV 86400e9) per registry discipline."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{_layout_root()}/{key}/events_by_type"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts_ns"
    )
    ev.write.mode("overwrite").format("parquet").partitionBy(
        "event_type"
    ).save(path)
    part = spark.read.parquet(path)
    return (
        part.filter(F.col("event_type") == "purchase")
        # integer DIV, not `/`: double division loses exactness above 2^53
        # and epoch-nanos live there
        .groupBy(F.expr(f"ts_ns DIV {DAY_NS}").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            sum_dbl("value", "total_value"),
        )
    )
