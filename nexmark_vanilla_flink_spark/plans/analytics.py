"""Relational surface beyond the reference: the reference has no batch
algebra at all (SURVEY.md §2.5 — no distinct agg, rollup, ranking, top-k),
but a Spark engine exposes them natively; these queries pin that surface
with oracles so the capability is demonstrated AND regression-locked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import sum_dbl
from ..functions.time import DAY_NS
from ..sources.tables import load_table, load_tables
from .registry import register


@register(
    "orders_rollup",
    oracle="""
SELECT o_orderstatus,
       o_orderpriority,
       count(*) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
    tags=("analytics", "rollup"),
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (status → priority → grand total) —
    one pass, Spark expands the grouping sets internally."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        sum_dbl("o_totalprice", "sum_total"),
    )


@register(
    "hot_items_salted_join",
    oracle="""
WITH ev AS (
  SELECT TRY_CAST(regexp_extract(props, ':\\s*([0-9]+)', 1) AS BIGINT) AS item_id,
         user_id AS bidder_id, value AS bid
  FROM events WHERE event_type = 'purchase'
),
dim AS (
  SELECT i AS item_id, 'tier_' || CAST(i % 5 AS VARCHAR) AS item_tier
  FROM range(0, 100) t(i)
)
SELECT e.item_id, d.item_tier,
       count(*) AS n_bids,
       CAST(CAST(sum(CAST(e.bid AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
         AS sum_bid
FROM ev e JOIN dim d ON e.item_id = d.item_id
GROUP BY 1, 2
""",
    tags=("analytics", "skew", "join"),
)
def hot_items_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew-handling join under the correctness gate: bids (the
    Nexmark hot-key side — 15% of traffic on 1% of keys) joined to an item
    dimension through operators/skew.py::salted_join, then aggregated per
    (item, tier). Salting scatters each hot key over 16 sub-keys and
    replicates the 100-row dimension 16× — equivalent rows to the plain
    join (the oracle IS the plain join), ~16× better balance on the hot
    partitions when AQE's runtime skew split isn't enough. The aggregate
    collapses the salt, so the output is bit-identical however rows were
    routed."""
    from pyspark.sql import functions as FF

    from ..operators.skew import salted_join
    from ..sources.tables import nexmark_streams

    bids = nexmark_streams(spark, sf_dir)["bids"].select(
        "item_id", "bidder_id", "bid"
    )
    dim = spark.range(0, 100).select(
        FF.col("id").alias("item_id"),
        FF.concat(FF.lit("tier_"), (FF.col("id") % 5).cast("string")).alias(
            "item_tier"
        ),
    )
    joined = salted_join(bids, dim, on="item_id", salt=16)
    return joined.groupBy("item_id", "item_tier").agg(
        FF.count(FF.lit(1)).alias("n_bids"),
        sum_dbl("bid", "sum_bid"),
    )


@register(
    "events_cube",
    oracle="""
SELECT event_type,
       (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY CUBE(event_type, dow)
""",
    tags=("analytics", "cube"),
)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, day-of-week): all four grouping sets in
    one pass — completes the grouping-sets surface next to orders_rollup.
    Spark expands the sets map-side and the partial hash aggregate collapses
    them before the single shuffle, the same plan a 100 TB OLAP rollup
    wants. dow is pure integer arithmetic (epoch day 0 = Thursday → +4)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("dow", F.expr(f"(ts_ns DIV {DAY_NS} + 4) % 7"))
        .cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_dbl("value", "sum_value"),
        )
    )


@register(
    "top_customers_per_nation",
    oracle="""
SELECT n_name, c_custkey, c_acctbal, rnk FROM (
  SELECT n.n_name, c.c_custkey, c.c_acctbal,
         row_number() OVER (
           PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey
         ) AS rnk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
WHERE rnk <= 3
""",
    tags=("analytics", "window-function", "topk"),
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: top-3 customers by balance per nation
    (deterministic tie-break on key). The rank partitions by the join key, so
    the sort is per-nation, never global."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    j = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "c_acctbal", "rnk")
    )


@register(
    "nation_distinct_segments",
    oracle="""
SELECT n.n_name,
       count(DISTINCT c.c_mktsegment) AS n_segments,
       count(*) AS n_customers,
       CAST(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
""",
    tags=("analytics", "distinct-agg"),
)
def nation_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (two-phase expand+agg under the hood) mixed with
    plain aggregates in one pass."""
    t = load_tables(spark, sf_dir, ("customer", "nation"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count(F.lit(1)).alias("n_customers"),
            sum_dbl("c_acctbal", "sum_acctbal"),
        )
    )


@register(
    "events_semi_anti_join",
    oracle="""
SELECT kind, n FROM (
  SELECT 'with_purchases' AS kind, count(*) AS n FROM (
    SELECT DISTINCT user_id FROM events e1
    WHERE EXISTS (SELECT 1 FROM events e2
                  WHERE e2.user_id = e1.user_id AND e2.event_type = 'purchase')
  ) t1
  UNION ALL
  SELECT 'never_purchased' AS kind, count(*) AS n FROM (
    SELECT DISTINCT user_id FROM events e1
    WHERE NOT EXISTS (SELECT 1 FROM events e2
                      WHERE e2.user_id = e1.user_id AND e2.event_type = 'purchase')
  ) t2
) u
""",
    tags=("analytics", "semi-join", "anti-join"),
)
def events_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi and left-anti joins (absent from the reference's surface):
    users who did / never did purchase."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    semi = users.join(buyers, "user_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("with_purchases").alias("kind"), "n")
    anti = users.join(buyers, "user_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("never_purchased").alias("kind"), "n")
    return semi.unionByName(anti)


@register(
    "approx_user_stats",
    # Sketch VALUES are engine-specific, so they can't hash-match DuckDB —
    # but sketch ACCURACY can: the entry emits exact columns plus
    # Spark-computed error-bound verdicts, and the oracle asserts the
    # verdicts are TRUE. A sketch drifting outside its configured error
    # now fails the driver's hash gate (VERDICT r5 task 4 — this was the
    # registry's only ungated entry).
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS users_within_bound,
       TRUE AS median_within_bound
FROM events GROUP BY event_type
""",
    tags=("analytics", "approximate", "sketch"),
)
def approx_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL++ distinct counts, quantile sketches) —
    the sketch surface a 100 TB profiler actually uses: fixed-size state per
    group regardless of cardinality. Sketch values are engine-specific, so
    the driver-gated output is (exact n, error-bound verdicts): the HLL++
    user count must land within 3·rsd of the exact distinct count and the
    approximate median inside the exact p40–p60 band — both booleans
    computed IN the Spark plan, TRUE-asserted by the oracle.

    Deliberately two aggregations joined on event_type: mixing an exact
    countDistinct into the sketch agg forces the distinct-rewrite Expand
    plan, which drags the quantile sketch buffers through extra shuffle
    phases (measured 18× slower). The exact band uses sort-based
    percentile() — that is the AUDIT side (per-group buffering); a
    production 100 TB profiler ships only the sketch agg and audits on a
    sample."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_median_value"),
        F.count(F.lit(1)).alias("n"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("percentile(value, array(0.40D, 0.60D))").alias("band"),
    )
    return sk.join(ex, "event_type").select(
        "event_type",
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(2.0), F.lit(0.06) * F.col("exact_users"))
        ).alias("users_within_bound"),
        F.col("approx_median_value")
        .between(F.element_at("band", 1), F.element_at("band", 2))
        .alias("median_within_bound"),
    )


@register(
    "user_event_gaps",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
         lag(epoch_ns(ts) // 1000) OVER (
           PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
         ) AS prev_us
  FROM events
)
SELECT user_id,
       count(*) AS n_gaps,
       CAST(min(us - prev_us) AS BIGINT) AS min_gap_us,
       CAST(max(us - prev_us) AS BIGINT) AS max_gap_us,
       CAST(sum(us - prev_us) AS BIGINT) AS total_gap_us
FROM seq WHERE prev_us IS NOT NULL
GROUP BY 1
""",
    tags=("analytics", "window-function", "lag"),
)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap analysis via lag(): per user, the min/max/total time
    between consecutive events — the sessionization primitive, partitioned
    per user so the sort never goes global."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts_ns DIV 1000"), F.col("event_id")
    )
    seq = ev.select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("us"),
        F.lag(F.expr("ts_ns DIV 1000")).over(w).alias("prev_us"),
    ).filter(F.col("prev_us").isNotNull())
    gap = F.col("us") - F.col("prev_us")
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min(gap).cast("long").alias("min_gap_us"),
        F.max(gap).cast("long").alias("max_gap_us"),
        F.sum(gap).cast("long").alias("total_gap_us"),
    )


@register(
    "user_event_pivot",
    oracle="""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events GROUP BY 1
""",
    tags=("analytics", "pivot"),
)
def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/crosstab: one row per user, one column per event type — via
    Spark's native pivot with an explicit value list (no extra distinct-scan
    at planning time, which matters when the fact table is 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    for k in kinds:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(0)).cast("long"))
    return out


@register(
    "events_variant_props",
    oracle="""
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS n,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY 1, 2
""",
    tags=("analytics", "json", "variant"),
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: the events ``props`` JSON column parsed through
    Spark 4's VariantType (``parse_json`` once, typed ``variant_get`` path
    extraction — the open-ended-schema ingestion surface a training-data
    pipeline needs for raw crawl metadata). Aggregates per (event_type,
    k%10) so the oracle exercises the full extract→cast→group path.

    Scale: variant parse is a per-row codegen projection in the scan stage
    (no shuffle added); the binary variant encoding is columnar-friendly and
    pushes schema resolution to read time instead of ingest time."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# dq_expectation_audit — declarative data-quality expectations over the lake
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
WITH ev AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (value < 0 OR value > 400) AS BIGINT) AS v_range,
         CAST(count(*) FILTER (json_extract(props, '$.k') IS NULL) AS BIGINT)
           AS v_props
  FROM events
),
doc AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (n_chars < 50) AS BIGINT) AS v_short,
         CAST(count(*) FILTER (n_chars <> length(text)) AS BIGINT) AS v_len
  FROM documents
),
cust AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (c_acctbal < 0) AS BIGINT) AS v_neg
  FROM customer
),
ofk AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS v
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
lfk AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT) AS v
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT table_name, rule, n_checked, n_violations,
       CAST(n_violations * 1000000 // n_checked AS BIGINT) AS viol_ppm
FROM (
  SELECT 'events' AS table_name, 'value_range_0_400' AS rule,
         n AS n_checked, v_range AS n_violations FROM ev
  UNION ALL
  SELECT 'events', 'props_k_present', n, v_props FROM ev
  UNION ALL
  SELECT 'documents', 'min_chars_50', n, v_short FROM doc
  UNION ALL
  SELECT 'documents', 'text_len_consistent', n, v_len FROM doc
  UNION ALL
  SELECT 'customer', 'nonneg_acctbal', n, v_neg FROM cust
  UNION ALL
  SELECT 'orders', 'fk_customer', n, v FROM ofk
  UNION ALL
  SELECT 'lineitem', 'fk_orders', n, v FROM lfk
)
"""


@register(
    "dq_expectation_audit",
    oracle=_DQ_ORACLE,
    tags=("analytics", "data-quality", "audit"),
)
def dq_expectation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation audit — the Great-
    Expectations/Deequ-class gate a training-data lake runs before a
    snapshot is blessed: range expectations (event values in [0, 400]),
    semi-structured presence (props JSON carries '$.k'), derived-column
    consistency (documents.n_chars equals length(text)), domain rules
    (non-negative balances), and referential integrity (orders→customer,
    lineitem→orders orphans). One row per (table, rule) with exact
    violation counts and fixed-point ppm rates.

    Scale: every per-table rule family is computed in ONE scan of that
    table as conditional aggregates (count + count_if per rule), then
    unpivoted with stack() — the audit adds zero shuffles beyond the
    single-row partial-agg exchanges. The FK orphan checks are
    hash-equi left joins on the key columns only (column-pruned probe;
    no payload crosses the wire) collapsing straight into a count — at
    100 TB each audit rule costs exactly its scan plus a keys-only
    join, and rule families share scans."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    ev_a = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("value") < 0) | (F.col("value") > 400), 1).otherwise(0)
        ).alias("v_range"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("v_props"),
    ).selectExpr(
        "stack(2, 'value_range_0_400', v_range, 'props_k_present', v_props)"
        " AS (rule, n_violations)",
        "'events' AS table_name",
        "n AS n_checked",
    )
    doc = load_table(spark, sf_dir, "documents")
    doc_a = doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_chars") < 50, 1).otherwise(0)).alias("v_short"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("v_len"),
    ).selectExpr(
        "stack(2, 'min_chars_50', v_short, 'text_len_consistent', v_len)"
        " AS (rule, n_violations)",
        "'documents' AS table_name",
        "n AS n_checked",
    )
    cust = load_table(spark, sf_dir, "customer")
    cust_a = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias("v_neg"),
    ).selectExpr(
        "'nonneg_acctbal' AS rule",
        "v_neg AS n_violations",
        "'customer' AS table_name",
        "n AS n_checked",
    )
    orders = load_table(spark, sf_dir, "orders")
    ofk = (
        orders.select("o_custkey")
        .join(
            cust.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias(
                "v"
            ),
        )
        .selectExpr(
            "'fk_customer' AS rule",
            "v AS n_violations",
            "'orders' AS table_name",
            "n AS n_checked",
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    lfk = (
        li.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias(
                "v"
            ),
        )
        .selectExpr(
            "'fk_orders' AS rule",
            "v AS n_violations",
            "'lineitem' AS table_name",
            "n AS n_checked",
        )
    )
    out = ev_a
    for part in (doc_a, cust_a, ofk, lfk):
        out = out.unionByName(part)
    return out.select(
        "table_name",
        "rule",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        F.expr("CAST(n_violations * 1000000 DIV n_checked AS BIGINT)").alias(
            "viol_ppm"
        ),
    )
