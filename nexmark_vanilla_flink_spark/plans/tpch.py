"""Batch-relational queries over the TPC-H-ish testdata tables.

The reference has no SQL/batch layer at all (SURVEY.md §2.5: "No distinct
aggregation … exists anywhere in the reference") — Spark gives us the full
relational surface for free, and these queries prove the engine exercises it
the way a 100 TB deployment would: multi-way joins with broadcast of the
small dimensions, decimal-exact aggregation, filter pushdown to the parquet
scan, AQE-coalesced shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.exact import dec, exact_sum, sum_dbl
from ..sources.tables import load_tables
from .registry import register


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), decimal-exact — TPC-H's
    discounted price, the revenue every volume query sums."""
    return dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))


@register(
    "tpch_q1_pricing_summary",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-30 00:00:00'
GROUP BY 1, 2
""",
    tags=("tpch", "agg"),
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan-heavy single aggregation with
    decimal-exact sums and a pushed-down date filter (cutoff 1999-09-30)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # type-matched literal (TIMESTAMP vs TIMESTAMP_NTZ) so the predicate
    # pushes down to the parquet scan instead of wrapping the column in casts
    ship_type = dict(li.dtypes)["l_shipdate"]
    cutoff = F.expr(f"CAST('2000-09-30 00:00:00' AS {ship_type})")
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_dbl("l_quantity", "sum_qty"),
            sum_dbl("l_extendedprice", "sum_base_price"),
            exact_sum(disc_price()).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
SELECT o.o_orderkey,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       epoch_ns(o.o_orderdate) // 1000000000 AS o_orderdate_s,
       o.o_orderpriority
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1, 3, 4
""",
    tags=("tpch", "join", "agg"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dimension filter, fact-fact join, revenue
    aggregation. customer (small side) is broadcast — zero shuffle for the
    first join even at 100 TB lineitem."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "o_orderkey",
            F.expr("o_orderdate_ns DIV 1000000000").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .agg(exact_sum(disc_price()).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate_s", "o_orderpriority")
    )


@register(
    "tpch_q5_local_volume",
    oracle="""
SELECT n.n_name,
       r.r_name,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
    tags=("tpch", "join", "agg"),
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way star join: every dimension (supplier, customer,
    nation, region) broadcast against the lineitem fact; only the
    lineitem⋈orders fact join shuffles."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier", "nation", "region")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
            exact_sum(disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
""",
    tags=("tpch", "filter", "agg"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure filter+aggregate; predicates push to the parquet
    scan (verify with .explain → PushedFilters)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
SELECT o.o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
)
GROUP BY 1
""",
    tags=("tpch", "subquery", "semi-join"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join (Catalyst rewrites
    the subquery; no row explosion from multi-match lineitems)."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    big = t["lineitem"].filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "tpch_q12_shipmode_buckets",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""",
    tags=("tpch", "conditional-agg"),
)
def tpch_q12_shipmode_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) — one pass,
    no per-bucket scans."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_share",
    oracle="""
SELECT round(
         100.0 * CAST(CAST(sum(CASE WHEN p.p_type = 'PROMO'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))
                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE)
         / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE),
         4) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
""",
    tags=("tpch", "conditional-agg"),
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — broadcast part, decimal-exact
    numerator/denominator, one ratio at the end."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    rev = disc_price()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(dec(F.lit(0)))
    return (
        t["lineitem"]
        .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * exact_sum(promo).cast("double")
                / exact_sum(rev).cast("double"),
                4,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH costs AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
         min(s.s_acctbal) OVER (PARTITION BY p.p_partkey) AS min_bal
  FROM part p
  JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
)
SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, s_acctbal
FROM costs WHERE s_acctbal = min_bal
""",
    tags=("tpch", "subquery", "window-function"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier via a windowed min +
    filter (the correlated-scalar-subquery rewrite) — one shuffle on the
    part key instead of a subquery per row."""
    t = load_tables(spark, sf_dir, ("part", "lineitem", "supplier"))
    j = (
        t["lineitem"]
        .join(broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
""",
    tags=("tpch", "join", "agg"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer — selective
    fact filter pushed to scan, dims broadcast."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_sum(disc_price()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q18_volume_customers",
    oracle="""
WITH big_orders AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY 1 HAVING sum(l_quantity) > 150
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total_qty
FROM orders o
JOIN big_orders b ON b.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3
""",
    tags=("tpch", "subquery", "having"),
)
def tpch_q18_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join input —
    the heavy orders are found with one grouped pass over lineitem, then only
    those rows are re-joined."""
    t = load_tables(spark, sf_dir, ("orders", "customer", "lineitem"))
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 150)
        .select("l_orderkey")
    )
    return (
        t["lineitem"]
        .join(big.withColumnRenamed("l_orderkey", "bk"), F.col("l_orderkey") == F.col("bk"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey")
        .agg(sum_dbl("l_quantity", "total_qty"))
    )


@register(
    "tpch_q22_global_acctbal",
    oracle="""
WITH bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS s,
         count(*) AS c
  FROM customer WHERE c_acctbal > 0
)
SELECT n.n_name,
       count(*) AS n_custs,
       CAST(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
CROSS JOIN bal
WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * bal.c > bal.s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY 1
""",
    tags=("tpch", "subquery", "anti-join", "scalar-subquery"),
)
def tpch_q22_global_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-average threshold + NOT EXISTS → left-anti
    join: rich customers with no in-progress ('P') orders.

    The threshold ``c_acctbal > avg(c_acctbal)`` is evaluated WITHOUT a
    division or a driver-side collect: ``x > sum/cnt  ⟺  x*cnt > sum`` for
    cnt > 0, and both sides of the rewritten comparison are exact decimals —
    so the predicate is bit-identical across engines (a double average can
    differ in the last ULP between Spark's and DuckDB's summation order and
    flip borderline customers), and the aggregate stays a broadcast-joined
    single lazy plan instead of a separate collect job."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "nation"))
    cust = t["customer"]
    bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            exact_sum(dec("c_acctbal")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    return (
        cust.crossJoin(broadcast(bal))
        .filter(dec("c_acctbal") * F.col("c") > F.col("s"))
        .join(
            t["orders"]
            .filter(F.col("o_orderstatus") == "P")
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            sum_dbl("c_acctbal", "total_bal"),
        )
    )


@register(
    "tpch_q16_part_suppliers",
    oracle="""
SELECT p.p_brand, p.p_type,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY 1, 2
""",
    tags=("tpch", "subquery", "not-in", "distinct-agg"),
)
def tpch_q16_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery + distinct count. NOT IN has the
    infamous null trap (a NULL probe value or any NULL in the subquery drops
    rows under three-valued logic that a plain left-anti join would keep), so
    the filter goes through ``spark.sql`` with a literal NOT IN — Catalyst
    plans a null-aware anti join (LeftAnti with isnull-extended condition /
    BroadcastNestedLoop for the null-aware case), matching DuckDB's semantics
    even on data with NULL keys. The subquery side (negative-balance
    suppliers) is tiny, so the null-aware broadcast is cheap at any scale."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier"))
    t["lineitem"].createOrReplaceTempView("tpch_q16_lineitem")
    t["part"].createOrReplaceTempView("tpch_q16_part")
    t["supplier"].createOrReplaceTempView("tpch_q16_supplier")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(p) */ p.p_brand, p.p_type,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM tpch_q16_lineitem l
        JOIN tpch_q16_part p ON p.p_partkey = l.l_partkey
        WHERE l.l_suppkey NOT IN (
          SELECT s_suppkey FROM tpch_q16_supplier WHERE s_acctbal < 0
        )
        GROUP BY 1, 2
        """
    )


@register(
    "tpch_q7_volume_shipping",
    oracle="""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name IN ('NATION_2','NATION_3','NATION_4','NATION_5'))
   OR (n2.n_name = 'NATION_1' AND n1.n_name IN ('NATION_2','NATION_3','NATION_4','NATION_5'))
GROUP BY 1, 2, 3
""",
    tags=("tpch", "join", "agg", "multi-way"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: nation-pair trade volume by ship year.

    Join order is the scale decision: the nation-pair predicate restricts
    BOTH fact sides to 5 of 25 nations, so each fact is reduced through its
    broadcast dimension chain FIRST — lineitem ⋈ bcast(supplier⋈nation₁,
    pre-filtered) and orders ⋈ bcast(customer⋈nation₂, pre-filtered) are
    map-side and drop ~80% of rows — and only the two reduced sides meet in
    the one real shuffle (on orderkey). Filtering after the fact⋈fact join
    (the naive plan) would shuffle 5× the rows to throw most of them away;
    at 100 TB that is the difference between a bounded exchange and a
    cluster-wide waste. The or'd pair condition is applied post-join (it
    spans both sides); the per-side IN(5 nations) reduction is implied by it
    and pushed here explicitly."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier", "nation")
    )
    names = ("NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5")
    n1 = (
        t["nation"]
        .filter(F.col("n_name").isin(*names))
        .select(
            F.col("n_nationkey").alias("n1_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = (
        t["nation"]
        .filter(F.col("n_name").isin(*names))
        .select(
            F.col("n_nationkey").alias("n2_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    supp_side = (
        t["supplier"]
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    cust_side = (
        t["customer"]
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    lred = t["lineitem"].join(
        broadcast(supp_side), F.col("l_suppkey") == F.col("s_suppkey")
    )
    ored = (
        t["orders"]
        .join(broadcast(cust_side), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    others = ("NATION_2", "NATION_3", "NATION_4", "NATION_5")
    pair = (
        (F.col("supp_nation") == "NATION_1") & F.col("cust_nation").isin(*others)
    ) | ((F.col("cust_nation") == "NATION_1") & F.col("supp_nation").isin(*others))
    return (
        lred.join(ored, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            exact_sum(disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q8_national_share",
    oracle="""
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE) AS nation_volume,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total_volume,
       CAST(CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE)
       / CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN region r ON nc.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
GROUP BY 1
""",
    tags=("tpch", "join", "agg", "multi-way", "conditional-agg"),
)
def tpch_q8_national_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — NATION_3's fraction of PROMO
    part volume sold into ASIA per order year. Eight-way join, one fact-fact
    shuffle; both revenue sums are decimal-exact so the share division is a
    single IEEE double op on bit-identical inputs (no cross-engine ULP
    drift). Citing the division discipline: ratio of two exactly-reproduced
    doubles is itself exactly reproducible."""
    t = load_tables(
        spark,
        sf_dir,
        ("lineitem", "orders", "customer", "supplier", "nation", "region", "part"),
    )
    nc = t["nation"].select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = t["nation"].select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    vol = disc_price()
    nation_vol = F.when(
        F.col("supp_nation") == "NATION_3", vol
    ).otherwise(dec(F.lit(0)))
    out = (
        t["lineitem"]
        .join(broadcast(t["part"].filter(F.col("p_type") == "PROMO")),
              F.col("p_partkey") == F.col("l_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("nc_region") == F.col("r_regionkey"))
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            exact_sum(nation_vol).cast("double").alias("nation_volume"),
            exact_sum(vol).cast("double").alias("total_volume"),
        )
    )
    return out.select(
        "o_year",
        "nation_volume",
        "total_volume",
        (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
SELECT ns.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))
                 - CAST(p.p_retailprice AS DECIMAL(18,4)) * CAST(l.l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
    tags=("tpch", "join", "agg", "multi-way"),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order year.
    The testdata has no partsupp relation, so ps_supplycost is adapted to
    p_retailprice × l_quantity (same expression shape: revenue minus a
    joined-cost term, exact decimals throughout). Substring part filter
    ('%widget%') is evaluated on the broadcast part side before the fact
    join, so the scan-side work shrinks before any shuffle."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "supplier", "nation", "part")
    )
    profit = disc_price() - dec("p_retailprice") * dec("l_quantity")
    return (
        t["lineitem"]
        .join(broadcast(t["part"].filter(F.col("p_name").like("%widget%"))),
              F.col("p_partkey") == F.col("l_partkey"))
        .join(broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(exact_sum(profit).cast("double").alias("sum_profit"))
    )


@register(
    "tpch_q15_top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    tags=("tpch", "subquery", "view", "agg"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + scalar-max subquery. The quarter
    revenue per supplier stays DECIMAL(38,4) until after the max-equality
    filter — exact associative sums make `revenue = max(revenue)` a safe
    cross-engine equality (doubles would tie-break differently per partition
    order); supplier is broadcast for the name join.

    Scale posture (VERDICT r4 task 4): the scalar max is a separate global
    aggregate cross-joined back as a broadcast — NOT an unpartitioned
    window, which would funnel the whole per-supplier frame (10K x SF rows)
    through one Exchange SinglePartition task. The scalar-agg form's only
    SinglePartition exchange carries one partial-max row per task (bounded
    by task count, not SF), and the revenue subtree in both branches shares
    its shuffle via ReusedExchange — no second lineitem scan in the
    executed plan (docs/EXPLAINS.md)."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier"))
    li = t["lineitem"]
    ship_type = dict(li.dtypes)["l_shipdate"]
    lo = F.expr(f"CAST('1996-01-01 00:00:00' AS {ship_type})")
    hi = F.expr(f"CAST('1996-04-01 00:00:00' AS {ship_type})")
    revenue = (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        # explicit isnotnull matches the filter the supplier join infers on
        # the OTHER branch — with both branches canonically identical, the
        # lineitem shuffle is shared via ReusedExchange (one scan, not two)
        .filter(F.col("l_suppkey").isNotNull())
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(exact_sum(disc_price()).alias("rev_dec"))
    )
    mx = revenue.agg(F.max("rev_dec").alias("max_rev"))
    return (
        revenue.crossJoin(broadcast(mx))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(broadcast(t["supplier"]), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
WITH part_avg AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS qty_sum,
         count(*) AS qty_cnt
  FROM lineitem GROUP BY 1
)
SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) / 7.0 AS avg_yearly,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN part_avg a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * a.qty_cnt < a.qty_sum
""",
    tags=("tpch", "subquery", "correlated-agg"),
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity order revenue — lineitems below 20%
    of their part's average quantity. The correlated scalar subquery
    (avg per part) becomes one grouped pass re-joined on partkey, and the
    threshold ``q < 0.2 * sum/cnt`` is rewritten division-free as
    ``5*q*cnt < sum`` over exact decimals, so the borderline rows agree
    bit-for-bit across engines. avg_yearly divides the exact double by 7.0 —
    a single IEEE op, deterministic on both sides."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li = t["lineitem"]
    part_avg = (
        li.groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg(
            exact_sum(dec("l_quantity")).alias("qty_sum"),
            F.count(F.lit(1)).alias("qty_cnt"),
        )
    )
    out = (
        li.join(broadcast(t["part"].filter(F.col("p_brand") == "Brand#1")),
                F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("a_partkey") == F.col("l_partkey"))
        .filter(
            dec("l_quantity") * F.lit(5) * F.col("qty_cnt")
            < F.col("qty_sum")
        )
        .agg(
            sum_dbl("l_extendedprice", "total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return out.select(
        "total_revenue",
        (F.col("total_revenue") / F.lit(7.0)).alias("avg_yearly"),
        "n_items",
    )


@register(
    "tpch_q20_potential_promotion",
    oracle="""
WITH shipped AS (
  SELECT l.l_suppkey,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE 'red%' AND year(l.l_shipdate) = 1996
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 300)
""",
    tags=("tpch", "subquery", "semi-join", "nested"),
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join — suppliers who shipped more than a
    threshold quantity of 'red' parts in 1996. The testdata has no partsupp,
    so the inner availability predicate (ps_availqty > ½ shipped) is adapted
    to the shipped-quantity aggregate itself; the join SHAPE is preserved:
    inner agg over part-filtered lineitem → IN-subquery → semi join against
    supplier → broadcast nation for the name. The semi join keys on the
    aggregated (already-distinct) suppkey, so no distinct pass is needed."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier", "nation"))
    hot = (
        t["lineitem"]
        .join(broadcast(t["part"].filter(F.col("p_name").like("red%"))),
              F.col("p_partkey") == F.col("l_partkey"))
        .filter(F.year("l_shipdate") == 1996)
        .groupBy("l_suppkey")
        .agg(exact_sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(hot, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "tpch_q11_important_parts",
    oracle="""
WITH natline AS (
  SELECT l.l_partkey,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_1'
), per_part AS (
  SELECT l_partkey, sum(cents) AS pc FROM natline GROUP BY 1
), tot AS (
  SELECT sum(pc) AS tc FROM per_part
)
SELECT p.l_partkey, CAST(p.pc AS DOUBLE) / 100 AS part_value
FROM per_part p CROSS JOIN tot
WHERE p.pc * 1000 > tot.tc
""",
    tags=("tpch", "agg", "scalar-subquery", "having"),
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing an outsized share (>0.1%) of one
    nation's traded value — GROUP BY + HAVING against a global-aggregate
    scalar. The testdata has no partsupp, so "value" is the revenue routed
    through NATION_1 suppliers (join shape preserved: fact ⋈ broadcast
    supplier ⋈ broadcast nation → per-part agg → global threshold).

    Cross-engine discipline: the share test runs entirely in BIGINT cents
    (price has ≤2 decimals, so round(price*100) is exact) — ``pc*1000 > tc``
    is the division-free form of ``pc > 0.001*tc``; no decimal-width
    overflow, no double-rounding divergence.

    Scale posture (VERDICT r4 task 4): the global total is a separate
    scalar aggregate cross-joined back as a broadcast — NOT an
    unpartitioned window, whose plan funnels the ENTIRE per-part frame
    (~200K rows x SF) through one Exchange SinglePartition task. The
    scalar-agg form's only SinglePartition exchange carries one partial-agg
    row per task (bounded by task count, not SF), and the per-part
    aggregate subtree appearing in both branches shares its shuffle via
    ReusedExchange — no second lineitem scan in the executed plan
    (docs/EXPLAINS.md)."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    nat_supp = (
        t["supplier"]
        .join(
            broadcast(t["nation"].filter(F.col("n_name") == "NATION_1")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        t["lineitem"]
        .join(broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("pc")
        )
    )
    tot = per_part.agg(F.sum("pc").alias("tc"))
    return (
        per_part.crossJoin(broadcast(tot))
        .filter(F.col("pc") * 1000 > F.col("tc"))
        .select(
            "l_partkey", (F.col("pc").cast("double") / 100).alias("part_value")
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
) t
GROUP BY 1
""",
    tags=("tpch", "outer-join", "agg"),
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution. Left outer join
    with an extra non-equi predicate INSIDE the join condition (the classic
    Q13 trap: filtering o_orderpriority in WHERE would silently drop the
    zero-order customers that the distribution's c_count=0 bucket exists to
    count; the testdata has no o_comment, so the priority filter stands in
    for NOT LIKE '%special%requests%'). Two-level aggregation: per-customer
    count, then histogram over counts. At scale the first agg shuffles on
    c_custkey (high cardinality, well-spread); the second is a near-free
    rollup of an already-tiny frame."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q19_discounted_revenue",
    oracle="""
SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
""",
    tags=("tpch", "join", "disjunctive-predicate"),
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a three-branch disjunctive predicate
    that mixes part attributes (brand, size) with lineitem attributes
    (quantity) — the canonical test of OR-predicate handling. Catalyst can't
    push a cross-table OR below the join, so the part side is pre-filtered
    with the hand-derived implied constraint (every branch requires one of
    the three brands and size <= 35): the broadcast build side shrinks to
    ~1/8th before the join, and the full disjunction is applied post-join on
    broadcast columns. At 100 TB this is one lineitem scan, zero shuffles."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    part = t["part"].filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & (F.col("p_size") <= 35)
        & (F.col("p_size") >= 1)
    )
    qty = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 15) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 25) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 35) & qty.between(20, 30))
    )
    return (
        t["lineitem"]
        .join(broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(branch)
        .agg(
            exact_sum(disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
SELECT s.s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE o.o_orderstatus = 'F'
  AND epoch_ns(l1.l_shipdate) - epoch_ns(o.o_orderdate) > 5184000000000000
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY 1
""",
    tags=("tpch", "subquery", "exists", "window"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone held up multi-supplier finalized
    orders. The testdata has no commit/receipt dates, so "late" is shipping
    >60 days after the order date (exact BIGINT nanosecond arithmetic on both
    engines).

    The reference semantics are the oracle's correlated EXISTS / NOT EXISTS
    pair — but a row-correlated anti join on an inequality is a nested-loop
    disaster at scale, so the Spark plan re-expresses both subqueries as ONE
    window pass over (order, supplier) ship maxima: for each supplier in an
    order, ``other_max`` (the latest shipment by any OTHER supplier) is
    derived from the order-wide max / runner-up max and the count of
    suppliers attaining the max. EXISTS(other supplier) ⟺ n_sup > 1;
    NOT EXISTS(later other shipment) ⟺ l1.ship >= other_max. One shuffle on
    l_orderkey, no nested loop, identical rows.

    Single-scan shape: lineitem is read ONCE — finalized orders broadcast
    onto the scan to tag each row late/not-late, then one groupBy
    (order, supplier) carries BOTH the all-rows ship max (feeding the
    other_max window) and the multiset of late ship values (a small
    collect_list — TPC-H orders have ≤7 items), so the qualifying-row count
    is an array filter after the window instead of a join back to a second
    lineitem scan + fact-grain shuffle."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "supplier"))
    late_ns = 60 * 86400 * 1_000_000_000
    finalized = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate_ns"
    )
    li = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_shipdate_ns")
        .join(broadcast(finalized), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    per_sup = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate_ns").alias("sup_max"),
        # late shipments only; nulls (on-time rows) are dropped by the agg
        F.collect_list(
            F.when(
                F.col("l_shipdate_ns") - F.col("o_orderdate_ns") > late_ns,
                F.col("l_shipdate_ns"),
            )
        ).alias("late_ships"),
    )
    w = Window.partitionBy("l_orderkey")
    stats = per_sup.select(
        "l_orderkey",
        "l_suppkey",
        "sup_max",
        "late_ships",
        F.max("sup_max").over(w).alias("order_max"),
        F.count(F.lit(1)).over(w).alias("n_sup"),
    )
    stats = stats.select(
        "*",
        F.sum(
            F.when(F.col("sup_max") == F.col("order_max"), 1).otherwise(0)
        ).over(w).alias("n_at_max"),
        F.max(
            F.when(F.col("sup_max") < F.col("order_max"), F.col("sup_max"))
        ).over(w).alias("runner_up"),
    )
    contrib = stats.filter(F.col("n_sup") > 1).select(
        "l_suppkey",
        F.size(
            F.filter(
                F.col("late_ships"),
                lambda x: x
                >= F.when(
                    (F.col("sup_max") < F.col("order_max"))
                    | (F.col("n_at_max") > 1),
                    F.col("order_max"),
                ).otherwise(F.col("runner_up")),
            )
        ).alias("n_wait"),
    )
    return (
        contrib.filter(F.col("n_wait") > 0)
        .join(
            broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.sum("n_wait").cast("long").alias("numwait"))
    )
