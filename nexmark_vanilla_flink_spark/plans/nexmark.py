"""Nexmark query surface (SURVEY.md §2) re-expressed Spark-first.

Every query here maps to a reference operator (citations inline), runs on the
derived Nexmark streams (sources/tables.py), and is verified against a DuckDB
oracle producing identical rows. Batch forms are below; streaming twins live
in ``streaming/`` and are parity-tested against these.

Scale notes (100 TB posture):
  * all aggregations are single-pass hash aggregates with map-side partial
    aggregation (max/count/max_by/decimal-sum) — no row_number sort-the-world
    patterns in the Spark plans;
  * joins are equi-joins on (key, bucket) so they hash-partition cleanly; the
    interval join (QX) carries an equi prefix (item key) so it plans as a
    hash join with a range residual, not a nested-loop;
  * window starts are integer arithmetic on the scan column → whole-stage
    codegen, no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import avg_dbl, sum_dbl
from ..functions.time import DAY_NS, DAY_S, HOUR_S, NS_PER_SEC, bucket_start_s, epoch_s
from ..sources.tables import (
    AUCTIONS_CTE,
    BIDS_CTE,
    EV_CTE,
    PERSONS_CTE,
    events_with_key,
    nexmark_streams,
    with_ctes,
)
from .registry import register

# ---------------------------------------------------------------------------
# Q5 — hot items: per-item windowed max(bid) + count
# Reference: NexmarkQuery5.Aggregator (NexmarkQuery5/NexmarkQuery5.java:201-251,
# accumulator :444-483) — per auctionId running max(bid), count, and latest
# event timestamp, emitted per 60 s event-time window.
# ---------------------------------------------------------------------------


@register(
    "q5_hot_items",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT item_id AS auction_id,
       (b_ts_ns // {HOUR_S * NS_PER_SEC}) * {HOUR_S} AS w_start_s,
       max(bid) AS max_bid,
       count(*) AS bid_count,
       max(b_ts_ns) // {NS_PER_SEC} AS last_bid_ts_s
FROM bids
GROUP BY 1, 2
""",
    tags=("nexmark", "agg", "window"),
)
def q5_hot_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-items windowed aggregation [A1]: tumbling 1 h window per item key:
    max bid, bid count, latest bid time. One shuffle on (item, window)."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return (
        bids.groupBy(
            F.col("item_id").alias("auction_id"),
            bucket_start_s("b_ts_ns", HOUR_S).alias("w_start_s"),
        )
        .agg(
            F.max("bid").alias("max_bid"),
            F.count(F.lit(1)).alias("bid_count"),
            epoch_s("max(b_ts_ns)").alias("last_bid_ts_s"),
        )
    )


@register(
    "q5_sliding",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT item_id AS auction_id,
       ((b_ts_ns // {900 * NS_PER_SEC}) - t.j) * 900 AS w_start_s,
       max(bid) AS max_bid,
       count(*) AS bid_count
FROM bids CROSS JOIN range(0, 4) AS t(j)
GROUP BY 1, 2
""",
    tags=("nexmark", "agg", "window", "sliding"),
)
def q5_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window hot items [§2.6 sliding window, NexmarkQuery8.java:546-548
    (windowType=1)]: 1 h window sliding 15 min via Spark's window() operator."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return (
        bids.groupBy(
            F.col("item_id").alias("auction_id"),
            F.window("b_ts", "1 hour", "15 minutes").alias("w"),
        )
        .agg(F.max("bid").alias("max_bid"), F.count(F.lit(1)).alias("bid_count"))
        .select(
            "auction_id",
            F.col("w.start").cast("long").alias("w_start_s"),
            "max_bid",
            "bid_count",
        )
    )


# ---------------------------------------------------------------------------
# Q8 — new persons ⋈ their new auctions in the same window
# Reference: JoiningNewUsersWithAuctionsCoGroupFunction
# (NexmarkQuery8/NexmarkQuery8.java:106-153) and the stateful union-join
# JoinUDF (:570-662). Inner join ⇒ persons without auctions are skipped,
# matching the co-group's "skip windows with no auctions".
# ---------------------------------------------------------------------------


@register(
    "q8_new_users_auctions",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, AUCTIONS_CTE)
    + f"""
SELECT p.person_id,
       p.user_id,
       (p.p_ts_ns // {DAY_S * NS_PER_SEC}) * {DAY_S} AS w_start_s,
       count(*) AS n_auctions,
       max(a.start_ts_ns) // {NS_PER_SEC} AS last_auction_ts_s
FROM persons p
JOIN auctions a
  ON a.seller_id = p.user_id
 AND a.start_ts_ns // {DAY_S * NS_PER_SEC} = p.p_ts_ns // {DAY_S * NS_PER_SEC}
GROUP BY 1, 2, 3
""",
    tags=("nexmark", "join", "window"),
)
def q8_new_users_auctions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed equi-join persons⋈auctions on seller within the same tumbling
    day [J1/J2]: per new person, how many auctions they opened that window and
    the latest one. Equi-join on (user, window) → clean hash partitioning."""
    s = nexmark_streams(spark, sf_dir)
    p = s["persons"].withColumn("w_start_s", bucket_start_s("p_ts_ns", DAY_S))
    a = (
        s["auctions"]
        .withColumn("w_start_s", bucket_start_s("start_ts_ns", DAY_S))
        .withColumnRenamed("seller_id", "user_id")
    )
    return (
        p.join(a, ["user_id", "w_start_s"], "inner")
        .groupBy("person_id", "user_id", "w_start_s")
        .agg(
            F.count(F.lit(1)).alias("n_auctions"),
            epoch_s("max(start_ts_ns)").alias("last_auction_ts_s"),
        )
    )


@register(
    "q11_user_bids",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, BIDS_CTE)
    + f"""
SELECT p.person_id,
       p.user_id,
       (p.p_ts_ns // {DAY_S * NS_PER_SEC}) * {DAY_S} AS w_start_s,
       count(*) AS n_bids,
       max(b.bid) AS max_bid
FROM persons p
JOIN bids b
  ON b.bidder_id = p.user_id
 AND b.b_ts_ns // {DAY_S * NS_PER_SEC} = p.p_ts_ns // {DAY_S * NS_PER_SEC}
GROUP BY 1, 2, 3
""",
    tags=("nexmark", "join", "window"),
)
def q11_user_bids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persons⋈bids on bidder within the same tumbling day [J3 — the Q11
    JoinUDF, NexmarkQuery11/NexmarkQuery11File.java:364-457]."""
    s = nexmark_streams(spark, sf_dir)
    p = s["persons"].withColumn("w_start_s", bucket_start_s("p_ts_ns", DAY_S))
    b = (
        s["bids"]
        .withColumn("w_start_s", bucket_start_s("b_ts_ns", DAY_S))
        .withColumnRenamed("bidder_id", "user_id")
    )
    return (
        p.join(b, ["user_id", "w_start_s"], "inner")
        .groupBy("person_id", "user_id", "w_start_s")
        .agg(F.count(F.lit(1)).alias("n_bids"), F.max("bid").alias("max_bid"))
    )


# ---------------------------------------------------------------------------
# QX — winning bids: interval join bids into [auction.start, auction.end),
# keep the latest bid per auction.
# Reference: WinningBidsMapper (NexmarkQueryX/NexmarkQueryX.java:447-511):
# ValueState<auction> + ListState<bids>, timer at auction.end emits the bid
# with max timestamp. Here: equi+range join then max_by — the timer-at-end
# falls out of the interval bound.
# ---------------------------------------------------------------------------


def auction_bids(s: dict[str, DataFrame]) -> DataFrame:
    """Every (auction, bid) pair whose bid lands in the auction's
    [start, end) lifetime on the item key — the interval join under qx,
    q4/q6 and q9, each of which keeps only its own ``max_by``.

    Bucketed range join: the raw item key has only ~100 distinct values —
    a skew disaster at scale. Exploding each auction into the day buckets
    its [start, end) lifetime covers turns the join into an equi-join on
    (item, day): ~31× the key cardinality, and candidate bids are
    time-pruned to ±1 bucket instead of the whole month. Each (auction,
    bid) pair matches in exactly one bucket (the bid's own), so no dedup
    is needed."""
    a = s["auctions"].withColumn(
        "day_bucket",
        F.explode(
            F.expr(f"sequence(start_ts_ns DIV {DAY_NS}, (end_ts_ns - 1) DIV {DAY_NS})")
        ),
    )
    b = s["bids"].withColumn("day_bucket", F.expr(f"b_ts_ns DIV {DAY_NS}"))
    return a.join(
        b,
        (b.item_id == a.category_id)
        & (a.day_bucket == b.day_bucket)
        & (b.b_ts_ns >= a.start_ts_ns)
        & (b.b_ts_ns < a.end_ts_ns),
        "inner",
    )


@register(
    "qx_winning_bids",
    oracle=with_ctes(EV_CTE, AUCTIONS_CTE, BIDS_CTE)
    + f"""
SELECT auction_id, seller_id, win_bid_id, win_bid, win_b_ts_s
FROM (
  SELECT a.auction_id,
         a.seller_id,
         b.bid_id AS win_bid_id,
         b.bid AS win_bid,
         b.b_ts_ns // {NS_PER_SEC} AS win_b_ts_s,
         row_number() OVER (
           PARTITION BY a.auction_id
           ORDER BY b.b_ts_ns DESC, b.bid_id DESC
         ) AS rn
  FROM auctions a
  JOIN bids b
    ON b.item_id = a.category_id
   AND b.b_ts_ns >= a.start_ts_ns
   AND b.b_ts_ns < a.end_ts_ns
)
WHERE rn = 1
""",
    tags=("nexmark", "join", "interval"),
)
def qx_winning_bids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winning-bid interval join [J4/J5]: bids land in an auction's
    [start, end) lifetime on the item key; winner = latest bid (ties broken by
    bid_id). Implemented as hash equi-join (item key) with range residual +
    single-pass max_by aggregation — no global sort, scales linearly."""
    joined = auction_bids(nexmark_streams(spark, sf_dir))
    win = F.max_by(
        F.struct("bid_id", "bid", "b_ts_ns"),
        F.struct(F.col("b_ts_ns"), F.col("bid_id")),
    ).alias("w")
    return (
        joined.groupBy("auction_id", "seller_id")
        .agg(win)
        .select(
            "auction_id",
            "seller_id",
            F.col("w.bid_id").alias("win_bid_id"),
            F.col("w.bid").alias("win_bid"),
            F.expr(f"CAST(w.b_ts_ns DIV {NS_PER_SEC} AS BIGINT)").alias(
                "win_b_ts_s"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Sessions — per-bidder session windows (gap 1 h)
# Reference: SessionWindowUdf (NexmarkQueryX/NexmarkQueryX.java:765-786),
# EventTimeSessionWindows.withGap(60 s) wiring :272-285.
# ---------------------------------------------------------------------------


@register(
    "sessions_by_bidder",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + """
, seq AS (
  SELECT bidder_id, bid, bid_id, b_ts_ns // 1000 AS us,
         CASE
           WHEN lag(b_ts_ns // 1000) OVER w IS NULL THEN 1
           WHEN b_ts_ns // 1000 - lag(b_ts_ns // 1000) OVER w >= 3600000000 THEN 1
           ELSE 0
         END AS is_new
  FROM bids
  WINDOW w AS (PARTITION BY bidder_id ORDER BY b_ts_ns, bid_id)
),
sess AS (
  SELECT *, sum(is_new) OVER (
           PARTITION BY bidder_id ORDER BY us, bid_id
           ROWS UNBOUNDED PRECEDING
         ) AS sess_id
  FROM seq
)
SELECT bidder_id,
       min(us) // 1000000 AS sess_start_s,
       (max(us) + 3600000000) // 1000000 AS sess_end_s,
       count(*) AS n_bids,
       max(bid) AS max_bid
FROM sess
GROUP BY bidder_id, sess_id
""",
    tags=("nexmark", "session", "window"),
)
def sessions_by_bidder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per bidder [A5]: gap 1 h, session bounds + bid stats,
    via Spark's native session_window (merging hash aggregation)."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return (
        bids.groupBy(
            F.session_window(F.col("b_ts"), "1 hour").alias("sw"),
            F.col("bidder_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_bids"), F.max("bid").alias("max_bid"))
        .select(
            "bidder_id",
            F.col("sw.start").cast("long").alias("sess_start_s"),
            F.col("sw.end").cast("long").alias("sess_end_s"),
            "n_bids",
            "max_bid",
        )
    )


# ---------------------------------------------------------------------------
# CM — cluster-monitoring windowed sum
# Reference: cm/CM.java:272-303 — keyBy(jobId) → 2 s tumbling window →
# incremental sum(cpu). Mapped onto the unified event stream: job:=user_id,
# cpu:=value, 10 min windows (testdata horizon is a month).
# ---------------------------------------------------------------------------


@register(
    "cm_load_per_job",
    oracle=with_ctes(EV_CTE)
    + f"""
SELECT user_id AS job_id,
       (ts_ns // {600 * NS_PER_SEC}) * 600 AS w_start_s,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS total_cpu,
       count(*) AS n_records
FROM ev
GROUP BY 1, 2
""",
    tags=("nexmark", "cm", "agg", "window"),
)
def cm_load_per_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CM windowed load [A4]: tumbling sum per job key. DECIMAL-exact sum so
    the result is order-independent (shuffle-safe) and oracle-identical."""
    ev = events_with_key(spark, sf_dir)
    return (
        ev.groupBy(
            F.col("user_id").alias("job_id"),
            bucket_start_s("ts_ns", 600).alias("w_start_s"),
        )
        .agg(
            sum_dbl("value", "total_cpu"),
            F.count(F.lit(1)).alias("n_records"),
        )
    )


# ---------------------------------------------------------------------------
# Highest bid per window (global, non-keyed)
# Reference: HighestBidProcess (NexmarkQueryX/NexmarkQueryX.java:417-445) —
# ProcessAllWindowFunction picking the max-latency element per tumbling
# window. Here: arg-max element per day window, deterministic tie-break.
# ---------------------------------------------------------------------------


@register(
    "highest_bid_per_window",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT w_start_s, bid_id, bidder_id, max_bid
FROM (
  SELECT (b_ts_ns // {DAY_S * NS_PER_SEC}) * {DAY_S} AS w_start_s,
         bid_id, bidder_id, bid AS max_bid,
         row_number() OVER (
           PARTITION BY (b_ts_ns // {DAY_S * NS_PER_SEC})
           ORDER BY bid DESC, bid_id DESC
         ) AS rn
  FROM bids
)
WHERE rn = 1
""",
    tags=("nexmark", "agg", "window"),
)
def highest_bid_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global per-window arg-max [A6]: the single highest bid each day.
    max_by(struct) hash-aggregates with partial aggregation — the non-keyed
    global window never funnels all rows to one task."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    win = F.max_by(
        F.struct("bid_id", "bidder_id", "bid"),
        F.struct(F.col("bid"), F.col("bid_id")),
    ).alias("w")
    return (
        bids.groupBy(bucket_start_s("b_ts_ns", DAY_S).alias("w_start_s"))
        .agg(win)
        .select(
            "w_start_s",
            F.col("w.bid_id").alias("bid_id"),
            F.col("w.bidder_id").alias("bidder_id"),
            F.col("w.bid").alias("max_bid"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-stat sinks analog — per-type summary statistics
# Reference: latency-tracking sinks (A7/K1, NexmarkQuery8.java:245-415):
# streaming count/mean/min/max summaries. Expressed as one hash aggregate.
# Also covers P2 (event-type dispatch of the unified stream,
# NexmarkQuery5b.java:129-136).
# ---------------------------------------------------------------------------


@register(
    "event_type_stats",
    oracle=with_ctes(EV_CTE)
    + """
SELECT event_type,
       count(*) AS n,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value,
       CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) / count(*) AS DOUBLE) AS avg_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM ev
GROUP BY 1
""",
    tags=("nexmark", "stats"),
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream summary stats [A7/K1 analog + P2 dispatch]."""
    ev = events_with_key(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        sum_dbl("value", "sum_value"),
        avg_dbl("value", "avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Tagged union — the physical prerequisite of the reference's union joins
# (J6/P3: JoinHelper.java:24-40, union at NexmarkQuery8.java:581).
# ---------------------------------------------------------------------------


@register(
    "union_tagged_daily",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, AUCTIONS_CTE, BIDS_CTE)
    + f"""
SELECT side, (ts_ns // {DAY_S * NS_PER_SEC}) * {DAY_S} AS w_start_s, count(*) AS n
FROM (
  SELECT 'person' AS side, p_ts_ns AS ts_ns FROM persons
  UNION ALL SELECT 'auction' AS side, start_ts_ns AS ts_ns FROM auctions
  UNION ALL SELECT 'bid' AS side, b_ts_ns AS ts_ns FROM bids
)
GROUP BY 1, 2
""",
    tags=("nexmark", "union"),
)
def union_tagged_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged stream union [P3/J6]: unionByName of the three streams with a
    side tag, counted per tumbling day."""
    s = nexmark_streams(spark, sf_dir)
    tagged = (
        s["persons"]
        .select(F.lit("person").alias("side"), F.col("p_ts_ns").alias("ts_ns"))
        .unionByName(
            s["auctions"].select(
                F.lit("auction").alias("side"), F.col("start_ts_ns").alias("ts_ns")
            )
        )
        .unionByName(
            s["bids"].select(
                F.lit("bid").alias("side"), F.col("b_ts_ns").alias("ts_ns")
            )
        )
    )
    return tagged.groupBy(
        "side", bucket_start_s("ts_ns", DAY_S).alias("w_start_s")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Dynamic-gap session windows
# Reference: DynamicEventTimeSessionWindows import (NexmarkQuery8.java:65) —
# per-event session gap. Here: cheap bids time out in 30 min, expensive ones
# keep the session alive 90 min.
# ---------------------------------------------------------------------------


@register(
    "sessions_dynamic_gap",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + """
, seq AS (
  SELECT bidder_id, bid, bid_id, b_ts_ns // 1000 AS us,
         CASE WHEN bid < 50 THEN 1800000000 ELSE 5400000000 END AS gap_us
  FROM bids
),
marked AS (
  SELECT *,
         CASE
           WHEN max(us + gap_us) OVER w IS NULL THEN 1
           WHEN us >= max(us + gap_us) OVER w THEN 1
           ELSE 0
         END AS is_new
  FROM seq
  WINDOW w AS (PARTITION BY bidder_id ORDER BY us, bid_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sess AS (
  SELECT *, sum(is_new) OVER (
           PARTITION BY bidder_id ORDER BY us, bid_id
           ROWS UNBOUNDED PRECEDING
         ) AS sess_id
  FROM marked
)
SELECT bidder_id,
       min(us) // 1000000 AS sess_start_s,
       max(us + gap_us) // 1000000 AS sess_end_s,
       count(*) AS n_bids,
       max(bid) AS max_bid
FROM sess
GROUP BY bidder_id, sess_id
""",
    tags=("nexmark", "session", "window", "dynamic-gap"),
)
def sessions_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event dynamic session gap [§2.6 dynamic sessions]: Spark's
    session_window accepts a gap *expression*; sessions merge while each
    event's own window [ts, ts+gap) overlaps the running session."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    # session_window requires CalendarIntervalType (ANSI INTERVAL literals
    # are DayTimeIntervalType) — make_interval produces the right type
    gap = F.when(
        F.col("bid") < 50, F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)")
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 90, 0)"))
    return (
        bids.groupBy(
            F.session_window(F.col("b_ts"), gap).alias("sw"), F.col("bidder_id")
        )
        .agg(F.count(F.lit(1)).alias("n_bids"), F.max("bid").alias("max_bid"))
        .select(
            "bidder_id",
            F.col("sw.start").cast("long").alias("sess_start_s"),
            F.col("sw.end").cast("long").alias("sess_end_s"),
            "n_bids",
            "max_bid",
        )
    )


# ---------------------------------------------------------------------------
# Q8 outer variant — persons kept even with no auctions that window
# (the co-group J1 skips them; the outer form is the other standard reading)
# ---------------------------------------------------------------------------


@register(
    "q8_left_outer",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, AUCTIONS_CTE)
    + f"""
SELECT p.person_id,
       p.user_id,
       (p.p_ts_ns // {DAY_S * NS_PER_SEC}) * {DAY_S} AS w_start_s,
       CAST(count(a.auction_id) AS BIGINT) AS n_auctions
FROM persons p
LEFT JOIN auctions a
  ON a.seller_id = p.user_id
 AND a.start_ts_ns // {DAY_S * NS_PER_SEC} = p.p_ts_ns // {DAY_S * NS_PER_SEC}
GROUP BY 1, 2, 3
""",
    tags=("nexmark", "join", "outer", "window"),
)
def q8_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer windowed join [J1 variant]: every new person appears, with
    n_auctions = 0 when none were listed in their window (count of the
    nullable right key)."""
    s = nexmark_streams(spark, sf_dir)
    p = s["persons"].withColumn("w_start_s", bucket_start_s("p_ts_ns", DAY_S))
    a = (
        s["auctions"]
        .withColumn("w_start_s", bucket_start_s("start_ts_ns", DAY_S))
        .withColumnRenamed("seller_id", "user_id")
        .select("user_id", "w_start_s", "auction_id")
    )
    return (
        p.join(a, ["user_id", "w_start_s"], "left")
        .groupBy("person_id", "user_id", "w_start_s")
        .agg(F.count("auction_id").cast("long").alias("n_auctions"))
    )


# ---------------------------------------------------------------------------
# Grouped-map pandas operator — the §2.8 applyInPandas surface, batch form
# ---------------------------------------------------------------------------


@register(
    "grouped_median_pandas",
    oracle=with_ctes(EV_CTE)
    + """
, ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
)
SELECT event_type, value AS lower_median, n
FROM ranked WHERE rn = (n + 1) // 2
""",
    tags=("nexmark", "pandas-udf", "grouped-map"),
)
def grouped_median_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the batch half of the reference's rich-
    function surface, §2.8): per event type, the lower-median value computed
    with numpy inside an Arrow batch. Exact order statistic → byte-identical
    to the SQL window formulation, proving the Python boundary preserves
    values exactly."""
    import numpy as np
    import pandas as pd

    ev = events_with_key(spark, sf_dir)

    def lower_median(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        k = (n + 1) // 2 - 1  # 0-based lower median
        v = pdf.sort_values(["value", "event_id"])["value"].to_numpy()
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "lower_median": [float(v[k])],
                "n": [n],
            }
        )

    return ev.select("event_type", "value", "event_id").groupBy(
        "event_type"
    ).applyInPandas(lower_median, schema="event_type string, lower_median double, n long")


# ---------------------------------------------------------------------------
# SQL-surface variant — the engine's spark.sql() front door
# ---------------------------------------------------------------------------


@register(
    "q5_hot_items_sql",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT item_id AS auction_id,
       (b_ts_ns // {HOUR_S * NS_PER_SEC}) * {HOUR_S} AS w_start_s,
       max(bid) AS max_bid,
       count(*) AS bid_count
FROM bids
GROUP BY 1, 2
""",
    tags=("nexmark", "agg", "window", "sql-api"),
)
def q5_hot_items_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 through the SQL front door: temp views + a spark.sql() text —
    proving the full ANSI-SQL surface over the same tables (the reference
    has no SQL layer at all, SURVEY.md intro)."""
    s = nexmark_streams(spark, sf_dir)
    s["bids"].createOrReplaceTempView("nx_bids")
    return spark.sql(
        f"""
        SELECT item_id AS auction_id,
               CAST(b_ts_ns DIV {HOUR_S * NS_PER_SEC} AS BIGINT) * {HOUR_S} AS w_start_s,
               max(bid) AS max_bid,
               count(*) AS bid_count
        FROM nx_bids
        GROUP BY 1, 2
        """
    )


@register(
    "bids_asof_profile",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, BIDS_CTE)
    + """
SELECT b.bid_id,
       b.bidder_id,
       b.bid,
       b.b_ts_ns // 1000000000 AS b_ts_s,
       p.person_id,
       p.name,
       (b.b_ts_ns - p.p_ts_ns) // 1000000000 AS profile_age_s
FROM bids b
ASOF JOIN persons p
  ON b.bidder_id = p.user_id AND b.b_ts_ns >= p.p_ts_ns
""",
    tags=("nexmark", "asof-join", "window"),
)
def bids_asof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: every bid enriched with the bidder's LATEST profile row
    at-or-before the bid timestamp (~13 profile versions per user in the
    testdata) — the temporal point-in-time join Flink models with
    TemporalTableFunction and the reference approximates with its keyed
    Q8-style join state (NexmarkQuery8.java keeps the newest person per key;
    reference: src/main/java/io/ventura/nexmark/NexmarkQuery8/
    NexmarkQuery8.java:506-539).

    Spark has no ASOF JOIN operator, so this is the canonical scale-correct
    re-expression: tag both streams, UNION them, and run ONE window pass per
    user ordered by (ts, kind) taking the last non-null profile — a single
    hash partition by user_id + in-partition sort, the same merge plan
    DuckDB's native ASOF JOIN (the oracle) executes. The naive alternative
    (theta-join bids x persons on ts >= p_ts then argmax per bid) explodes
    to ~13x the bid count before pruning and skews on hot users; the union
    form moves each row exactly once, so it survives 100 TB.

    Sort tiebreak: kind (person=0 < bid=1) makes a same-instant signup
    visible to the bid, matching ASOF's >= bound; the testdata has no
    duplicate (user, ts) signups, so the match is unique."""
    s = nexmark_streams(spark, sf_dir)
    persons = s["persons"].select(
        F.col("user_id").alias("u"),
        F.col("p_ts_ns").alias("t_ns"),
        F.lit(0).alias("kind"),
        "person_id",
        "name",
        F.lit(None).cast("long").alias("bid_id"),
        F.lit(None).cast("double").alias("bid"),
    )
    bids = s["bids"].select(
        F.col("bidder_id").alias("u"),
        F.col("b_ts_ns").alias("t_ns"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("person_id"),
        F.lit(None).cast("string").alias("name"),
        "bid_id",
        "bid",
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("u")
        .orderBy("t_ns", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = persons.unionByName(bids).select(
        "*",
        F.last("person_id", ignorenulls=True).over(w).alias("asof_person_id"),
        F.last("name", ignorenulls=True).over(w).alias("asof_name"),
        F.last(F.when(F.col("kind") == 0, F.col("t_ns")), ignorenulls=True)
        .over(w)
        .alias("asof_p_ts_ns"),
    )
    return (
        tagged.filter((F.col("kind") == 1) & F.col("asof_person_id").isNotNull())
        .select(
            "bid_id",
            F.col("u").alias("bidder_id"),
            "bid",
            F.expr("t_ns DIV 1000000000").alias("b_ts_s"),
            F.col("asof_person_id").alias("person_id"),
            F.col("asof_name").alias("name"),
            F.expr("(t_ns - asof_p_ts_ns) DIV 1000000000").alias("profile_age_s"),
        )
    )
