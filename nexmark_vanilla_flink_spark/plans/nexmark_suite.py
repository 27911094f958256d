"""Canonical public Nexmark queries the reference suite omits: q0-q4, q6,
q7, q9, q10 and q13-q22.

The reference repo implements q5/q5b/q8/q11/qX/cm (SURVEY.md §2,
plans/nexmark.py); a Nexmark user coming from it also runs the canonical
queries from the NEXMark paper (Tucker et al.), the Apache Beam
`NexmarkQueryN` package and Alibaba nexmark-flink. Together with the
reference's own queries these complete the full public catalog, on the same
derived streams (sources/tables.py), with the same output discipline
(integer time buckets, decimal-exact sums, identical aliases in Spark and
oracle SQL). q12 (processing-time tumbling count) is intentionally NOT a
batch registry entry: its output is defined by wall-clock arrival, so no
deterministic oracle exists — the processing-time surface is covered by
``streaming/stateful.py::q5b_proc_time_flush`` and its deterministic
virtual-clock tests (tests/test_q5b_deterministic.py).

The generic testdata carries no channel/url columns, so q13/q16/q21/q22
derive them deterministically from the bid keys (documented per query);
both engines compute the identical derivation, so the oracle still
hash-checks every output value.

Scale notes:
  * q0/q1/q2/q14/q21/q22 are stateless projections/filters — zero shuffle,
    fully codegen'd;
  * q3 is a broadcast-able dimension join (persons are ~1/9 of events);
  * q4/q6/q9 reuse the bucketed winning-bids interval join
    (plans/nexmark.py::auction_bids explains why the day-bucket explode is
    the skew-safe plan), then aggregate per category / per seller / per
    auction;
  * q6's "last 10 per seller" window sorts only within each seller's
    winning-bid set (bounded by auctions per seller), never globally;
  * q7 aggregates per day-bucket BEFORE emitting rows (two-level hash
    max_by), never a global sort;
  * q10 is a real partitioned sink: repartition by the partition key first
    so each output partition is written by exactly one task (without it,
    every task writes a file into every partition directory — the classic
    small-files explosion at 1000 executors);
  * q13's side input is broadcast — no shuffle of the fact stream;
  * q15/q16/q17 are single hash aggregates; the count-distinct columns
    expand in one pass (Spark rewrites multi-distinct to expand+two-phase
    agg, still one shuffle on the group key);
  * q18/q19 window-rank only within (bidder,item)/(item) partitions —
    bounded state, no global order;
  * q20 is the union-tag AS-OF join (one window pass, each row moves once;
    see plans/nexmark.py::bids_asof_profile for why the theta-join
    alternative dies at scale).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import avg_dbl, dec, sum_dbl
from ..functions.time import DAY_NS, DAY_S, HOUR_NS, NS_PER_SEC, bucket_start_s, epoch_s
from ..sources.tables import (
    AUCTIONS_CTE,
    BIDS_CTE,
    EV_CTE,
    PERSONS_CTE,
    nexmark_streams,
    with_ctes,
)
from .nexmark import auction_bids
from .registry import register

# price-range buckets for q15/q16/q17 (canonical 10k/1M rescaled to the
# testdata's value distribution: min 0.01, median ~34, max ~371)
_R1, _R2 = 20.0, 100.0

# Canonical q4/q6 pick the HIGHEST-price bid within the auction lifetime
# (ties → latest, then bid_id); the reference's WinningBidsMapper picks the
# LATEST bid (plans/nexmark.py::qx_winning_bids keeps that semantic). Both
# arg-max variants are therefore covered, each oracle-checked.
_WINNING_BIDS_SQL = f"""
winning AS (
  SELECT category_id, seller_id, auction_id, win_bid, win_ts_ns
  FROM (
    SELECT a.category_id,
           a.seller_id,
           a.auction_id,
           b.bid AS win_bid,
           b.b_ts_ns AS win_ts_ns,
           row_number() OVER (
             PARTITION BY a.auction_id
             ORDER BY b.bid DESC, b.b_ts_ns DESC, b.bid_id DESC
           ) AS rn
    FROM auctions a
    JOIN bids b
      ON b.item_id = a.category_id
     AND b.b_ts_ns >= a.start_ts_ns
     AND b.b_ts_ns < a.end_ts_ns
  )
  WHERE rn = 1
)
""".strip()


def _winning_bids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-price winning bid per auction via the bucketed interval join
    (one hash shuffle on (item, day), single-pass max_by — no global sort)."""
    joined = auction_bids(nexmark_streams(spark, sf_dir))
    win = F.max_by(
        F.struct("bid", "b_ts_ns"),
        F.struct(F.col("bid"), F.col("b_ts_ns"), F.col("bid_id")),
    ).alias("w")
    return (
        joined.groupBy("category_id", "seller_id", "auction_id")
        .agg(win)
        .select(
            "category_id",
            "seller_id",
            "auction_id",
            F.col("w.bid").alias("win_bid"),
            F.col("w.b_ts_ns").alias("win_ts_ns"),
        )
    )


# ---------------------------------------------------------------------------
# Q1 — currency conversion (dollars → euros), stateless map.
# Canonical NEXMark query 1 / Beam NexmarkQuery1.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q1_currency",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT bid_id,
       item_id,
       bidder_id,
       CAST(CAST(bid AS DECIMAL(18,4)) * CAST(0.9080 AS DECIMAL(18,4)) AS DOUBLE) AS bid_eur,
       b_ts_ns // {NS_PER_SEC} AS b_ts_s
FROM bids
""",
    tags=("nexmark", "projection"),
)
def nexmark_q1_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q1: every bid re-priced dollars→euros (×0.908,
    decimal-exact multiply so both engines round identically). Stateless
    projection — no shuffle, whole-stage codegen end to end."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return bids.select(
        "bid_id",
        "item_id",
        "bidder_id",
        (dec("bid") * dec(F.lit("0.9080"))).cast("double").alias("bid_eur"),
        epoch_s("b_ts_ns").alias("b_ts_s"),
    )


# ---------------------------------------------------------------------------
# Q2 — selection: bids on a fixed set of items, stateless filter.
# Canonical NEXMark query 2 / Beam NexmarkQuery2 (auction % skip == 0).
# ---------------------------------------------------------------------------


@register(
    "nexmark_q2_selection",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT bid_id, item_id, bid, b_ts_ns // {NS_PER_SEC} AS b_ts_s
FROM bids
WHERE item_id % 11 = 0
""",
    tags=("nexmark", "filter"),
)
def nexmark_q2_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q2: bids whose item key is in a fixed set
    (item % 11 = 0, the Beam `skip` idiom). The predicate sits directly on
    the scan so Catalyst pushes it into the parquet reader."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return bids.filter(F.col("item_id") % 11 == 0).select(
        "bid_id", "item_id", "bid", epoch_s("b_ts_ns").alias("b_ts_s")
    )


# ---------------------------------------------------------------------------
# Q3 — local item suggestion: sellers from a region with auctions in a
# category band. Canonical NEXMark query 3 (persons ⋈ auctions with
# state/category filters); the generic data's region = user_id bucket.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q3_local_suggest",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, AUCTIONS_CTE)
    + """
SELECT p.name,
       p.user_id,
       a.auction_id,
       a.category_id
FROM persons p
JOIN auctions a ON a.seller_id = p.user_id
WHERE p.user_id % 10 IN (0, 1, 2)
  AND a.category_id BETWEEN 10 AND 29
""",
    tags=("nexmark", "join", "filter"),
)
def nexmark_q3_local_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q3: auctions in categories 10-29 by sellers from a
    'region' (user_id bucket 0-2 stands in for the OR/ID/CA state filter —
    the generic persons carry no state column). Both filters are pushed
    below the join; the filtered persons side is small → broadcast-able."""
    s = nexmark_streams(spark, sf_dir)
    p = s["persons"].filter(F.col("user_id") % 10 < 3)
    a = s["auctions"].filter(F.col("category_id").between(10, 29))
    return (
        p.join(a, p.user_id == a.seller_id, "inner")
        .select("name", "user_id", "auction_id", "category_id")
    )


# ---------------------------------------------------------------------------
# Q4 — average closing price per category.
# Canonical NEXMark query 4: winning bid per auction, averaged by category.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q4_category_avg",
    oracle=with_ctes(EV_CTE, AUCTIONS_CTE, BIDS_CTE, _WINNING_BIDS_SQL)
    + """
SELECT category_id,
       CAST(CAST(SUM(CAST(win_bid AS DECIMAL(18,4)))
            AS DECIMAL(38,4)) AS DOUBLE) / COUNT(*) AS avg_closing_price,
       COUNT(*) AS n_auctions
FROM winning
GROUP BY category_id
""",
    tags=("nexmark", "join", "interval", "agg"),
)
def nexmark_q4_category_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q4: average closing (highest-bid) price per
    category. Interval join via the skew-safe day-bucket plan, then a
    two-level hash aggregate; the average is decimal-exact (associative)
    so the cross-engine hash compare is stable."""
    return (
        _winning_bids(spark, sf_dir)
        .groupBy("category_id")
        .agg(
            avg_dbl("win_bid", "avg_closing_price"),
            F.count(F.lit(1)).alias("n_auctions"),
        )
    )


# ---------------------------------------------------------------------------
# Q6 — average selling price of the last 10 closed auctions per seller.
# Canonical NEXMark query 6 (the one Flink's own nexmark suite skips because
# it needs a per-key bounded history window).
# ---------------------------------------------------------------------------


@register(
    "nexmark_q6_seller_avg",
    oracle=with_ctes(EV_CTE, AUCTIONS_CTE, BIDS_CTE, _WINNING_BIDS_SQL)
    + """
SELECT seller_id,
       CAST(CAST(SUM(CAST(win_bid AS DECIMAL(18,4)))
            AS DECIMAL(38,4)) AS DOUBLE) / COUNT(*) AS avg_price_last10,
       COUNT(*) AS n_considered
FROM (
  SELECT seller_id, win_bid,
         row_number() OVER (
           PARTITION BY seller_id
           ORDER BY win_ts_ns DESC, auction_id DESC
         ) AS rn
  FROM winning
)
WHERE rn <= 10
GROUP BY seller_id
""",
    tags=("nexmark", "join", "window-func", "agg"),
)
def nexmark_q6_seller_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q6: per seller, the mean price of their 10 most
    recently closed auctions. The row_number window sorts only within one
    seller's winning bids (bounded per key — no global sort); the mean is
    decimal-exact."""
    w = Window.partitionBy("seller_id").orderBy(
        F.col("win_ts_ns").desc(), F.col("auction_id").desc()
    )
    return (
        _winning_bids(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .groupBy("seller_id")
        .agg(
            avg_dbl("win_bid", "avg_price_last10"),
            F.count(F.lit(1)).alias("n_considered"),
        )
    )


# ---------------------------------------------------------------------------
# Q0 — passthrough. Beam NexmarkQuery0: measures the engine's raw
# serialization/transport floor; every bid in, every bid out, unchanged.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q0_passthrough",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT bid_id, item_id, bidder_id, bid, b_ts_ns // {NS_PER_SEC} AS b_ts_s
FROM bids
""",
    tags=("nexmark", "projection"),
)
def nexmark_q0_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q0: identity over the bid stream — the engine
    overhead yardstick (scan → codegen'd projection → sink, no shuffle).
    Useful as the denominator when reading the other queries' timings."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return bids.select(
        "bid_id", "item_id", "bidder_id", "bid", epoch_s("b_ts_ns").alias("b_ts_s")
    )


# ---------------------------------------------------------------------------
# Q7 — highest bid per tumbling window. Canonical NEXMark query 7 / Beam
# NexmarkQuery7 (Max over fixed windows, emitting the winning bid row).
# ---------------------------------------------------------------------------


@register(
    "nexmark_q7_highest_bid",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT win_start_s, bid_id, item_id, bidder_id, bid
FROM (
  SELECT (b_ts_ns // {DAY_NS}) * {DAY_S} AS win_start_s,
         bid_id, item_id, bidder_id, bid,
         row_number() OVER (
           PARTITION BY b_ts_ns // {DAY_NS}
           ORDER BY bid DESC, b_ts_ns DESC, bid_id DESC
         ) AS rn
  FROM bids
)
WHERE rn = 1
""",
    tags=("nexmark", "window", "agg"),
)
def nexmark_q7_highest_bid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q7: the single highest bid of each tumbling 1-day
    window, emitted as the full bid row (ties → latest ts, then bid_id).

    Plan: ``max_by(struct(row), struct(price, ts, id))`` under a hash
    aggregate — a two-phase (partial/final) agg on the day bucket, NOT the
    rank-then-filter plan the SQL form suggests: no per-window sort, no
    window-function exchange, and partial aggregation means each map task
    sends exactly one candidate row per window downstream. That is the plan
    that survives 100 TB (a window function would sort every bid).
    The streaming twin of this shape is
    streaming/queries.py::highest_bid (global arg-max per window)."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    win = F.max_by(
        F.struct("bid_id", "item_id", "bidder_id", "bid"),
        F.struct(F.col("bid"), F.col("b_ts_ns"), F.col("bid_id")),
    ).alias("w")
    return (
        bids.withColumn("win_start_s", bucket_start_s("b_ts_ns", DAY_S))
        .groupBy("win_start_s")
        .agg(win)
        .select("win_start_s", "w.bid_id", "w.item_id", "w.bidder_id", "w.bid")
    )


# ---------------------------------------------------------------------------
# Q9 — winning bids, full rows. Canonical NEXMark query 9 / Beam
# NexmarkQuery9 (auction ⋈ its highest in-window bid, both sides' fields).
# ---------------------------------------------------------------------------


@register(
    "nexmark_q9_winning_bid_rows",
    oracle=with_ctes(EV_CTE, AUCTIONS_CTE, BIDS_CTE)
    + f"""
SELECT auction_id, category_id, seller_id, initial_price,
       start_ts_ns // {NS_PER_SEC} AS open_s,
       bid_id, bidder_id, win_bid,
       win_ts_ns // {NS_PER_SEC} AS win_s
FROM (
  SELECT a.auction_id, a.category_id, a.seller_id, a.initial_price,
         a.start_ts_ns,
         b.bid_id, b.bidder_id, b.bid AS win_bid, b.b_ts_ns AS win_ts_ns,
         row_number() OVER (
           PARTITION BY a.auction_id
           ORDER BY b.bid DESC, b.b_ts_ns DESC, b.bid_id DESC
         ) AS rn
  FROM auctions a
  JOIN bids b
    ON b.item_id = a.category_id
   AND b.b_ts_ns >= a.start_ts_ns
   AND b.b_ts_ns < a.end_ts_ns
)
WHERE rn = 1
""",
    tags=("nexmark", "join", "interval", "agg"),
)
def nexmark_q9_winning_bid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q9: each auction joined to its winning (highest,
    ties → latest) in-lifetime bid, emitting both sides' fields — the
    materialized form q4/q6 aggregate over.

    Plan: the day-bucketed interval join (equi-join on (category, day) with
    residual time predicates — the skew-safe re-expression of Flink's
    interval join, see plans/nexmark.py::qx_winning_bids), then one hash
    max_by per auction carrying the auction attributes through the group
    key (functionally dependent on auction_id, so the agg stays one
    shuffle)."""
    joined = auction_bids(nexmark_streams(spark, sf_dir))
    win = F.max_by(
        F.struct("bid_id", "bidder_id", "bid", "b_ts_ns"),
        F.struct(F.col("bid"), F.col("b_ts_ns"), F.col("bid_id")),
    ).alias("w")
    return (
        joined.groupBy(
            "auction_id", "category_id", "seller_id", "initial_price", "start_ts_ns"
        )
        .agg(win)
        .select(
            "auction_id",
            "category_id",
            "seller_id",
            "initial_price",
            epoch_s("start_ts_ns").alias("open_s"),
            "w.bid_id",
            "w.bidder_id",
            F.col("w.bid").alias("win_bid"),
            F.expr(f"w.b_ts_ns DIV {NS_PER_SEC}").alias("win_s"),
        )
    )


# ---------------------------------------------------------------------------
# Q10 — log to file system. Beam NexmarkQuery10: write every event to
# date/hour-partitioned files; the query result is the read-back audit.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q10_log_partitioned",
    oracle=with_ctes(EV_CTE)
    + f"""
SELECT ts_ns // {DAY_NS} AS day_bucket,
       (ts_ns // {HOUR_NS}) % 24 AS hr,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_types
FROM ev
GROUP BY 1, 2
""",
    # "sink" tag: bench.py's DuckDB comparator skips it — the Spark side
    # does a real partitioned file write + read-back, which the one-statement
    # oracle SQL (a pure aggregate over the same rows) cannot mirror.
    tags=("nexmark", "sink"),
)
def nexmark_q10_log_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q10: land the raw event stream in day-partitioned
    parquet (Beam writes date/hour-sharded logs), then audit the landed
    files: per (day, hour) row counts read BACK from the sink directory, so
    the oracle checks the full write→read round trip, not just the agg.

    Scale posture: ``repartition(day)`` before ``partitionBy(day)`` — each
    partition directory is then written by exactly one task. Without it,
    every one of 1000 executors opens a writer per day ⇒ tasks × days tiny
    files; with it, exactly one file per day, and the hour column stays
    inside the file (partition dirs per (day,hour) would be 24× the
    directory fan-out for no pruning benefit at this grain — hour-level
    pruning still happens via parquet min/max on hr).
    Reference sink counterpart: SURVEY.md §2.7 (CSV/latency sinks)."""
    ev = nexmark_streams(spark, sf_dir)["events"]
    base = os.path.join(
        tempfile.gettempdir(),
        f"nexmark_q10_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    log = ev.select(
        "event_id",
        "event_type",
        F.expr(f"ts_ns DIV {DAY_NS}").alias("day_bucket"),
        F.expr(f"(ts_ns DIV {HOUR_NS}) % 24").alias("hr"),
    )
    (
        log.repartition("day_bucket")
        .write.partitionBy("day_bucket")
        .mode("overwrite")
        .parquet(base)
    )
    landed = spark.read.parquet(base)
    return (
        landed.groupBy(
            F.col("day_bucket").cast("long").alias("day_bucket"), "hr"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 — bounded side-input join. Beam NexmarkQuery13: enrich the bid stream
# against a small static side input by key.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q13_side_input_join",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT b.bid_id, b.item_id, b.bidder_id, b.bid,
       s.side_val,
       b.b_ts_ns // {NS_PER_SEC} AS b_ts_s
FROM bids b
JOIN (
  SELECT i AS side_key, 'side_' || CAST(i % 10 AS VARCHAR) AS side_val
  FROM range(0, 100) t(i)
) s ON b.item_id = s.side_key
""",
    tags=("nexmark", "join", "broadcast"),
)
def nexmark_q13_side_input_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q13: every bid enriched from a bounded side input
    (here a derived 100-row key→value table, matching Beam's mod-keyed side
    input). The side input is broadcast — the bid stream never shuffles;
    at 1000 executors this is a map-only stage. The streaming analog is
    plans/streaming_entries.py::stream_static_enrich (same broadcast plan
    under micro-batches)."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    side = spark.range(0, 100).select(
        F.col("id").alias("side_key"),
        F.concat(F.lit("side_"), (F.col("id") % 10).cast("string")).alias(
            "side_val"
        ),
    )
    return (
        bids.join(F.broadcast(side), bids.item_id == side.side_key, "inner")
        .select(
            "bid_id",
            "item_id",
            "bidder_id",
            "bid",
            "side_val",
            epoch_s("b_ts_ns").alias("b_ts_s"),
        )
    )


# ---------------------------------------------------------------------------
# Q14 — calculation. Beam NexmarkQuery14: currency conversion, time-of-day
# classification, range filter, and a scalar char-count — all in one
# stateless pass.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q14_calculation",
    # own CTE (not EV_CTE): q14's countChar needs the raw `props` payload,
    # which the shared ev CTE projects away
    oracle=f"""
WITH ev14 AS (
  SELECT event_id,
         user_id,
         value,
         epoch_ns(ts) AS ts_ns,
         props,
         TRY_CAST(regexp_extract(props, ':\\s*([0-9]+)', 1) AS BIGINT) AS k
  FROM events
  WHERE event_type = 'purchase'
)
SELECT event_id AS bid_id,
       k AS item_id,
       user_id AS bidder_id,
       CAST(CAST(value AS DECIMAL(18,4)) * CAST(0.9080 AS DECIMAL(18,4)) AS DOUBLE)
         AS bid_eur,
       CASE
         WHEN (ts_ns // {HOUR_NS}) % 24 BETWEEN 8 AND 17 THEN 'dayTime'
         WHEN (ts_ns // {HOUR_NS}) % 24 BETWEEN 18 AND 21 THEN 'nightTime'
         ELSE 'otherTime'
       END AS bid_time_type,
       length(props) - length(replace(props, '0', '')) AS c_counts,
       ts_ns // {NS_PER_SEC} AS b_ts_s
FROM ev14
WHERE CAST(CAST(value AS DECIMAL(18,4)) * CAST(0.9080 AS DECIMAL(18,4)) AS DOUBLE)
      > 10.0
""",
    tags=("nexmark", "projection", "filter"),
)
def nexmark_q14_calculation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q14: dollars→euros (decimal-exact ×0.908), filter
    to bids over €10, classify hour-of-day into day/night/other, and count
    a character's occurrences in the raw payload (Beam's `countChar` UDF,
    expressed as length-difference — pure JVM string ops, no Python UDF).
    Stateless single pass, fully codegen'd; the filter folds into the scan
    predicate."""
    ev = nexmark_streams(spark, sf_dir)["events"]
    hr = F.expr(f"(ts_ns DIV {HOUR_NS}) % 24")
    bid_eur = (dec("value") * dec(F.lit("0.9080"))).cast("double")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("bid_id"),
            F.col("k").alias("item_id"),
            F.col("user_id").alias("bidder_id"),
            bid_eur.alias("bid_eur"),
            F.when(hr.between(8, 17), "dayTime")
            .when(hr.between(18, 21), "nightTime")
            .otherwise("otherTime")
            .alias("bid_time_type"),
            (
                F.length("props")
                - F.length(F.regexp_replace("props", "0", ""))
            ).alias("c_counts"),
            epoch_s("ts_ns").alias("b_ts_s"),
        )
        .filter(F.col("bid_eur") > 10.0)
    )


# ---------------------------------------------------------------------------
# Q15 — bidding statistics report. Beam/nexmark-flink query 15: per-day bid
# counts by price range plus distinct-entity counts, one row per day.
# ---------------------------------------------------------------------------

_RANGE_METRICS_SQL = f"""
       count(*) AS total_bids,
       count(*) FILTER (WHERE bid < {_R1}) AS rank1_bids,
       count(*) FILTER (WHERE bid >= {_R1} AND bid < {_R2}) AS rank2_bids,
       count(*) FILTER (WHERE bid >= {_R2}) AS rank3_bids,
       count(DISTINCT bidder_id) AS total_bidders,
       count(DISTINCT bidder_id) FILTER (WHERE bid < {_R1}) AS rank1_bidders,
       count(DISTINCT bidder_id) FILTER (WHERE bid >= {_R1} AND bid < {_R2}) AS rank2_bidders,
       count(DISTINCT bidder_id) FILTER (WHERE bid >= {_R2}) AS rank3_bidders,
       count(DISTINCT item_id) AS total_items,
       count(DISTINCT item_id) FILTER (WHERE bid < {_R1}) AS rank1_items,
       count(DISTINCT item_id) FILTER (WHERE bid >= {_R1} AND bid < {_R2}) AS rank2_items,
       count(DISTINCT item_id) FILTER (WHERE bid >= {_R2}) AS rank3_items
""".strip()


def _range_metrics() -> list:
    """The q15/q16 metric block: plain + filtered counts and distincts.
    Spark rewrites the multi-distinct agg into one expand + two-phase hash
    aggregate — a single shuffle on the group key, no per-distinct jobs."""
    r1 = F.col("bid") < _R1
    r2 = (F.col("bid") >= _R1) & (F.col("bid") < _R2)
    r3 = F.col("bid") >= _R2

    def cnt(cond):
        return F.count(F.when(cond, F.lit(1)))

    def dst(col, cond):
        return F.countDistinct(F.when(cond, F.col(col)))

    return [
        F.count(F.lit(1)).alias("total_bids"),
        cnt(r1).alias("rank1_bids"),
        cnt(r2).alias("rank2_bids"),
        cnt(r3).alias("rank3_bids"),
        F.countDistinct("bidder_id").alias("total_bidders"),
        dst("bidder_id", r1).alias("rank1_bidders"),
        dst("bidder_id", r2).alias("rank2_bidders"),
        dst("bidder_id", r3).alias("rank3_bidders"),
        F.countDistinct("item_id").alias("total_items"),
        dst("item_id", r1).alias("rank1_items"),
        dst("item_id", r2).alias("rank2_items"),
        dst("item_id", r3).alias("rank3_items"),
    ]


@register(
    "nexmark_q15_bidding_stats",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT (b_ts_ns // {DAY_NS}) * {DAY_S} AS day_s,
{_RANGE_METRICS_SQL}
FROM bids
GROUP BY 1
""",
    tags=("nexmark", "agg", "distinct"),
)
def nexmark_q15_bidding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q15: the daily bidding report — bid counts and
    distinct bidder/item counts, total and per price band (bands rescaled
    to the testdata's price distribution; canonical uses $10k/$1M).
    One hash aggregate on the day bucket; the nine distinct columns ride
    Spark's expand-based multi-distinct rewrite (still a single shuffle)."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return (
        bids.withColumn("day_s", bucket_start_s("b_ts_ns", DAY_S))
        .groupBy("day_s")
        .agg(*_range_metrics())
    )


# ---------------------------------------------------------------------------
# Q16 — channel statistics report. nexmark-flink query 16: the q15 metrics
# per (channel, day). Channel is derived (the generic bids carry none).
# ---------------------------------------------------------------------------

_CHANNEL_SQL = """
  CASE item_id % 6
    WHEN 0 THEN 'Apple' WHEN 1 THEN 'Google'
    WHEN 2 THEN 'Baidu' WHEN 3 THEN 'Facebook'
    ELSE 'channel-' || CAST(item_id % 6 AS VARCHAR)
  END
""".strip()


def _channel_col() -> F.Column:
    """Deterministic stand-in for bid.channel (see _CHANNEL_SQL mirror)."""
    m = F.col("item_id") % 6
    return (
        F.when(m == 0, "Apple")
        .when(m == 1, "Google")
        .when(m == 2, "Baidu")
        .when(m == 3, "Facebook")
        .otherwise(F.concat(F.lit("channel-"), m.cast("string")))
    )


@register(
    "nexmark_q16_channel_stats",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT {_CHANNEL_SQL} AS channel,
       (b_ts_ns // {DAY_NS}) * {DAY_S} AS day_s,
{_RANGE_METRICS_SQL}
FROM bids
GROUP BY 1, 2
""",
    tags=("nexmark", "agg", "distinct"),
)
def nexmark_q16_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q16: the q15 report per (channel, day). The
    testdata has no channel column, so channel is derived deterministically
    from the item key (4 named channels + a long tail, mirroring the
    canonical generator's channel skew); both engines derive it
    identically. Same single-shuffle expand-distinct plan as q15."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return (
        bids.withColumn("channel", _channel_col())
        .withColumn("day_s", bucket_start_s("b_ts_ns", DAY_S))
        .groupBy("channel", "day_s")
        .agg(*_range_metrics())
    )


# ---------------------------------------------------------------------------
# Q17 — auction statistics report. nexmark-flink query 17: per (item, day)
# bid counts by band plus min/max/avg/sum of prices.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q17_auction_stats",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT item_id,
       (b_ts_ns // {DAY_NS}) * {DAY_S} AS day_s,
       count(*) AS total_bids,
       count(*) FILTER (WHERE bid < {_R1}) AS rank1_bids,
       count(*) FILTER (WHERE bid >= {_R1} AND bid < {_R2}) AS rank2_bids,
       count(*) FILTER (WHERE bid >= {_R2}) AS rank3_bids,
       min(bid) AS min_price,
       max(bid) AS max_price,
       CAST(CAST(SUM(CAST(bid AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
         / count(*) AS avg_price,
       CAST(CAST(SUM(CAST(bid AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE)
         AS sum_price
FROM bids
GROUP BY 1, 2
""",
    tags=("nexmark", "agg"),
)
def nexmark_q17_auction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q17: per (item, day) — band counts, min/max, and
    decimal-exact avg/sum (associative, so the partial/final hash aggregate
    gives bit-identical results to DuckDB's single-node sum). One shuffle."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    return (
        bids.withColumn("day_s", bucket_start_s("b_ts_ns", DAY_S))
        .groupBy("item_id", "day_s")
        .agg(
            F.count(F.lit(1)).alias("total_bids"),
            F.count(F.when(F.col("bid") < _R1, 1)).alias("rank1_bids"),
            F.count(
                F.when((F.col("bid") >= _R1) & (F.col("bid") < _R2), 1)
            ).alias("rank2_bids"),
            F.count(F.when(F.col("bid") >= _R2, 1)).alias("rank3_bids"),
            F.min("bid").alias("min_price"),
            F.max("bid").alias("max_price"),
            avg_dbl("bid", "avg_price"),
            sum_dbl("bid", "sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 — find the last bid per (bidder, item). nexmark-flink query 18:
# deduplicate to each user's most recent bid per auction via ROW_NUMBER.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q18_last_bid",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT bid_id, item_id, bidder_id, bid, b_ts_ns // {NS_PER_SEC} AS b_ts_s
FROM (
  SELECT *,
         row_number() OVER (
           PARTITION BY bidder_id, item_id
           ORDER BY b_ts_ns DESC, bid_id DESC
         ) AS rn
  FROM bids
)
WHERE rn = 1
""",
    tags=("nexmark", "window", "dedup"),
)
def nexmark_q18_last_bid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q18: each bidder's most recent bid per item
    (ROW_NUMBER dedup, the canonical changelog-compaction shape).

    Plan: max_by hash aggregate on (bidder, item) instead of the SQL's
    rank-filter — partial aggregation collapses each group to one row
    map-side, so the shuffle moves |groups| rows, not |bids|; a window
    rank would shuffle + sort the full stream. Streaming twin:
    dropDuplicatesWithinWatermark (tests/test_streaming_dedup.py)."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    last = F.max_by(
        F.struct("bid_id", "bid", "b_ts_ns"),
        F.struct(F.col("b_ts_ns"), F.col("bid_id")),
    ).alias("w")
    return (
        bids.groupBy("bidder_id", "item_id")
        .agg(last)
        .select(
            "w.bid_id",
            "item_id",
            "bidder_id",
            F.col("w.bid").alias("bid"),
            F.expr(f"w.b_ts_ns DIV {NS_PER_SEC}").alias("b_ts_s"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 — auction TOP-10 bids. nexmark-flink query 19: the ten highest bids
# per item, rank attached.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q19_auction_top10",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT bid_id, item_id, bidder_id, bid, rn AS price_rank,
       b_ts_ns // {NS_PER_SEC} AS b_ts_s
FROM (
  SELECT *,
         row_number() OVER (
           PARTITION BY item_id
           ORDER BY bid DESC, b_ts_ns DESC, bid_id DESC
         ) AS rn
  FROM bids
)
WHERE rn <= 10
""",
    tags=("nexmark", "window", "topk"),
)
def nexmark_q19_auction_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q19: top-10 bids by price per item, with rank.

    Unlike q7/q18 (argmax ⇒ aggregate), top-K-with-rank genuinely needs the
    window rank; the partition key (item) bounds the sort to one item's
    bids, and Catalyst inserts a WindowGroupLimit (top-K pushdown) below
    the shuffle, so each map task forwards only its local top 10 per item —
    the 100-TB-safe form of this query. Deterministic ties via
    (ts, bid_id)."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    w = Window.partitionBy("item_id").orderBy(
        F.col("bid").desc(), F.col("b_ts_ns").desc(), F.col("bid_id").desc()
    )
    return (
        bids.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "bid_id",
            "item_id",
            "bidder_id",
            "bid",
            F.col("rn").alias("price_rank"),
            epoch_s("b_ts_ns").alias("b_ts_s"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 — expand bid with auction. nexmark-flink query 20: enrich each bid
# with its auction's metadata. The generic keys are category-grained, so
# "its auction" = the latest auction in the bid's category open at bid time
# (AS-OF semantics — the deterministic 1:1 enrichment).
# ---------------------------------------------------------------------------


@register(
    "nexmark_q20_bid_auction",
    oracle=with_ctes(EV_CTE, AUCTIONS_CTE, BIDS_CTE)
    + f"""
SELECT bid_id, item_id, bidder_id, bid,
       b_ts_ns // {NS_PER_SEC} AS b_ts_s,
       auction_id, seller_id, initial_price,
       a_start_ns // {NS_PER_SEC} AS auction_open_s
FROM (
  SELECT b.bid_id, b.item_id, b.bidder_id, b.bid, b.b_ts_ns,
         a.auction_id, a.seller_id, a.initial_price,
         a.start_ts_ns AS a_start_ns,
         row_number() OVER (
           PARTITION BY b.bid_id
           ORDER BY a.start_ts_ns DESC, a.auction_id DESC
         ) AS rn
  FROM bids b
  JOIN auctions a
    ON a.category_id = b.item_id AND a.start_ts_ns <= b.b_ts_ns
)
WHERE rn = 1
""",
    tags=("nexmark", "join", "asof-join"),
)
def nexmark_q20_bid_auction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q20: each bid expanded with its auction's metadata.
    With category-grained keys, "its auction" is the most recently opened
    auction in the category at bid time — an AS-OF join.

    Plan: the union-tag single-window-pass AS-OF (same scale rationale as
    plans/nexmark.py::bids_asof_profile — each row moves exactly once
    through one hash partition on category; no theta-join blowup). The
    oracle expresses identical semantics as rank-over-theta-join, which is
    quadratic per category — fine at oracle scale, and exactly why the
    Spark side does NOT use that plan. Tiebreak on same-instant opens:
    auction_id (kind asc puts auctions before bids at equal ts, matching
    the <= bound)."""
    s = nexmark_streams(spark, sf_dir)
    a = s["auctions"].select(
        F.col("category_id").alias("cat"),
        F.col("start_ts_ns").alias("t_ns"),
        F.lit(0).alias("kind"),
        "auction_id",
        "seller_id",
        "initial_price",
        F.lit(None).cast("long").alias("bid_id"),
        F.lit(None).cast("long").alias("bidder_id"),
        F.lit(None).cast("double").alias("bid"),
    )
    b = s["bids"].select(
        F.col("item_id").alias("cat"),
        F.col("b_ts_ns").alias("t_ns"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("auction_id"),
        F.lit(None).cast("long").alias("seller_id"),
        F.lit(None).cast("double").alias("initial_price"),
        "bid_id",
        "bidder_id",
        "bid",
    )
    # order by (ts, kind, auction_id): auctions precede bids at the same
    # instant (AS-OF <= bound) and same-instant auctions resolve to the
    # highest auction_id — mirroring the oracle's DESC tiebreak
    w = (
        Window.partitionBy("cat")
        .orderBy("t_ns", "kind", "auction_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = a.unionByName(b).select(
        "*",
        F.last(F.when(F.col("kind") == 0, F.col("auction_id")), ignorenulls=True)
        .over(w)
        .alias("asof_auction_id"),
        F.last(F.when(F.col("kind") == 0, F.col("seller_id")), ignorenulls=True)
        .over(w)
        .alias("asof_seller_id"),
        F.last(
            F.when(F.col("kind") == 0, F.col("initial_price")), ignorenulls=True
        )
        .over(w)
        .alias("asof_initial_price"),
        F.last(F.when(F.col("kind") == 0, F.col("t_ns")), ignorenulls=True)
        .over(w)
        .alias("asof_start_ns"),
    )
    return (
        tagged.filter((F.col("kind") == 1) & F.col("asof_auction_id").isNotNull())
        .select(
            "bid_id",
            F.col("cat").alias("item_id"),
            "bidder_id",
            "bid",
            F.expr(f"t_ns DIV {NS_PER_SEC}").alias("b_ts_s"),
            F.col("asof_auction_id").alias("auction_id"),
            F.col("asof_seller_id").alias("seller_id"),
            F.col("asof_initial_price").alias("initial_price"),
            F.expr(f"asof_start_ns DIV {NS_PER_SEC}").alias("auction_open_s"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 — add channel id. nexmark-flink query 21: map well-known channel
# names to fixed ids, extract the id from the URL otherwise (regex).
# ---------------------------------------------------------------------------


@register(
    "nexmark_q21_channel_id",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT bid_id, item_id, bidder_id, channel,
       CASE lower(channel)
         WHEN 'apple' THEN '0' WHEN 'google' THEN '1'
         WHEN 'baidu' THEN '2' WHEN 'facebook' THEN '3'
         ELSE regexp_extract(
           'https://ch.example.com/q?channel_id=' || CAST(item_id % 6 AS VARCHAR),
           'channel_id=([^&]*)', 1)
       END AS channel_id
FROM (SELECT *, {_CHANNEL_SQL} AS channel FROM bids)
""",
    tags=("nexmark", "projection", "regex"),
)
def nexmark_q21_channel_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q21: normalize channels to ids — the four big
    channels map via CASE, the long tail extracts `channel_id=` from its
    (derived) URL with a regex, exactly the canonical query's shape.
    Stateless; CASE + regexp_extract are codegen'd JVM expressions."""
    bids = nexmark_streams(spark, sf_dir)["bids"].withColumn(
        "channel", _channel_col()
    )
    url = F.concat(
        F.lit("https://ch.example.com/q?channel_id="),
        (F.col("item_id") % 6).cast("string"),
    )
    lc = F.lower(F.col("channel"))
    return bids.select(
        "bid_id",
        "item_id",
        "bidder_id",
        "channel",
        F.when(lc == "apple", "0")
        .when(lc == "google", "1")
        .when(lc == "baidu", "2")
        .when(lc == "facebook", "3")
        .otherwise(F.regexp_extract(url, "channel_id=([^&]*)", 1))
        .alias("channel_id"),
    )


# ---------------------------------------------------------------------------
# Q22 — get URL directories. nexmark-flink query 22: split the bid URL into
# its directory components with SPLIT_INDEX.
# ---------------------------------------------------------------------------


@register(
    "nexmark_q22_url_dirs",
    oracle=with_ctes(EV_CTE, BIDS_CTE)
    + f"""
SELECT bid_id, item_id, bidder_id, bid,
       split_part(url, '/', 4) AS dir1,
       split_part(url, '/', 5) AS dir2,
       split_part(url, '/', 6) AS dir3
FROM (
  SELECT *,
         'https://www.nexmark.com/d' || CAST(item_id % 7 AS VARCHAR) ||
         '/d' || CAST(bidder_id % 5 AS VARCHAR) ||
         '/d' || CAST(bid_id % 3 AS VARCHAR) || '/item.htm' AS url
  FROM bids
)
""",
    tags=("nexmark", "projection", "string"),
)
def nexmark_q22_url_dirs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical Nexmark q22: SPLIT_INDEX over the bid URL → directory
    components (URL derived deterministically from the bid keys; both
    engines build the identical string). split_part is 1-indexed in both
    Spark and DuckDB. Stateless, codegen'd."""
    bids = nexmark_streams(spark, sf_dir)["bids"]
    url = F.concat(
        F.lit("https://www.nexmark.com/d"),
        (F.col("item_id") % 7).cast("string"),
        F.lit("/d"),
        (F.col("bidder_id") % 5).cast("string"),
        F.lit("/d"),
        (F.col("bid_id") % 3).cast("string"),
        F.lit("/item.htm"),
    )
    u = F.col("url")
    return (
        bids.withColumn("url", url)
        .select(
            "bid_id",
            "item_id",
            "bidder_id",
            "bid",
            F.split_part(u, F.lit("/"), F.lit(4)).alias("dir1"),
            F.split_part(u, F.lit("/"), F.lit(5)).alias("dir2"),
            F.split_part(u, F.lit("/"), F.lit(6)).alias("dir3"),
        )
    )
