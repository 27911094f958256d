"""Structured Streaming twins of the batch query plans.

Each builder takes streaming DataFrames (streaming/sources.py) and returns a
streaming DataFrame with the SAME output schema as the batch plan in
plans/nexmark.py, so tests assert batch ≡ stream on bounded replay.

Watermarking mirrors W1 (BoundedOutOfOrdernessTimestampExtractor, 1-2 s
disorder applied to every input — NexmarkQuery8.java:488-501): every stream
gets ``withWatermark`` before any stateful operator. State retention at
100 TB scale is bounded by these watermarks — the reference's Q8/Q11 ListState
actually grew forever (NexmarkQuery8.java:634, never cleared); we impose the
bound and document the divergence (SURVEY.md §7 "What's hard").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import avg_dbl, sum_dbl

WATERMARK = "2 seconds"


def q5_hot_items_stream(bids: DataFrame, window: str = "1 hour") -> DataFrame:
    """Streaming hot items [A1]: windowed max/count per item key. Partial
    (map-side) aggregation + state store per (item, window)."""
    return (
        bids.withWatermark("b_ts", WATERMARK)
        .groupBy(
            F.window("b_ts", window).alias("w"),
            F.col("item_id").alias("auction_id"),
        )
        .agg(
            F.max("bid").alias("max_bid"),
            F.count(F.lit(1)).alias("bid_count"),
            F.expr("CAST(max(b_ts_ns) DIV 1000000000 AS BIGINT)").alias(
                "last_bid_ts_s"
            ),
        )
        .select(
            "auction_id",
            F.col("w.start").cast("long").alias("w_start_s"),
            "max_bid",
            "bid_count",
            "last_bid_ts_s",
        )
    )


def q7_highest_bid_stream(bids: DataFrame, window: str = "1 day") -> DataFrame:
    """Streaming canonical q7 [highest bid per tumbling window]: windowed
    arg-max emitting the full winning bid row. Same max_by partial/final
    aggregate as the batch plan (plans/nexmark_suite.py) under a streaming
    state store — one candidate row of state per open window, the Beam
    NexmarkQuery7 Max.withFanout shape without the fanout (the combiner
    already runs map-side)."""
    win = F.max_by(
        F.struct("bid_id", "item_id", "bidder_id", "bid"),
        F.struct(F.col("bid"), F.col("b_ts_ns"), F.col("bid_id")),
    ).alias("w")
    return (
        bids.withWatermark("b_ts", WATERMARK)
        .groupBy(F.window("b_ts", window).alias("win"))
        .agg(win)
        .select(
            F.col("win.start").cast("long").alias("win_start_s"),
            "w.bid_id",
            "w.item_id",
            "w.bidder_id",
            "w.bid",
        )
    )


def q8_join_stream(persons: DataFrame, auctions: DataFrame) -> DataFrame:
    """Streaming persons⋈auctions [J1/J2]: watermarked stream-stream inner
    join on (user, tumbling day). Catalyst plans
    StreamingSymmetricHashJoinExec; watermark bounds both state stores.
    Emits raw join rows (the aggregation to per-person counts is the batch
    plan's second step — kept separate here so append-mode semantics stay
    exact on bounded replay)."""
    p = persons.withWatermark("p_ts", WATERMARK).withColumn(
        "w", F.window("p_ts", "1 day")
    )
    a = (
        auctions.withWatermark("start_ts", WATERMARK)
        .withColumn("w", F.window("start_ts", "1 day"))
        .withColumnRenamed("seller_id", "user_id")
        .select("user_id", "w", "auction_id", "start_ts_ns")
    )
    return p.join(a, ["user_id", "w"], "inner").select(
        "person_id",
        "user_id",
        F.col("w.start").cast("long").alias("w_start_s"),
        "auction_id",
        "start_ts_ns",
    )


def q11_join_stream(persons: DataFrame, bids: DataFrame) -> DataFrame:
    """Streaming persons⋈bids [J3] — same shape as Q8 on the bid stream."""
    p = persons.withWatermark("p_ts", WATERMARK).withColumn(
        "w", F.window("p_ts", "1 day")
    )
    b = (
        bids.withWatermark("b_ts", WATERMARK)
        .withColumn("w", F.window("b_ts", "1 day"))
        .withColumnRenamed("bidder_id", "user_id")
        .select("user_id", "w", "bid_id", "bid")
    )
    return p.join(b, ["user_id", "w"], "inner").select(
        "person_id",
        "user_id",
        F.col("w.start").cast("long").alias("w_start_s"),
        "bid_id",
        "bid",
    )


def qx_winning_bids_stream(auctions: DataFrame, bids: DataFrame) -> DataFrame:
    """Streaming winning-bid interval join [J4]: bids fall in the auction's
    [start, end) on the item key — the watermark passing auction.end is the
    declarative twin of the reference's per-auction event-time timer
    (NexmarkQueryX.java:465,476-494). Emits the joined bid stream; the
    per-auction max_by reduction is applied by the caller (batch) or a
    downstream aggregation (continuous)."""
    a = auctions.withWatermark("start_ts", WATERMARK).select(
        "auction_id", "seller_id", "category_id", "start_ts", "end_ts", "start_ts_ns", "end_ts_ns"
    )
    b = bids.withWatermark("b_ts", WATERMARK)
    return a.join(
        b,
        (b.item_id == a.category_id)
        & (b.b_ts >= a.start_ts)
        & (b.b_ts < a.end_ts),
        "inner",
    ).select("auction_id", "seller_id", "bid_id", "bid", "b_ts_ns")


def sessions_stream(bids: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Streaming session windows per bidder [A5]: native session_window with
    watermark-driven merge+emit; lateness bound = watermark (the reference's
    allowedLateness(15 s), NexmarkQueryX.java:279-281)."""
    return (
        bids.withWatermark("b_ts", WATERMARK)
        .groupBy(F.session_window(F.col("b_ts"), gap).alias("sw"), F.col("bidder_id"))
        .agg(F.count(F.lit(1)).alias("n_bids"), F.max("bid").alias("max_bid"))
        .select(
            "bidder_id",
            F.col("sw.start").cast("long").alias("sess_start_s"),
            F.col("sw.end").cast("long").alias("sess_end_s"),
            "n_bids",
            "max_bid",
        )
    )


def event_type_stats_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``event_type_stats`` (per-type counts +
    value stats over the unified stream — the S6 dispatch surface). A
    global unwindowed aggregation, so complete-mode output; the decimal
    sum keeps the avg order-insensitive exactly as the batch plan does
    (ADVICE r4: the CLI previously ran the q7 windowed arg-max under this
    name — a different query entirely)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        sum_dbl("value", "sum_value"),
        avg_dbl("value", "avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def cm_stream(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Streaming CM windowed sum [A4]: tumbling sum(value) per job key."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", window).alias("w"), F.col("user_id").alias("job_id"))
        .agg(
            sum_dbl("value", "total_cpu"),
            F.count(F.lit(1)).alias("n_records"),
        )
        .select(
            "job_id",
            F.col("w.start").cast("long").alias("w_start_s"),
            "total_cpu",
            "n_records",
        )
    )
