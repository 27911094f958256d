"""Testdata loaders and the derived Nexmark stream views.

The driver supplies generic tables (TESTDATA.md): TPC-H-ish relations plus a
unified ``events`` stream (event_id, ts, user_id, event_type, value, props)
and ``documents`` / ``embeddings`` for the pipeline operators. The reference
engine's data model is three Nexmark streams — Person / Auction / Bid
(reference: src/main/java/io/ventura/nexmark/beans/NewPersonEvent0.java:19-29,
AuctionEvent0.java:30-41, BidEvent0.java:22-27) interleaved 1:4:4 on one
unified stream (common/NexmarkCommon.java:9-12). We therefore *derive* the
three streams deterministically from ``events``, exactly as the reference
filters its unified Kafka topic by event-type tag
(NexmarkQuery5b/NexmarkQuery5b.java:129-136):

  persons  := events where event_type = 'signup'   (new-person events)
  auctions := events where event_type = 'view'     (new-auction listings)
  bids     := events where event_type = 'purchase' (bids; price = value)

Join keys: ``user_id`` plays personId (seller/bidder), the ``props`` JSON key
``k`` (0..99) plays the hot-item/category space. Every derivation below is
mirrored verbatim by a DuckDB CTE so the correctness oracle sees the same
logical tables.

Timestamps arrive as epoch **nanosecond** longs (parquet TIMESTAMP(NANOS) via
``nanosAsLong``). We keep the raw integer as ``*_ns`` (exact, engine-neutral
arithmetic for bucketing) and materialize a proper TimestampType column for
Spark window/session/interval operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure_runtime

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns stored as TIMESTAMP(NANOS) → read as long ns; converted on load
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

NS_PER_SEC = 1_000_000_000


# (session id, sf_dir, name) → DataFrame; DataFrames are lazy plans, so
# caching them just skips re-reading parquet footers on every query build
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def normalize_ts(df: DataFrame, c: str) -> DataFrame:
    """Give ``df`` both ``c`` as TimestampType (microsecond precision — what
    Spark's window/interval operators need) and ``c_ns``, the exact
    epoch-nanos BIGINT (what oracle-checked arithmetic uses). The
    testdata has shipped the column both ways; the batch loader and the
    stream sources share this one normalization."""
    if dict(df.dtypes)[c] == "bigint":
        # parquet TIMESTAMP(NANOS) read via nanosAsLong
        return df.withColumn(f"{c}_ns", F.col(c)).withColumn(
            c, F.timestamp_micros(F.expr(f"{c}_ns DIV 1000"))
        )
    # parquet TIMESTAMP(MICROS) → arrives as TIMESTAMP_NTZ; normalize to
    # TimestampType (session tz pinned to UTC in session.py, so the cast is
    # a pure relabel) — NTZ cannot cast to numeric types and would break
    # every plan that buckets on epoch seconds
    return df.withColumn(c, F.col(c).cast("timestamp")).withColumn(
        f"{c}_ns", F.unix_micros(F.col(c)) * F.lit(1000)
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table, normalizing nano-timestamp columns
    (``normalize_ts``)."""
    key = (id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    configure_runtime(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    for c in _TS_COLUMNS.get(name, ()):
        df = normalize_ts(df, c)
    _TABLE_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def with_item_key(ev: DataFrame) -> DataFrame:
    """The events frame plus ``k``, the item key parsed from props JSON.
    Batch and stream sources both derive it here."""
    return ev.withColumn(
        "k", F.regexp_extract("props", r":\s*([0-9]+)", 1).cast("long")
    )


def events_with_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified event stream + the derived item key ``k`` from props JSON."""
    return with_item_key(load_table(spark, sf_dir, "events"))


def nexmark_streams(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Derive the persons / auctions / bids streams (plus the raw unified
    stream) from the driver's ``events`` table (``nexmark_frames``)."""
    return nexmark_frames(events_with_key(spark, sf_dir))


def nexmark_frames(ev: DataFrame) -> dict[str, DataFrame]:
    """Persons / auctions / bids (plus ``ev`` itself) from an events frame
    that carries ``k`` — batch or streaming, the one derivation both
    ``nexmark_streams`` and ``streaming.sources.stream_nexmark`` use.

    Mirrors of the reference beans (field-for-field where the generic data
    can express them):
      persons  ~ NewPersonEvent0  (personId, name, ts, ingestionTimestamp)
      auctions ~ AuctionEvent0    (auctionId, personId=seller, categoryId,
                                   initialPrice, start, end)
      bids     ~ BidEvent0        (bidId, auctionId-space key, personId, bid)
    Auction lifetime start/end mirrors NexmarkAuctionSource.java:67
    (end = ts + fixed duration); we use 3 days to match the testdata's
    month-long event horizon.
    """
    persons = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("person_id"),
        F.col("user_id"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("name"),
        F.col("ts").alias("p_ts"),
        F.col("ts_ns").alias("p_ts_ns"),
    )

    auctions = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("auction_id"),
        F.col("user_id").alias("seller_id"),
        F.col("k").alias("category_id"),
        F.col("value").alias("initial_price"),
        F.col("ts").alias("start_ts"),
        F.col("ts_ns").alias("start_ts_ns"),
        F.expr("ts + INTERVAL 3 DAYS").alias("end_ts"),
        (F.col("ts_ns") + F.lit(3 * 86400 * NS_PER_SEC)).alias("end_ts_ns"),
    )

    bids = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("bid_id"),
        F.col("k").alias("item_id"),
        F.col("user_id").alias("bidder_id"),
        F.col("value").alias("bid"),
        F.col("ts").alias("b_ts"),
        F.col("ts_ns").alias("b_ts_ns"),
    )

    return {"events": ev, "persons": persons, "auctions": auctions, "bids": bids}


# --- DuckDB oracle mirrors -------------------------------------------------
# The driver pre-registers the raw parquet tables as DuckDB views named
# region/nation/.../events/documents/embeddings. Each oracle SQL is
# self-contained: it composes these CTEs on top of those views. They MUST
# stay semantically identical to the Spark derivations above.

EV_CTE = """
ev AS (
  SELECT event_id,
         user_id,
         event_type,
         value,
         ts,
         epoch_ns(ts) AS ts_ns,
         TRY_CAST(regexp_extract(props, ':\\s*([0-9]+)', 1) AS BIGINT) AS k
  FROM events
)
""".strip()

PERSONS_CTE = """
persons AS (
  SELECT event_id AS person_id,
         user_id,
         'user_' || CAST(user_id AS VARCHAR) AS name,
         ts AS p_ts,
         ts_ns AS p_ts_ns
  FROM ev WHERE event_type = 'signup'
)
""".strip()

AUCTIONS_CTE = """
auctions AS (
  SELECT event_id AS auction_id,
         user_id AS seller_id,
         k AS category_id,
         value AS initial_price,
         ts AS start_ts,
         ts_ns AS start_ts_ns,
         ts + INTERVAL 3 DAY AS end_ts,
         ts_ns + 259200000000000 AS end_ts_ns
  FROM ev WHERE event_type = 'view'
)
""".strip()

BIDS_CTE = """
bids AS (
  SELECT event_id AS bid_id,
         k AS item_id,
         user_id AS bidder_id,
         value AS bid,
         ts AS b_ts,
         ts_ns AS b_ts_ns
  FROM ev WHERE event_type = 'purchase'
)
""".strip()


def with_ctes(*ctes: str) -> str:
    """Compose CTE fragments into a WITH prefix for an oracle query."""
    return "WITH " + ",\n".join(ctes) + "\n"
