"""Streaming ingestion: file-stream replay of the testdata (the Spark twin of
the reference's mmap'ed binary file sources, S7 —
NexmarkQuery5/NexmarkQuery5File.java:161-223 etc.) and a gated Kafka reader
(S5/S6 — NexmarkQuery8.java:506-539, topic constants
common/NexmarkCommon.java:5-7).

Bounded-replay semantics (the reference's ``isEndOfStream`` when the backlog
is exhausted, source/PersonDeserializationSchema.java:102-104) map to
``Trigger.AvailableNow`` in the runner (streaming/runner.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure_runtime
from ..sources.tables import nexmark_frames, normalize_ts, with_item_key

# schema-inference cache for the replay source: the footer read is a real
# Spark job (~0.15-0.3 s) re-paid on every replay construction otherwise.
# Keyed on (path, mtime_ns) so a regenerated table re-infers. In production
# the stream schema is declared once per job, not per query — this cache
# reproduces that, it doesn't hide data-dependent work.
_SCHEMA_CACHE: dict[tuple, object] = {}


def cached_parquet_schema(spark: SparkSession, path: str):
    import os

    key = (path, os.stat(path).st_mtime_ns)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return schema


def _normalize_events(sdf: DataFrame) -> DataFrame:
    """Normalization shared by every events stream source — the batch
    loader's ts handling (sources.tables.normalize_ts) plus k, the item key
    parsed from props."""
    return with_item_key(normalize_ts(sdf, "ts"))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream the driver's events table with the same derived columns
    the batch loader produces (ts from nanos, item key k from props)."""
    configure_runtime(spark)
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    schema = cached_parquet_schema(spark, path)
    # the file source wants a directory: stream the sf dir, glob to one table
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return _normalize_events(sdf)


def stream_events_dir(spark: SparkSession, dir_path: str, schema) -> DataFrame:
    """Events stream over an arbitrary directory of raw-schema parquet
    files — ONE file source for callers that stage extra raw-schema files
    (e.g. the flush sentinel) next to the events table, instead of a
    two-source union whose second source pays its own listing/offset-log/
    getBatch machinery every micro-batch."""
    configure_runtime(spark)
    return _normalize_events(spark.readStream.schema(schema).parquet(dir_path))


def stream_nexmark(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Streaming persons/auctions/bids — sources.tables.nexmark_frames over
    the file stream."""
    return nexmark_frames(stream_events(spark, sf_dir))


def _kafka_raw_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str,
) -> DataFrame:
    """readStream.format("kafka") → (key string, value string). Requires the
    spark-sql-kafka connector on the classpath (the test container has no
    Kafka, so brokered ingestion is exercised only on real deployments; the
    decode plan itself is broker-independent and tested file-backed)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def _kafka_raw_binary_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str,
) -> DataFrame:
    """readStream.format("kafka") keeping the value as BINARY — the shape
    the reference's framed wire formats need (each Kafka message value is
    one 8192-byte frame; NexmarkQuery8.java:506-539 consumes them per
    message). Connector-gated like the JSON variant."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(F.col("value").alias("frame"))


def stream_kafka_binary_persons(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "nexmark-persons",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka ingestion of the reference's FRAMED BINARY person wire format
    (S5: 8 KiB frames of 206-byte records,
    PersonDeserializationSchema.java:26-104): message value = one frame,
    decoded by the IDENTICAL column plan as the file decoder
    (sources.binary.decode_person_frame_col — conv(hex()) slices, zero
    Python), so file replay and brokered ingestion cannot drift. The
    broker-less round-trip proof is tests/test_kafka_binary.py."""
    from ..sources.binary import decode_person_frame_col

    return decode_person_frame_col(
        _kafka_raw_binary_stream(spark, bootstrap_servers, topic, starting_offsets)
    )


def stream_kafka_binary_bids(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "nexmark-bids",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Framed binary bid ingestion (32-byte records, checksum 0xdeedbeaf,
    BidDesearializationSchema.java:19,38-49) — shared column plan with the
    file decoder, including the bit-exact IEEE-754 price reconstruction."""
    from ..sources.binary import decode_bid_frame_col

    return decode_bid_frame_col(
        _kafka_raw_binary_stream(spark, bootstrap_servers, topic, starting_offsets)
    )


def stream_kafka_binary_auctions(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "nexmark-auctions",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Framed binary auction ingestion (269-byte records,
    AuctionsDeserializationSchema.java:14,57-67)."""
    from ..sources.binary import decode_auction_frame_col

    return decode_auction_frame_col(
        _kafka_raw_binary_stream(spark, bootstrap_servers, topic, starting_offsets)
    )


def stream_kafka_events(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "nexmark-events",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka ingestion of the unified generator topic (S6). The reference
    decodes a 1-byte type tag + fixed-width binary layout
    (beans/Serializer.java:200-260); we carry JSON payloads — same logical
    content, Spark-native decode.

    The decode is the SAME function the producer contract is defined by
    (``sources.writer.decode_event_json``, the inverse of
    ``event_json_payload`` which feeds ``events_to_kafka_json`` on this same
    default topic) — consumer and producer cannot drift apart because they
    share one schema definition, and the pairing is proven by the
    file-backed round-trip test (tests/test_kafka_contract.py)."""
    from ..sources.writer import decode_event_json

    return decode_event_json(
        _kafka_raw_stream(spark, bootstrap_servers, topic, starting_offsets)
    )


def stream_kafka_driver_events(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "driver-events",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka ingestion of the DRIVER-events contract — JSON rows shaped like
    the testdata ``events`` table (user_id, event_type string, value, k).
    Deliberately a DIFFERENT default topic from the generator contract above:
    the two payload schemas must never share a topic (decoding one with the
    other's schema yields all-NULL columns)."""
    kv = _kafka_raw_stream(spark, bootstrap_servers, topic, starting_offsets)
    return decode_driver_event_json(kv)


def driver_event_json_payload(events: DataFrame) -> DataFrame:
    """(key, value) rows for the driver-events topic: key = user_id (the
    partitioning key), value = JSON of the events-table columns."""
    return events.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(
            F.struct("event_id", "ts_ns", "user_id", "event_type", "value", "k")
        ).alias("value"),
    )


def decode_driver_event_json(kv: DataFrame) -> DataFrame:
    """Inverse of ``driver_event_json_payload`` — shared by the Kafka
    consumer and the file-backed contract test."""
    payload = F.col("value")
    return kv.select(
        F.get_json_object(payload, "$.event_id").cast("long").alias("event_id"),
        F.get_json_object(payload, "$.ts_ns").cast("long").alias("ts_ns"),
        F.get_json_object(payload, "$.user_id").cast("long").alias("user_id"),
        F.get_json_object(payload, "$.event_type").alias("event_type"),
        F.get_json_object(payload, "$.value").cast("double").alias("value"),
        F.get_json_object(payload, "$.k").cast("long").alias("k"),
    ).withColumn("ts", F.timestamp_micros(F.expr("ts_ns DIV 1000")))
