"""Generator pipeline sinks — the Spark twin of the reference's generator job
(S4/K2: generator/GeneratorPipeline.java:93-252 — synthetic interleaved
events produced into Kafka with a murmur3-on-key partitioner).

``events_to_parquet`` is the file-backed variant used for soak tests and for
producing replayable fixtures; ``events_to_kafka_json`` mirrors the Kafka
producer (key-partitioned by the event's key, JSON payload) and requires the
spark-sql-kafka connector on a real deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def events_to_parquet(
    events: DataFrame, path: str, partition_cols: tuple[str, ...] = ("event_type",)
) -> None:
    """Write a (batch) generated event table as partitioned parquet — the
    replayable-fixture path. Partitioning by event type mirrors the
    per-stream Kafka topics (NexmarkCommon.java:5-7): downstream per-stream
    readers prune to their partition."""
    events.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def event_json_payload(
    events: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(key, value) rows ready for a Kafka sink: key = the record's hot-key
    (partitioning key, the producer's murmur3 input —
    GeneratorPipeline.java:198-252), value = JSON payload. With
    ``num_partitions`` set, adds the explicit ``partition`` column Spark's
    Kafka sink honors, computed by the reference's murmur3-on-key
    partitioner (``murmur3_partition_col``) instead of Kafka's default
    murmur2 — byte-identical placement to the reference producer."""
    out = events.select(
        F.col("ref_person_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                "event_id", "event_type", "ts_ns", "person_id",
                "ref_person_id", "ref_auction_id", "price",
            )
        ).alias("value"),
        F.col("ref_person_id").alias("_key_long"),
    )
    if num_partitions is not None:
        out = out.withColumn(
            "partition", murmur3_partition_col("_key_long", num_partitions)
        )
    return out.drop("_key_long")


def events_to_kafka_json(
    events: DataFrame, bootstrap_servers: str, topic: str = "nexmark-events"
):
    """Streaming Kafka producer (K2). Connector-gated: needs
    spark-sql-kafka-0-10 on the classpath (not in this container)."""
    return (
        event_json_payload(events)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .start()
    )


def compact_parquet(
    df, path: str, target_rows_per_file: int = 1_000_000, partition_cols: tuple = ()
) -> None:
    """Small-files compaction — the 100 TB hygiene pass: rewrite a dataset
    into files of ~target_rows_per_file (AQE-coalesced partitions +
    maxRecordsPerFile cap). A day of streaming micro-batch output produces
    thousands of small files; scans over them pay per-file open cost and
    planning overhead until compacted."""
    n = df.count()
    n_parts = max(1, (n + target_rows_per_file - 1) // target_rows_per_file)
    writer = (
        df.repartition(n_parts)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


_M32 = 0xFFFFFFFF


def murmur3_hash32(data: bytes, offset: int = 0, length: int | None = None,
                   seed: int = 104729) -> int:
    """The reference producer's key partitioner hash — MurmurHash3 x86_32
    as vendored from Hive in GeneratorPipeline.java:213-252 (including its
    absolute-value quirk: a negative hash is negated, and MIN_INT maps to
    0). Used driver-side and in tests as the ground truth the column
    implementation must match."""
    if length is None:
        length = len(data) - offset
    h = seed
    nblocks = length >> 2
    for i in range(nblocks):
        j = offset + (i << 2)
        k = data[j] | (data[j + 1] << 8) | (data[j + 2] << 16) | (data[j + 3] << 24)
        k = (k * 0xCC9E2D51) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * 0x1B873593) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    idx = nblocks << 2
    k1 = 0
    rem = length - idx
    # Java's fall-through tail: bytes are SIGN-EXTENDED ints there; for the
    # shifted cases only the low 24/16 bits the hash sees differ, so mask
    if rem == 3:
        k1 ^= (((data[offset + idx + 2] ^ 0x80) - 0x80) << 16) & _M32
    if rem >= 2:
        k1 ^= (((data[offset + idx + 1] ^ 0x80) - 0x80) << 8) & _M32
    if rem >= 1:
        k1 ^= ((data[offset + idx] ^ 0x80) - 0x80) & _M32
        k1 = (k1 * 0xCC9E2D51) & _M32
        k1 = ((k1 << 15) | (k1 >> 17)) & _M32
        k1 = (k1 * 0x1B873593) & _M32
        h ^= k1
    h ^= length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    code = h - (1 << 32) if h >= (1 << 31) else h
    if code >= 0:
        return code
    return -code if code != -(1 << 31) else 0


def _let(c, body):
    """``body(c)`` with ``c`` bound once: a one-element ``transform`` binds
    it to a lambda variable, so a body that reads its input several times
    does not copy the input's expression tree into each read (chained,
    the copies would double the tree at every step)."""
    return F.transform(F.array(c), body)[0]


def murmur3_partition_col(key_long, num_partitions: int):
    """The reference partitioner as a PURE COLUMN expression: Kafka
    partition = hash32(first 4 key bytes, seed 104729) % num_partitions,
    where the key is the event's 8-byte big-endian long
    (Serializer.java:171-176) — so the hashed block is the byte-swapped
    HIGH 32 bits of the key. All 32-bit Java int wrap-around is emulated
    with masked BIGINT arithmetic; JVM-side, usable in a streaming
    producer plan (no UDF). Every step that reads its input more than once
    binds it through ``_let``, so the expression grows linearly in the
    number of steps."""
    key_long = F.col(key_long) if isinstance(key_long, str) else key_long
    # little-endian block read of the 4 big-endian bytes = byteswap32(hi)
    k = _let(
        F.shiftright(key_long, 32).bitwiseAND(F.lit(_M32)),
        lambda hi: (hi.bitwiseAND(F.lit(0xFF)) * F.lit(1 << 24))
        + (F.shiftright(hi, 8).bitwiseAND(F.lit(0xFF)) * F.lit(1 << 16))
        + (F.shiftright(hi, 16).bitwiseAND(F.lit(0xFF)) * F.lit(1 << 8))
        + F.shiftright(hi, 24).bitwiseAND(F.lit(0xFF)),
    )

    def mul32(c, m):
        # (c * m) mod 2^32 without overflowing BIGINT under ANSI mode:
        # split c into 16-bit halves — each partial product stays < 2^48
        return _let(
            c,
            lambda c: (
                c.bitwiseAND(F.lit(0xFFFF)) * F.lit(m)
                + (F.shiftright(c, 16) * F.lit(m)).bitwiseAND(F.lit(0xFFFF))
                * F.lit(1 << 16)
            ).bitwiseAND(F.lit(_M32)),
        )

    def rotl32(c, r):
        return _let(
            c,
            lambda c: (
                (c * F.lit(1 << r)).bitwiseAND(F.lit(_M32)) + F.shiftright(c, 32 - r)
            ).bitwiseAND(F.lit(_M32)),
        )

    def xorshift(c, r):
        return _let(c, lambda c: c.bitwiseXOR(F.shiftright(c, r)))

    k = mul32(k, 0xCC9E2D51)
    k = rotl32(k, 15)
    k = mul32(k, 0x1B873593)
    h = F.lit(104729).bitwiseXOR(k)
    h = rotl32(h, 13)
    h = (h * F.lit(5) + F.lit(0xE6546B64)).bitwiseAND(F.lit(_M32))
    h = h.bitwiseXOR(F.lit(4))  # fmix32 folds in the length (= 4)
    h = xorshift(h, 16)
    h = mul32(h, 0x85EBCA6B)
    h = xorshift(h, 13)
    h = mul32(h, 0xC2B2AE35)
    h = xorshift(h, 16)
    # the reference's abs() of Java's int view of h: h as is below 2^31,
    # 0 for Integer.MIN_VALUE (2^31), otherwise -(h - 2^32)
    code = _let(
        h,
        lambda h: F.when(h < F.lit(1 << 31), h)
        .when(h == F.lit(1 << 31), F.lit(0))
        .otherwise(F.lit(1 << 32) - h),
    )
    return (code % F.lit(num_partitions)).cast("int")


def decode_event_json(kv) -> "DataFrame":
    """Inverse of ``event_json_payload``: parse the (key, value) JSON rows
    back into typed generator-event columns — the consumer half of the
    Kafka contract (S6 decode), usable on any DataFrame with a ``value``
    string column (Kafka source or test fixture)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", IntegerType()),
            StructField("ts_ns", LongType()),
            StructField("person_id", LongType()),
            StructField("ref_person_id", LongType()),
            StructField("ref_auction_id", LongType()),
            StructField("price", DoubleType()),
        ]
    )
    parsed = kv.select(F.from_json(F.col("value"), schema).alias("e"))
    return parsed.select("e.*").withColumn(
        "ts", F.timestamp_micros(F.expr("ts_ns DIV 1000"))
    )
