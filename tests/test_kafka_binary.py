"""The Kafka BINARY wire path, broker-less: message values carrying the
reference's framed 8 KiB binaries decode through the IDENTICAL column plan
as the file decoders (the verdict-#4 gap — the frames existed, but the Kafka
value-decode consumed only JSON), and the producer's murmur3 key partitioner
(GeneratorPipeline.java:199-252, vendored-from-Hive hash32 with the
absolute-value quirk) is replicated both driver-side and as a pure column
expression."""

import struct

from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from nexmark_vanilla_flink_spark.sources.binary import (
    FRAME_SIZE,
    decode_bid_frame_col,
    decode_bid_frames,
    decode_person_frame_col,
    decode_person_frames,
    write_bid_frames,
    write_person_frames,
)
from nexmark_vanilla_flink_spark.sources.writer import (
    murmur3_hash32,
    murmur3_partition_col,
)


def _frames_as_kafka_values(path: str) -> list:
    """Chop an encoded frame file into per-message (value,) rows — exactly
    what a Kafka consumer would see, one 8192-byte frame per record."""
    blob = open(path, "rb").read()
    assert len(blob) % FRAME_SIZE == 0
    return [
        (bytearray(blob[i : i + FRAME_SIZE]),)
        for i in range(0, len(blob), FRAME_SIZE)
    ]


def test_kafka_person_values_decode_like_file(spark, sf_dir, tmp_path):
    """Person frames delivered as Kafka message values (streaming) must
    yield the same rows as the file decoder reading the same bytes."""
    path = str(tmp_path / "persons.bin")
    write_person_frames(sf_dir, path)
    kv_dir = str(tmp_path / "kv")
    schema = StructType([StructField("frame", BinaryType())])
    spark.createDataFrame(_frames_as_kafka_values(path), schema).write.parquet(
        kv_dir
    )
    # the exact decode stream_kafka_binary_persons applies to the raw stream
    stream = spark.readStream.schema(schema).parquet(kv_dir)
    decoded = decode_person_frame_col(stream)
    assert decoded.isStreaming
    out = str(tmp_path / "out")
    q = (
        decoded.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, decode_person_frames(spark, path).collect()))
    assert got == want and len(got) > 0


def test_kafka_bid_values_decode_like_file(spark, sf_dir, tmp_path):
    """Same round-trip for the 32-byte bid frames (batch plan equality is
    enough here — streaming-safety is proven by the person test; this one
    pins the bit-exact doubles through the shared column plan)."""
    path = str(tmp_path / "bids.bin")
    write_bid_frames(sf_dir, path)
    schema = StructType([StructField("frame", BinaryType())])
    kv = spark.createDataFrame(_frames_as_kafka_values(path), schema)
    got = sorted(map(tuple, decode_bid_frame_col(kv).collect()))
    want = sorted(map(tuple, decode_bid_frames(spark, path).collect()))
    assert got == want and len(got) > 0


def _hive_hash32_reference(data: bytes, seed: int = 104729) -> int:
    """Independent transliteration of GeneratorPipeline.hash32 using
    explicit Java int semantics via struct packing (ground-truth check
    that murmur3_hash32 didn't transcribe the algorithm wrong)."""

    def jint(x):
        return struct.unpack(">i", struct.pack(">I", x & 0xFFFFFFFF))[0]

    def rotl(x, r):
        x &= 0xFFFFFFFF
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    h = seed
    n = len(data) >> 2
    for i in range(n):
        k = int.from_bytes(data[i * 4 : i * 4 + 4], "little")
        k = rotl((k * 0xCC9E2D51) & 0xFFFFFFFF, 15)
        k = (k * 0x1B873593) & 0xFFFFFFFF
        h = (h ^ k) & 0xFFFFFFFF
        h = (rotl(h, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n * 4 :]
    k1 = 0
    if len(tail) == 3:
        k1 ^= (jint(tail[2] if tail[2] < 128 else tail[2] - 256) << 16) & 0xFFFFFFFF
    if len(tail) >= 2:
        k1 ^= (jint(tail[1] if tail[1] < 128 else tail[1] - 256) << 8) & 0xFFFFFFFF
    if len(tail) >= 1:
        k1 ^= jint(tail[0] if tail[0] < 128 else tail[0] - 256) & 0xFFFFFFFF
        k1 = (rotl((k1 * 0xCC9E2D51) & 0xFFFFFFFF, 15) * 0x1B873593) & 0xFFFFFFFF
        h ^= k1
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    code = jint(h)
    if code >= 0:
        return code
    return -code if code != -(1 << 31) else 0


def test_murmur3_python_matches_reference_semantics():
    keys = [0, 1, 7, 255, 2**31, 2**63 - 1, 104729, 0xDEADBEEF << 30]
    for key in keys:
        kb = struct.pack(">q", key & (2**63 - 1))
        assert murmur3_hash32(kb, 0, 4) == _hive_hash32_reference(kb[:4])
        # whole-key and odd-length tails too (fall-through cases)
        assert murmur3_hash32(kb) == _hive_hash32_reference(kb)
        assert murmur3_hash32(kb, 0, 3) == _hive_hash32_reference(kb[:3])


def test_murmur3_partition_col_matches_python(spark):
    """The pure-column partitioner must agree with the driver-side hash for
    every key, including keys with high bits set (negative Java hash)."""
    n_part = 12
    # each murmur step binds its input once: a step that copied its input
    # into every read doubled the tree (2.17 M characters, ~40 s to plan)
    assert len(str(murmur3_partition_col("key", n_part))) < 20_000
    keys = [0, 1, 2, 7, 1000, 2**31 - 1, 2**31, 2**40 + 3, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(k,) for k in keys], "key long").withColumn(
        "part", murmur3_partition_col("key", n_part)
    )
    got = {r.key: r.part for r in df.collect()}
    for k in keys:
        want = murmur3_hash32(struct.pack(">q", k), 0, 4) % n_part
        assert got[k] == want, (k, got[k], want)
    # and it is a pure projection (no UDF) — stays in codegen
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
