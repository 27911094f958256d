"""Streaming replays registered as driver-checkable queries.

Bounded replay (Trigger.AvailableNow) of a complete-mode streaming
aggregation produces exactly the batch result, and an append-mode
watermarked join emits exactly the batch join rows — so these entries reuse
the batch oracles and put Structured Streaming itself (watermarks, state
stores, the symmetric hash join, applyInPandasWithState) under the DuckDB
correctness gate, not just under pytest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import EV_CTE, PERSONS_CTE, AUCTIONS_CTE, BIDS_CTE, with_ctes
from .registry import register


@register(
    "q5_hot_items_stream_replay",
    oracle_of="q5_hot_items",
    tags=("streaming", "nexmark", "agg", "window", "state-store"),
)
def q5_hot_items_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 through Structured Streaming [A1 + W1]: file-stream replay,
    watermark, windowed agg, complete-mode memory sink. Output ≡ batch, so
    the batch oracle adjudicates the streaming engine's state handling."""
    from ..streaming.queries import q5_hot_items_stream
    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    s = stream_nexmark(spark, sf_dir)
    return run_available_now(
        q5_hot_items_stream(s["bids"]),
        output_mode="complete",
        no_data_batch=False,  # complete mode: full state re-emitted per batch
    )


@register(
    "sessions_stream_replay",
    oracle_of="sessions_by_bidder",
    tags=("streaming", "nexmark", "session", "state-store"),
)
def sessions_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows through the streaming merge path [A5]."""
    from ..streaming.queries import sessions_stream
    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    s = stream_nexmark(spark, sf_dir)
    return run_available_now(
        sessions_stream(s["bids"]),
        output_mode="complete",
        no_data_batch=False,  # complete mode: full state re-emitted per batch
    )


@register(
    "q8_union_join_lowlevel",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, AUCTIONS_CTE)
    + """
SELECT p.user_id, p.person_id, a.auction_id
FROM persons p JOIN auctions a ON a.seller_id = p.user_id
""",
    tags=("streaming", "nexmark", "join", "stateful"),
)
def q8_union_join_lowlevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Q8 union-join (J2/J6: tagged union keyed by
    person, ValueState/ListState symmetric emission —
    NexmarkQuery8.java:570-662) on applyInPandasWithState, replayed bounded.
    Emission order differs from batch; the row SET is deterministic and the
    oracle checks it. This bounded entry runs ``union_join_stateful``
    with state coarsened into hash buckets (r11); its per-key form
    (``n_buckets=None``) sits under the batch-join gate via
    tests/test_stateful.py, and tests/test_bucketed_stateful.py pins the
    bucketed row set to it."""
    from pyspark.sql import functions as F

    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_events
    from ..streaming.stateful import union_join_stateful

    # ONE source scan (r11): persons and auctions are event-type slices of
    # the same events file — the pre-split form ran two file-stream sources
    # that each re-scanned it. The tagged rows are identical to
    # tagged_union(persons, auctions) (side 1 = person, 2 = auction).
    ev = stream_events(spark, sf_dir)
    tagged = ev.filter(F.col("event_type").isin("signup", "view")).select(
        F.when(F.col("event_type") == "signup", 1)
        .otherwise(2)
        .cast("int")
        .alias("side"),
        F.col("user_id"),
        F.col("event_id").alias("row_id"),
        F.col("ts"),
    )
    return run_available_now(
        union_join_stateful(tagged),
        output_mode="append",
        no_data_batch=False,  # NoTimeout stateful fn: emits on arrival only
        # state partitions: replay_state_partitions() default (8 local
        # since r11, env-overridable; r5 A/B: 2.0 s @8 vs 2.6 s @4) — the
        # old explicit pin duplicated the default
    )



@register(
    "q8_join_stream_replay",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, AUCTIONS_CTE)
    + """
SELECT p.person_id,
       p.user_id,
       (p.p_ts_ns // 86400000000000) * 86400 AS w_start_s,
       a.auction_id,
       a.start_ts_ns // 1000 AS start_ts_us
FROM persons p
JOIN auctions a
  ON a.seller_id = p.user_id
 AND a.start_ts_ns // 86400000000000 = p.p_ts_ns // 86400000000000
""",
    tags=("streaming", "nexmark", "join", "state-store"),
)
def q8_join_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked stream-stream inner join itself (J2,
    StreamingSymmetricHashJoinExec) under the oracle gate: bounded replay
    emits exactly the batch join rows."""
    from ..streaming.queries import q8_join_stream
    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    from pyspark.sql import functions as F

    s = stream_nexmark(spark, sf_dir)
    out = run_available_now(
        q8_join_stream(s["persons"], s["auctions"]),
        output_mode="append",
        no_data_batch=False,  # inner stream-stream join: emits on arrival
        # stream-stream join keeps FOUR state stores per partition (left/
        # right x keyToNumValues/keyWithIndexToValue): the r12 5-round
        # alternating A/B reads 1.48 s @4 vs 1.77 s @8 min (whole
        # distribution shifted) — the r11 4->8 default flip was this
        # entry's in-sweep regression (docs/adjudication_r12.json)
        shuffle_partitions=4,
    )
    # raw nanos differ across engines (DuckDB reads nano-parquet at µs
    # precision); µs is the exact shared precision
    return out.withColumn(
        "start_ts_us", F.expr("start_ts_ns DIV 1000")
    ).drop("start_ts_ns")


@register(
    "qx_interval_join_stream_replay",
    oracle=with_ctes(EV_CTE, AUCTIONS_CTE, BIDS_CTE)
    + """
SELECT a.auction_id, a.seller_id, b.bid_id, b.bid, b.b_ts_ns // 1000 AS b_ts_us
FROM auctions a
JOIN bids b
  ON b.item_id = a.category_id
 AND b.b_ts_ns >= a.start_ts_ns
 AND b.b_ts_ns < a.end_ts_ns
""",
    tags=("streaming", "nexmark", "join", "interval", "state-store"),
)
def qx_interval_join_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming interval join (J4: time-bounded stream-stream join with
    the watermark as the auction-end timer) under the oracle gate."""
    from ..streaming.queries import qx_winning_bids_stream
    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    from pyspark.sql import functions as F

    s = stream_nexmark(spark, sf_dir)
    out = run_available_now(
        qx_winning_bids_stream(s["auctions"], s["bids"]),
        output_mode="append",
        no_data_batch=False,  # inner stream-stream join: emits on arrival
    )
    return out.withColumn("b_ts_us", F.expr("b_ts_ns DIV 1000")).drop("b_ts_ns")


@register(
    "q5_sliding_stream_replay",
    oracle_of="q5_sliding",
    tags=("streaming", "nexmark", "agg", "sliding", "state-store"),
)
def q5_sliding_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows through the streaming engine [§2.6 sliding]: each
    event contributes to 4 overlapping windows; complete-mode replay must
    equal the batch sliding aggregation."""
    from pyspark.sql import functions as F

    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    s = stream_nexmark(spark, sf_dir)
    agg = (
        s["bids"]
        .withWatermark("b_ts", "2 seconds")
        .groupBy(
            F.window("b_ts", "1 hour", "15 minutes").alias("w"),
            F.col("item_id").alias("auction_id"),
        )
        .agg(F.max("bid").alias("max_bid"), F.count(F.lit(1)).alias("bid_count"))
        .select(
            "auction_id",
            F.col("w.start").cast("long").alias("w_start_s"),
            "max_bid",
            "bid_count",
        )
    )
    return run_available_now(
        agg,
        output_mode="complete",
        no_data_batch=False,  # complete mode: full state re-emitted per batch
    )



@register(
    "q7_highest_bid_stream_replay",
    oracle_of="nexmark_q7_highest_bid",
    tags=("streaming", "nexmark", "agg", "argmax", "state-store"),
)
def q7_highest_bid_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical q7 through the streaming engine: windowed arg-max
    (max_by over full bid structs) in complete mode — replay equals the
    batch nexmark_q7_highest_bid plan, adjudicated by its oracle."""
    from ..streaming.queries import q7_highest_bid_stream
    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    s = stream_nexmark(spark, sf_dir)
    return run_available_now(
        q7_highest_bid_stream(s["bids"]),
        output_mode="complete",
        no_data_batch=False,  # complete mode: full state re-emitted per batch
    )



@register(
    "cm_stream_replay",
    oracle_of="cm_load_per_job",
    tags=("streaming", "cm", "agg", "state-store"),
)
def cm_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CM windowed sum [A4] through the streaming engine — complete-mode
    replay equals the batch aggregation."""
    from ..streaming.queries import cm_stream
    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_events

    return run_available_now(
        cm_stream(stream_events(spark, sf_dir)),
        output_mode="complete",
        no_data_batch=False,  # complete mode: full state re-emitted per batch
    )



@register(
    "sessions_dynamic_gap_stream_replay",
    oracle_of="sessions_dynamic_gap",
    tags=("streaming", "nexmark", "session", "dynamic-gap", "state-store"),
)
def sessions_dynamic_gap_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows through the STREAMING merge path
    [§2.6 dynamic sessions]: each event carries its own gap expression
    (30 s under a bid of 50, else 90 s) and the streaming session-merge
    state must produce exactly the batch sessionization — complete-mode
    replay under the batch oracle."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    bids = stream_nexmark(spark, sf_dir)["bids"]
    gap = F.when(
        F.col("bid") < 50, F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)")
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 90, 0)"))
    agg = (
        bids.withWatermark("b_ts", "2 seconds")
        .groupBy(
            F.session_window(F.col("b_ts"), gap).alias("sw"),
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
    return run_available_now(
        agg,
        output_mode="complete",
        no_data_batch=False,  # complete mode: full state re-emitted per batch
    )



@register(
    "stream_dedup_replay",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events
""",
    tags=("streaming", "dedup", "state-store"),
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` under the driver gate: the event
    stream is UNIONED WITH ITSELF (every record arrives twice — the
    at-least-once delivery the operator exists for) and watermark-bounded
    dedup on event_id must restore exactly-once: output ≡ the distinct
    events table. State is bounded by the watermark horizon — the
    production-safe form of streaming exact dedup (an unbounded
    dropDuplicates would grow state forever)."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_events

    ev = stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    doubled = ev.unionByName(ev)
    deduped = (
        doubled.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .drop("ts")
    )
    return run_available_now(
        deduped,
        output_mode="append",
        no_data_batch=False,  # dropDuplicatesWithinWatermark emits on arrival
    )


@register(
    "exactly_once_sink_replay",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("streaming", "sink", "exactly-once"),
)
def exactly_once_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once THROUGH A CRASH (the reference's
    CheckpointingMode.EXACTLY_ONCE production surface,
    NexmarkQuery8.java:454-473): the events table is replayed as 3
    micro-batches into an idempotent ledgered parquet sink
    (streaming/runner.py::idempotent_batch_writer); an injected failure
    kills the query BETWEEN a batch's data write and its ledger commit —
    the worst-possible crash point — and the query is restarted on the same
    checkpoint. The restart must skip the committed batches, overwrite the
    crashed batch's partial data, and commit it once. The oracle then
    checks the sink holds EXACTLY the input rows — any duplicate or loss
    from the crash/replay fails the hash."""
    import tempfile

    from pyspark.sql import functions as F  # noqa: F401

    from ..sources.tables import load_table
    from ..streaming.runner import (
        idempotent_batch_writer,
        read_committed,
        run_foreach_batch,
    )

    import os

    # scratch on tmpfs; the 3-file input replay table is cached per corpus
    # content (the same leaf-file fingerprint the binary frame cache uses) —
    # re-deriving it per call re-times a fixture write, not sink semantics.
    # out/ck dirs stay FRESH per call: the crash + resume must start clean.
    from ..sources.binary import _cache_tag, prune_stale_cache
    from ..streaming.runner import track_ephemeral_dir

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    # out/ck scratch is removed at process exit (ADVICE r4 — tmpfs outlives
    # the process); the crash+resume inside THIS call is unaffected
    base = track_ephemeral_dir(tempfile.mkdtemp(prefix="eos_", dir=shm))
    src = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    in_root = os.path.join(shm, "spark_graft_eos_in")
    tag = _cache_tag(sf_dir, "events")
    prune_stale_cache(in_root, os.path.basename(sf_dir.rstrip("/")), {tag})
    in_dir = os.path.join(in_root, tag)
    if not os.path.exists(os.path.join(in_dir, "_SUCCESS")):
        # stage + atomic rename: a concurrent builder can never clobber a
        # replay that is mid-read (mode=overwrite deletes first)
        import shutil
        import uuid

        stage = os.path.join(in_root, f".stage_{uuid.uuid4().hex[:8]}")
        src.repartition(3).write.parquet(stage)
        try:
            os.rename(stage, in_dir)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)

    def _stream():
        return (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

    out_dir, ck = f"{base}/out", f"{base}/ck"
    boom = {"armed": True}

    def _pre_commit(batch_id: int) -> None:
        if batch_id >= 1 and boom["armed"]:
            boom["armed"] = False
            raise RuntimeError(
                "injected crash between data write and ledger commit"
            )

    try:
        run_foreach_batch(
            _stream(),
            idempotent_batch_writer(out_dir, pre_commit_hook=_pre_commit),
            checkpoint_dir=ck,
        )
        raise AssertionError("injected crash did not fire")
    except AssertionError:
        raise
    except Exception:
        pass  # the injected crash — now resume from the same checkpoint
    run_foreach_batch(
        _stream(), idempotent_batch_writer(out_dir), checkpoint_dir=ck
    )
    return read_committed(spark, out_dir)


@register(
    "stream_static_enrich",
    oracle=with_ctes(EV_CTE, PERSONS_CTE, BIDS_CTE)
    + """
, dim AS (
  SELECT user_id, min(person_id) AS first_signup_id, count(*) AS n_signups
  FROM persons GROUP BY 1
)
SELECT b.bid_id, b.bidder_id, b.bid, d.first_signup_id, d.n_signups
FROM bids b JOIN dim d ON d.user_id = b.bidder_id
""",
    tags=("streaming", "join", "stream-static"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the most common production join: the bid
    STREAM joined against a STATIC user dimension (no watermark needed on
    the static side; the dim broadcasts per micro-batch). Replay equals the
    batch join."""
    from pyspark.sql import functions as F

    from ..sources.tables import nexmark_streams
    from ..streaming.runner import run_available_now
    from ..streaming.sources import stream_nexmark

    dim = (
        nexmark_streams(spark, sf_dir)["persons"]  # static (batch) side
        .groupBy("user_id")
        .agg(
            F.min("person_id").alias("first_signup_id"),
            F.count(F.lit(1)).alias("n_signups"),
        )
    )
    bids = stream_nexmark(spark, sf_dir)["bids"]  # streaming side
    joined = bids.join(
        F.broadcast(dim), bids.bidder_id == dim.user_id, "inner"
    ).select("bid_id", "bidder_id", "bid", "first_signup_id", "n_signups")
    return run_available_now(
        joined,
        output_mode="append",
        no_data_batch=False,  # stateless stream-static join
    )


@register(
    "ann_ivf_topk_stream_replay",
    oracle_of="ann_ivf_topk",
    tags=("streaming", "similarity", "ann"),
)
def ann_ivf_topk_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The similarity-search serving path UNDER STREAMING EXECUTION: query
    vectors ARRIVE as a stream and probe the static IVF index — the online
    ANN deployment shape (index built offline, queries through Kafka/files).
    Same oracle as the batch ``ann_ivf_topk``, so the streaming engine's
    execution of identical semantics sits under the hash gate.

    Streaming-plan notes: everything is STATELESS. The centroid table is
    tiny (nlist vectors), so it rides the stream as ONE broadcast array row
    and each arriving query picks its 2 probe centroids with an in-row
    array_sort over (-cos, c_id) structs — identical tie-breaking to the
    batch rank window, no streaming aggregation needed. Candidate lookup
    and scoring are stream-static equi-joins against the offline
    assignment/corpus frames; the coarse assignment is MATERIALIZED to a
    content-fingerprinted table once per corpus (the deployment shape —
    an IVF index is built offline and served from storage, same pattern
    as the corpus dedup index), so each serving replay pays lookup cost,
    not index-build cost. At 100 TB those joins prune to ~nprobe/nlist
    of the corpus per query. The final top-5
    rank is applied by the caller on the replayed result, the same
    caller-side-reduction contract as ``qx_winning_bids_stream``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    from ..sources.tables import load_table
    from ..streaming.runner import run_available_now
    from ..streaming.sources import cached_parquet_schema, configure_runtime

    configure_runtime(spark)
    # the offline IVF index (normed corpus, √N centroids, coarse
    # assignment) comes from the SHARED content-keyed artifact the batch
    # entry serves from (plans/pipeline.py::_ivf_index_dir — replaced this
    # twin's bespoke /dev/shm assign cache in r9): each serving replay
    # pays lookup cost, not index-build cost, and the build is reported
    # via artifact_build_sec
    from ..operators.artifacts import read_artifact_table
    from .pipeline import _ivf_index_dir

    adir = _ivf_index_dir(spark, sf_dir)
    n = read_artifact_table(spark, adir, "normed")
    c = read_artifact_table(spark, adir, "centroids")
    assign = read_artifact_table(spark, adir, "assign")
    c_arr = c.agg(
        F.collect_list(F.struct("c_id", "cv", "cnrm")).alias("cs_arr")
    ).withColumn("one", F.lit(1))

    path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    schema = cached_parquet_schema(spark, path)
    q = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir.rstrip("/"))
        .filter(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
        .withColumn(
            "qn",
            F.sqrt(
                F.expr(
                    "aggregate(transform(qv, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
                )
            ),
        )
        .withColumn("one", F.lit(1))
    )
    # in-row probe selection: sort (-cos, c_id) structs, take 2 — identical
    # ordering to the batch rank window (desc cs, asc c_id)
    probes = (
        q.join(broadcast(c_arr), "one")
        .select(
            "q_id",
            "qv",
            "qn",
            F.explode(
                F.expr(
                    "slice(array_sort(transform(cs_arr, c -> struct("
                    "-round(aggregate(zip_with(qv, c.cv, (x, y) -> x * y), "
                    "CAST(0.0 AS DOUBLE), (a, x) -> a + x) / (qn * c.cnrm), 6)"
                    " AS ncs, c.c_id AS c_id))), 1, 2)"
                )
            ).alias("p"),
        )
        .select("q_id", "qv", "qn", F.col("p.c_id").alias("c_id"))
    )
    cand = probes.join(assign, "c_id").filter(F.col("vec_id") != F.col("q_id"))
    dot_qd = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )
    scored = cand.join(n, "vec_id").select(
        "q_id",
        "vec_id",
        F.round(dot_qd / (F.col("qn") * F.col("nrm")), 6).alias("cos_sim"),
    )
    out = run_available_now(
        scored,
        output_mode="append",
        no_data_batch=False,  # stateless stream-static joins
    )
    w_q = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return out.withColumn("rn", F.row_number().over(w_q)).filter(F.col("rn") <= 5)



@register(
    "pii_scrub_stream_replay",
    oracle_of="pii_scrub",
    tags=("streaming", "text", "curation"),
)
def pii_scrub_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII scrub pass UNDER STREAMING EXECUTION — the ingest-time
    redaction shape (documents scrubbed as they arrive, before anything
    lands in the training corpus). The whole pass is the SAME single
    projection the batch entry runs (`curation._pii_scrub_project`), so
    the shared batch oracle hash-checks the scrubbed bytes produced by the
    streaming engine. Stateless: no watermark, no state store; at 100 TB
    this is the shape where scrubbing cost scales with ingest rate, not
    corpus size."""
    from ..streaming.runner import run_available_now
    from ..streaming.sources import cached_parquet_schema, configure_runtime
    from .curation import _pii_scrub_project

    configure_runtime(spark)
    path = f"{sf_dir.rstrip('/')}/documents.parquet"
    schema = cached_parquet_schema(spark, path)
    docs = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir.rstrip("/"))
        .select("doc_id", "text")
        # single-file micro-batches arrive as ONE partition; the regex
        # chain is CPU-dense, so spread it (r4 incremental-dedup lesson —
        # measured 1.05 s → 0.87 s at sf0.1)
        .repartition(8)
    )
    return run_available_now(
        _pii_scrub_project(docs),
        output_mode="append",
        no_data_batch=False,  # stateless projection: emits on arrival
    )




# ---------------------------------------------------------------------------
# qx_allowed_lateness_replay — Flink allowedLateness re-fire replica
# ---------------------------------------------------------------------------

_LATE_WINDOW_S = 86400
# The reference admits rows 15 s past the watermark into fired windows
# (NexmarkQueryX.java:279-281). Its generator runs seconds-apart events;
# the driver testdata spans 30 DAYS, so window and bound scale with the
# data's time density (daily panes per bid category, lateness bound 15
# days ≈ half the span) — chosen so every lifecycle path (watermark
# fire, in-bound re-fire, out-of-bound drop, late-created pane) is
# exercised at sf0.001 AND sf0.01 AND sf0.1 (measured: 2/74/150 re-fired
# panes, 8/69/140 dropped-late panes respectively).
_LATE_ALLOWED_S = 15 * 86400
_LATE_CATS = 10  # pane key: bid category (item_id % 10)
_LATE_MOD = 11  # bid_id % 11 == 0 -> the deterministic "late" slice

# staged (on-time, late, sentinel) file triple per events-file content
_LATE_CACHE: dict = {}

_LATE_ORACLE = with_ctes(EV_CTE, BIDS_CTE) + f"""
, lf AS (
  SELECT bid_id, item_id % {_LATE_CATS} AS auction_id, bid,
         b_ts_ns // 1000 AS us,
         (bid_id % {_LATE_MOD} = 0) AS is_late
  FROM bids
),
wm AS (
  -- the second batch's watermark: max ON-TIME event ms minus the 2 s
  -- delay (Spark truncates event time to ms before the subtraction)
  SELECT (max(us) // 1000 - 2000) * 1000 AS wm1_us FROM lf WHERE NOT is_late
),
w AS (
  SELECT *, (us // {_LATE_WINDOW_S * 1_000_000}) * {_LATE_WINDOW_S} AS w_start_s
  FROM lf
),
agg AS (
  SELECT auction_id, w_start_s,
         count(*) FILTER (WHERE NOT is_late) AS c_on,
         max(bid) FILTER (WHERE NOT is_late) AS m_on,
         count(*) FILTER (WHERE is_late) AS c_late,
         max(bid) FILTER (WHERE is_late) AS m_late,
         count(*) AS c_all,
         max(bid) AS m_all
  FROM w GROUP BY 1, 2
),
cls AS (
  SELECT a.*,
         ((a.w_start_s + {_LATE_WINDOW_S}) * 1000000 <= wm.wm1_us) AS fired,
         (wm.wm1_us <
          (a.w_start_s + {_LATE_WINDOW_S} + {_LATE_ALLOWED_S}) * 1000000)
             AS in_bound
  FROM agg a CROSS JOIN wm
)
-- pane the watermark never reached: full aggregate at end-of-input
SELECT auction_id, w_start_s, CAST(c_all AS BIGINT) AS bid_count,
       m_all AS max_bid, CAST(1 AS INTEGER) AS emit_version
FROM cls WHERE NOT fired
UNION ALL
-- the watermark fire: frozen on-time pane
SELECT auction_id, w_start_s, CAST(c_on AS BIGINT), m_on, CAST(1 AS INTEGER)
FROM cls WHERE fired AND c_on > 0
UNION ALL
-- the allowed-lateness RE-FIRE: late rows inside the bound update the pane
SELECT auction_id, w_start_s, CAST(c_all AS BIGINT), m_all, CAST(2 AS INTEGER)
FROM cls WHERE fired AND c_on > 0 AND in_bound AND c_late > 0
UNION ALL
-- late-created pane: no on-time rows, in-bound late rows fire it late
SELECT auction_id, w_start_s, CAST(c_late AS BIGINT), m_late, CAST(1 AS INTEGER)
FROM cls WHERE fired AND c_on = 0 AND in_bound AND c_late > 0
"""


def _late_bids_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the bid stream as a 3-file, mtime-ordered replay dir:
    f0 = on-time bids, f1 = the deterministic late slice
    (bid_id % {_LATE_MOD} == 0), f2 = the end-of-input sentinel
    (item_id -1, ts = max + 8 days). With maxFilesPerTrigger=1 the file
    source delivers them as three micro-batches, so the late slice
    arrives AFTER the watermark advanced past most window ends — a
    controlled late-arrival harness (the pytest twin stages its own
    tiny triple the same way). Cached per events-file content."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from ..sources.tables import nexmark_streams
    from ..streaming.runner import track_ephemeral_dir

    ev_path = f"{sf_dir.rstrip('/')}/events.parquet"
    st = os.stat(ev_path)
    ck = (id(spark), f"{ev_path}:{st.st_mtime_ns}:{st.st_size}")
    cached = _LATE_CACHE.get(ck)
    if cached is not None and os.path.isdir(cached):
        return cached
    import pyarrow as pa
    import pyarrow.parquet as papq

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    d = track_ephemeral_dir(
        os.path.join(base, f"spark_graft_late_{uuid.uuid4().hex[:8]}")
    )
    os.makedirs(d, exist_ok=True)
    # ONE Spark job derives the bid slice; the three replay files are cut
    # locally with pyarrow (the slice is bids-only and narrow — this is
    # fixture staging, not the timed operator)
    bids_pd = (
        nexmark_streams(spark, sf_dir)["bids"]
        .select(
            "bid_id",
            "item_id",
            "bid",
            F.expr("unix_micros(b_ts)").alias("us"),
        )
        .toPandas()
    )
    max_us = int(bids_pd["us"].max())
    on_time = bids_pd[bids_pd["bid_id"] % _LATE_MOD != 0]
    late = bids_pd[bids_pd["bid_id"] % _LATE_MOD == 0]
    schema = pa.schema(
        [
            ("bid_id", pa.int64()),
            ("item_id", pa.int64()),
            ("bid", pa.float64()),
            ("ts", pa.timestamp("us")),
        ]
    )

    def _tbl(pdf):
        return pa.Table.from_arrays(
            [
                pa.array(pdf["bid_id"].to_numpy(), type=pa.int64()),
                pa.array(pdf["item_id"].to_numpy(), type=pa.int64()),
                pa.array(pdf["bid"].to_numpy(), type=pa.float64()),
                pa.array(pdf["us"].to_numpy(), type=pa.int64()).cast(
                    pa.timestamp("us")
                ),
            ],
            schema=schema,
        )

    sent = pa.Table.from_arrays(
        [
            pa.array([-1], type=pa.int64()),
            pa.array([-1], type=pa.int64()),
            pa.array([0.0], type=pa.float64()),
            pa.array(
                [max_us + 8 * 86400 * 1_000_000], type=pa.int64()
            ).cast(pa.timestamp("us")),
        ],
        schema=schema,
    )
    # TWO batches, not three: the sentinel rides as the late file's last
    # rows. Batch 2's watermark derives from batch 1 alone, so the late
    # rows' fired/in-bound checks see exactly the same wm1 either way,
    # and the end-of-input flush (which never reads the watermark) runs
    # after the same batch's late rows in the same fn call — identical
    # emissions, one less micro-batch of machinery.
    late_plus_sentinel = pa.concat_tables([_tbl(late), sent])
    for i, tbl in enumerate([_tbl(on_time), late_plus_sentinel]):
        dst = os.path.join(d, f"f{i}.parquet")
        papq.write_table(tbl, dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
    _LATE_CACHE[ck] = d
    return d


@register(
    "qx_allowed_lateness_replay",
    oracle=_LATE_ORACLE,
    tags=("streaming", "nexmark", "window", "lateness", "stateful"),
)
def qx_allowed_lateness_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``allowedLateness`` window discipline, replicated
    (NexmarkQueryX.java:279-281 — the one semantic the r10 VERDICT listed
    as missing): windows FIRE when the watermark passes their end,
    late-but-in-bound rows fold into the fired pane and RE-FIRE it with
    an incremented ``emit_version``, later-than-bound rows are dropped.
    Spark's native windowed aggregation cannot re-fire (late rows past
    the watermark are dropped wholesale), so the pane lifecycle runs on
    ``applyInPandasWithState``
    (streaming/stateful.py::allowed_lateness_stateful). The replay stages
    the bid stream as mtime-ordered (on-time, late, sentinel) files with
    maxFilesPerTrigger=1, so the late slice genuinely arrives after the
    watermark advanced; the oracle models that first-batch watermark in
    SQL and enumerates the exact v1/v2 emission history.

    Scale: pane state is one (count, max, fired, version) tuple per
    (auction, window), hash-bucketed like every replica here; lateness
    bounds state exactly as in Flink — a pane is dropped from state the
    moment its re-fire horizon passes (bounded replay: at the sentinel)."""
    from pyspark.sql import functions as F  # noqa: F811

    from ..streaming.runner import run_available_now
    from ..streaming.sources import configure_runtime
    from ..streaming.stateful import allowed_lateness_stateful

    configure_runtime(spark)
    d = _late_bids_dir(spark, sf_dir)
    s = (
        spark.readStream.schema(
            "bid_id long, item_id long, bid double, ts timestamp"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .select(
            # pane key = bid category; the sentinel (item_id -1) must stay
            # negative through the keying (pmod would fold it to 9)
            F.when(F.col("item_id") < 0, F.lit(-1))
            .otherwise(F.pmod("item_id", F.lit(_LATE_CATS)))
            .alias("auction_id"),
            F.expr(
                f"(unix_micros(ts) DIV {_LATE_WINDOW_S * 1_000_000})"
                f" * {_LATE_WINDOW_S}"
            ).alias("w_start_s"),
            F.expr("unix_micros(ts)").alias("us"),
            "bid",
            "ts",
        )
    )
    return run_available_now(
        allowed_lateness_stateful(s, _LATE_WINDOW_S, _LATE_ALLOWED_S),
        output_mode="append",
        no_data_batch=False,  # sentinel flush: no timers remain armed
    )
