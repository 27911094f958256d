"""Streaming execution helpers: bounded replay to an in-memory table
(Trigger.AvailableNow — the Spark twin of the reference's
``isEndOfStream``-bounded Kafka/file replays), latency-tracking sinks
(A7/K1 — NexmarkQuery8.java:245-415's SummaryStatistics CSV sinks), and
``observe()`` metrics (K4 — the Flink Histogram/Gauge surface,
NexmarkQuery8.java:155-217).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid
import warnings
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def replay_state_partitions(spark) -> int | None:
    """Default STATE partition count for a bounded replay.

    Local-mode rule (measured, QX interval join at sf0.1, drift-cancelled
    A/B): per-partition state-store commit overhead dominates, so bounded
    local replays want FEW, large state partitions — 8: 2.6 s vs 32: 6.3 s
    (r4). The r5 sweep picked 4 for the declarative replays; the r11
    re-sweep after the retime-floor fix and relational relayout reversed
    that — 9 of 12 declarative replays run faster at 8 (cohort 18.0 s @4
    vs 16.6 s @8; QX isolated min-of-2: 2.06 s @4 vs 1.75 s @8), so the
    local default is 8 across the board, matching what the Python
    stateful replicas always pinned. At 100 TB the same bytes-per-task
    rule points the OTHER way: size the count UP from state volume
    (state_bytes / ~100-200 MB per store), and the checkpoint bakes the
    choice in per query. So: 8 under a local[*] master, and None (= keep
    the session's tuned value) on a real cluster where the session owner
    sized it to the data.
    """
    master = spark.conf.get("spark.master", "")
    if master.startswith("local"):
        return 8
    return None


# Every ephemeral dir ever handed out, removed at process exit (ADVICE r4:
# /dev/shm is tmpfs that outlives the process — without cleanup, repeated
# bench/test sweeps accumulate checkpoints + sink output in RAM-backed
# storage and compete with the Spark heap). Checkpoints are additionally
# removed EAGERLY once their replay completes (run_available_now); sink
# out_dirs must wait for atexit because the returned DataFrame reads them
# lazily.
_EPHEMERAL_DIRS: list[str] = []


def _cleanup_ephemeral_dirs() -> None:
    while _EPHEMERAL_DIRS:
        shutil.rmtree(_EPHEMERAL_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_ephemeral_dirs)


def track_ephemeral_dir(path: str) -> str:
    """Register a scratch dir for removal at process exit (shared with the
    replay entries that stage sink/crash dirs on tmpfs themselves)."""
    _EPHEMERAL_DIRS.append(path)
    return path


def _ephemeral_checkpoint_dir(prefix: str) -> str:
    """Scratch checkpoint for a run-to-completion replay whose results live
    in a memory/noop sink: tmpfs (/dev/shm) when present — the state store's
    per-batch file commits are the dominant replay cost locally, and the
    dir is rmtree'd eagerly after the replay (plus atexit as a backstop).
    Durable checkpoints (caller-passed ``checkpoint_dir``) are never
    redirected: crash-resume needs a real filesystem."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return track_ephemeral_dir(tempfile.mkdtemp(prefix=prefix, dir=base))


# out_dir -> weakref to the lazily-backed DataFrame run_available_now
# returned for it (ADVICE r11: reclaim safety used to rest entirely on
# call-site discipline — a caller holding a sink-backed DataFrame across
# entries would silently read empty after a reclaim). A live referent now
# DEFERS that dir's reclaim; a dropped DataFrame's weakref dies with it
# (CPython refcounting, immediate in the bench/sweep call pattern) and the
# dir is freed on the next reclaim pass, with atexit as the backstop.
_LIVE_SINK_REFS: dict[str, "weakref.ref"] = {}


def reclaim_replay_sinks() -> None:
    """Remove the tracked ephemeral SINK scratch dirs NOW (prefixes
    ``out_``/``eos_``) instead of at process exit. A long sweep otherwise
    accumulates every replay's tmpfs sink output for the whole process
    lifetime — the r11 10x scale sweep filled /dev/shm until the DuckDB
    comparator's allocations failed for every entry after #146 (33
    cascade OOM rows, all one root cause). Content-cached FIXTURE dirs
    (the flush-sentinel combined dir, the lateness replay triple, the
    exactly-once input staging) are kept: their caches re-validate
    isdir/_SUCCESS before reuse, but deleting them would just force
    rebuilds. Sink dirs whose returned DataFrame is still ALIVE (weakref
    registry above) are deferred, so holding a replay result across
    entries is safe, not a silent read-empty. Callers: between entries in
    bench.py and tools/scale_sweep.py."""
    keep = []
    for p in _EPHEMERAL_DIRS:
        if os.path.basename(p).startswith(("out_", "eos_")):
            ref = _LIVE_SINK_REFS.get(p)
            if ref is not None and ref() is not None:
                keep.append(p)  # caller still holds the lazy DataFrame
                continue
            _LIVE_SINK_REFS.pop(p, None)
            shutil.rmtree(p, ignore_errors=True)
        else:
            keep.append(p)
    _EPHEMERAL_DIRS[:] = keep


def _discard_ephemeral_dir(path: str, spark=None) -> None:
    """Remove an ephemeral CHECKPOINT dir reliably (VERDICT r12 task 1).

    A bare rmtree raced Spark's ASYNCHRONOUS state-store maintenance
    thread: after query termination the loaded providers stay registered
    and the periodic maintenance task can still write a snapshot/delta
    into the checkpoint's state/ tree, silently recreating the dir we
    just deleted (the tests_ok=false flake in VERIFY_r12). Fix, in order:

    1. Unload every state-store provider and stop the maintenance task
       (``StateStore.unloadAll()`` then
       ``stopMaintenanceTaskWithoutLock()``), so nothing can write into
       the dir afterwards. Providers for a discarded ephemeral checkpoint
       are garbage anyway — every replay gets a fresh checkpoint path, so
       no provider is ever reused — and the maintenance task restarts
       lazily on the next stateful query's first StateStore.get(). Not
       ``StateStore.stop()``: it holds the ``loadedProviders`` monitor
       while it awaits the maintenance pool, whose threads block on that
       same monitor, so every stop waited out
       ``stateStore.maintenanceShutdownTimeout``. The two calls here
       release the monitor before the pool is awaited. Both are
       JVM-global, so they run only when no streaming query is active:
       they would unload a running query's providers too. A failure warns
       (the atexit sweep still backstops the dir).
    2. rmtree, then a bounded verify-retry: if an in-flight write won the
       interleave and the dir survived/reappeared, re-delete. The loop
       exits immediately on the (normal) first success — zero added
       latency on the timed replay path.
    3. If the dir still survives, warn with its path and leave it
       registered, so the atexit sweep removes it at process exit.
    """
    if spark is not None:
        try:
            if not spark.streams.active:
                # neither method has a static forwarder on StateStore: call
                # them on the Scala object itself
                pkg = spark._jvm.org.apache.spark.sql.execution.streaming.state
                store = getattr(getattr(pkg, "StateStore$"), "MODULE$")
                store.unloadAll()
                store.stopMaintenanceTaskWithoutLock()
        except Exception as exc:
            warnings.warn(
                f"state-store unload before removing {path} failed: {exc!r}",
                RuntimeWarning,
                stacklevel=2,
            )
    shutil.rmtree(path, ignore_errors=True)
    for _ in range(20):
        if not os.path.isdir(path):
            break
        time.sleep(0.05)
        shutil.rmtree(path, ignore_errors=True)
    if os.path.isdir(path):
        warnings.warn(
            f"ephemeral checkpoint {path} survived removal; "
            "left registered for the exit sweep",
            RuntimeWarning,
            stacklevel=2,
        )
        return
    try:
        _EPHEMERAL_DIRS.remove(path)
    except ValueError:
        pass


def use_rocksdb_state(spark) -> None:
    """Switch keyed state to the RocksDB provider (the reference's state
    backend, NexmarkSuite.java:57) — spill-to-disk state for 100 TB streams;
    the default in-memory provider is faster for small local replays."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "append",
    timeout_s: int = 300,
    name: str | None = None,
    checkpoint_dir: str | None = None,
    shuffle_partitions: int | None = None,
    no_data_batch: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion on the currently-available
    data and return the result as a (batch) DataFrame from the memory sink.

    Pass ``checkpoint_dir`` to resume from (or establish) a durable
    checkpoint — restarting with the same dir continues exactly-once from
    the recorded offsets. In append mode the file sink then lives at
    ``<checkpoint_dir>/out`` (stable across restarts, ADVICE r4): a
    resumed replay appends NEW batches to the SAME directory, so the
    returned DataFrame always covers every committed batch, not just the
    post-resume ones. Ephemeral (no ``checkpoint_dir``) replays use tmpfs
    scratch instead, with the checkpoint removed eagerly on completion and
    the sink directory at process exit.

    ``shuffle_partitions`` pins the STATE partition count for this query
    (set around .start(), restored after completion — the streaming planner
    reads the conf at first-batch planning, verified via the checkpoint's
    state/0/ directory count). Alternating A/B on the QX interval join at
    sf0.1 (drift-cancelled, min-of-3): 8 state partitions 2.6 s vs 32
    6.3 s — local replays want FEW, large state partitions (per-partition
    store commit overhead dominates); at real scale the number is sized to
    state bytes, and the checkpoint bakes it in per query. Default None =
    ``replay_state_partitions()`` (8 under a local master, env-overridable,
    session-tuned value on a real cluster) — this is what sizes the driver's
    own session, which doesn't carry bench.py's SF-sized conf.

    Append-mode replays sink to a scratch PARQUET directory (distributed
    executor-side write, read back lazily) instead of the memory sink, whose
    per-batch driver collect dominates large outputs (QX replay emits 381 K
    rows at sf0.1: 3.9 s memory vs 3.1 s file sink, min-of-3 alternating).
    This is also the 100 TB shape — a real deployment lands results in a
    table, never in driver memory. Complete/update modes keep the memory
    sink (the file sink is append-only by contract).

    ``no_data_batch=False`` disables the trailing no-data micro-batch for
    this query. For a BOUNDED replay whose operators emit on arrival —
    inner stream-stream joins, dropDuplicatesWithinWatermark, stateless
    stream-static joins, applyInPandasWithState with NoTimeout, and
    complete-mode aggregations (full state re-emitted every batch) — that
    batch only evicts state that the discarded checkpoint never needs,
    yet costs real time (QX join at sf0.1: 3.0 s with vs 2.0 s without,
    byte-identical 381 K output rows, min-of-3 alternating). It MUST stay
    on (the default) for event-time timers and append-mode windowed
    aggregations: the watermark-advancing batch is what fires final
    timers/windows there. Callers opt out per query; the session conf is
    restored after completion.
    """
    spark = sdf.sparkSession
    qname = name or f"q_{uuid.uuid4().hex[:8]}"
    ckpt = checkpoint_dir or _ephemeral_checkpoint_dir(f"ckpt_{qname}_")
    if shuffle_partitions is None:
        shuffle_partitions = replay_state_partitions(spark)
        # COMPLETE mode re-emits the full state every batch through the
        # memory sink: fewer, larger state partitions win there (r11
        # drift-cancelled min-of-3 over the six complete-mode replays:
        # 5.34 s @4 vs 5.77 s @8 — 5 of 6 entries faster), while
        # append-mode stateful replays keep 8 (Arrow-batch worker
        # parallelism, same sweep).
        if output_mode == "complete" and shuffle_partitions == 8:
            shuffle_partitions = 4
    saved_parts = None
    if shuffle_partitions is not None:
        saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    _ND_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved_nd = None
    if not no_data_batch:
        saved_nd = spark.conf.get(_ND_CONF, "true")
        spark.conf.set(_ND_CONF, "false")
    out_dir = None
    try:
        if output_mode == "append":
            if checkpoint_dir is not None:
                out_dir = os.path.join(checkpoint_dir, "out")
            else:
                out_dir = _ephemeral_checkpoint_dir(f"out_{qname}_")
            writer = sdf.writeStream.format("parquet").option("path", out_dir)
        else:
            writer = sdf.writeStream.format("memory").queryName(qname)
        q = (
            writer.outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # restore only after completion: micro-batch PLANNING (which reads
        # the conf) happens asynchronously after .start(); the scratch
        # checkpoint is freed on success (the returned DataFrame reads only
        # out_dir, never the checkpoint)
        _finish_bounded(
            q, spark, f"streaming query {qname}", timeout_s,
            ckpt if checkpoint_dir is None else None,
        )
    finally:
        if saved_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
        if saved_nd is not None:
            spark.conf.set(_ND_CONF, saved_nd)
    if out_dir is not None:
        # explicit schema: a 0-row replay leaves only _spark_metadata, where
        # schema inference would fail; the sink wrote exactly sdf.schema
        df = spark.read.schema(sdf.schema).parquet(out_dir)
        if checkpoint_dir is None:
            # ephemeral sink: register the lazy read-back so
            # reclaim_replay_sinks defers this dir while the DataFrame lives
            _LIVE_SINK_REFS[out_dir] = weakref.ref(df)
        return df
    return spark.table(qname)


def with_latency_probes(
    sdf: DataFrame, id_col: str, every: int = 200_000
) -> DataFrame:
    """[P6] Tag 1-in-``every`` records as latency probes — the reference
    samples every 200,000th record inside its join operators and emits a
    marker row carrying the event's create/ingestion timestamps so the sink
    can track in-pipeline latency without paying for every record
    (NexmarkQuery8.java:635-644, NexmarkQueryX.java:681-683, marker =
    negated person id). The Spark-first form is a stateless deterministic
    filter on the unique event id (``id % every == 0``) rather than a
    per-subtask arrival counter: same 1-in-N density, but retry-stable and
    independent of partitioning — a counter-based sample would tag
    different records after a task retry. Probes stay IN the stream
    (downstream operators see them like any record); ``probe_latency_sink``
    peels them off at the sink."""
    return sdf.withColumn(
        "is_probe", F.pmod(F.col(id_col), F.lit(every)) == 0
    )


def probe_latency_sink(
    sdf: DataFrame,
    ts_col: str,
    out_dir: str,
    trigger_seconds: int | None = None,
):
    """[P6+K1] Latency stats over ONLY the probe-tagged records (the
    reference's sink reads its 1-in-200k marker rows) — same CSV schema and
    10-minute outlier drop as ``latency_stats_sink``, at 1/200000th the
    sink-side cost."""
    return latency_stats_sink(
        sdf.filter(F.col("is_probe")).drop("is_probe"),
        ts_col,
        out_dir,
        trigger_seconds,
    )


def latency_stats_sink(
    sdf: DataFrame,
    ts_col: str,
    out_dir: str,
    trigger_seconds: int | None = None,
):
    """foreachBatch latency tracker [A7/K1]: per micro-batch, compute
    count/mean/min/max of (now − event_time) and append one CSV row —
    the declarative twin of the reference's per-subtask buffered CSV sinks
    (NexmarkQuery8.java:271-414). Outliers beyond 10 min are dropped, as in
    NexmarkQuery8.java:382-396."""

    def _batch(df: DataFrame, batch_id: int) -> None:
        lat = df.select(
            (
                F.unix_micros(F.current_timestamp()) - F.unix_micros(F.col(ts_col))
            ).alias("lat_us")
        ).filter(F.col("lat_us") < 600 * 1_000_000)
        stats = lat.agg(
            F.lit(batch_id).alias("batch_id"),
            F.count(F.lit(1)).alias("n"),
            F.avg("lat_us").alias("mean_us"),
            F.min("lat_us").alias("min_us"),
            F.max("lat_us").alias("max_us"),
        )
        stats.write.mode("append").csv(out_dir)

    writer = sdf.writeStream.foreachBatch(_batch).outputMode("append")
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def with_observed_metrics(sdf: DataFrame, name: str = "nexmark_metrics") -> DataFrame:
    """Attach named streaming metrics (count + value stats) — read them from
    StreamingQueryProgress.observedMetrics, the K4 Gauge/Histogram twin."""
    return sdf.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
    )


def idempotent_batch_writer(out_dir: str, pre_commit_hook=None):
    """The exactly-once SINK half of Spark's replay-based model (the
    reference runs CheckpointingMode.EXACTLY_ONCE end-to-end,
    NexmarkQuery8.java:454-473; Spark's source replay is exactly-once
    already — this makes the sink idempotent so replays can't duplicate):

    per micro-batch, (1) if the batch id is already in the ledger, SKIP —
    the batch was fully committed before a crash and is being replayed;
    (2) write the batch to its own ``data/batch_id=<id>/`` directory with
    mode=overwrite — a partially-written directory from a crash mid-write
    is clobbered, never appended to; (3) atomically record the batch id in
    the ledger (temp file + rename). Readers (``read_committed``) only see
    ledgered batches, so every input row lands exactly once no matter where
    a crash falls. ``pre_commit_hook(batch_id)`` runs between (2) and (3) —
    the failure-injection point the crash-resume test uses (also a natural
    fsync/metrics hook).

    On a real cluster the ledger rename needs an atomic store (HDFS rename,
    a transactional table format, or a conditional object-store put); the
    batch-directory layout itself is the scale-safe part — each batch is an
    independent parallel write, no global lock."""
    data_dir = os.path.join(out_dir, "data")
    ledger_dir = os.path.join(out_dir, "_ledger")

    def _batch(df: DataFrame, batch_id: int) -> None:
        os.makedirs(ledger_dir, exist_ok=True)
        marker = os.path.join(ledger_dir, f"{batch_id}.done")
        if os.path.exists(marker):
            return
        df.write.mode("overwrite").parquet(
            os.path.join(data_dir, f"batch_id={batch_id}")
        )
        if pre_commit_hook is not None:
            pre_commit_hook(batch_id)
        fd, tmp = tempfile.mkstemp(dir=ledger_dir)
        os.close(fd)
        os.replace(tmp, marker)

    return _batch


def read_committed(spark, out_dir: str) -> DataFrame:
    """Read back ONLY the ledger-committed batches of an
    ``idempotent_batch_writer`` sink (uncommitted crash debris is
    invisible)."""
    ledger_dir = os.path.join(out_dir, "_ledger")
    data_dir = os.path.join(out_dir, "data")
    committed = sorted(
        int(f[: -len(".done")])
        for f in os.listdir(ledger_dir)
        if f.endswith(".done")
    )
    if not committed:
        raise ValueError(f"no committed batches under {out_dir}")
    paths = [os.path.join(data_dir, f"batch_id={b}") for b in committed]
    return (
        spark.read.option("basePath", data_dir).parquet(*paths).drop("batch_id")
    )


def run_foreach_batch(
    sdf: DataFrame,
    batch_fn,
    timeout_s: int = 300,
    checkpoint_dir: str | None = None,
):
    """Drive a foreachBatch sink to completion with Trigger.AvailableNow,
    re-raising any streaming failure (so injected crashes propagate)."""
    ckpt = checkpoint_dir or _ephemeral_checkpoint_dir("ckpt_fb_")
    q = (
        sdf.writeStream.foreachBatch(batch_fn)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _finish_bounded(
        q, sdf.sparkSession, "foreachBatch sink", timeout_s,
        ckpt if checkpoint_dir is None else None,
    )
    return q


def run_noop(sdf: DataFrame, timeout_s: int = 300):
    """Discard sink (K3 — NexmarkQuery8.java:723-728, cm/CM.java:304-312):
    run to completion, writing nothing."""
    ckpt = _ephemeral_checkpoint_dir("ckpt_noop_")
    q = (
        sdf.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _finish_bounded(q, sdf.sparkSession, "noop sink", timeout_s, ckpt)
    return q


def _finish_bounded(
    q, spark, what: str, timeout_s: int, ephemeral_ckpt: str | None
) -> None:
    """The shared tail of the bounded (availableNow) runners: wait for the
    query, stop it and raise ``TimeoutError`` if it outlives ``timeout_s``,
    re-raise its failure, then discard ``ephemeral_ckpt`` (None for a
    caller-owned checkpoint, which is kept for resume)."""
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"{what} did not finish in {timeout_s}s")
    if q.exception() is not None:
        raise q.exception()
    if ephemeral_ckpt is not None:
        _discard_ephemeral_dir(ephemeral_ckpt, spark)
