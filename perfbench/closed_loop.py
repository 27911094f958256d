"""The two closed-loop workloads: one caller runs registry entries (and, for
``corpus-index``, artifact builds) back to back, each call waiting for the
previous one.

``nexmark-registry``
    batch: the lazy entries of ``plans/nexmark.py`` tagged ``join`` (the
    reference's Q8, Q11 and QX joins);
    replays: the ``streaming`` entries of ``plans/streaming_entries.py``
    tagged ``nexmark`` and ``join`` but neither ``stateful`` nor
    ``interval`` (the declarative stream-stream join replay).

``corpus-index``
    Set-up purges every artifact root (``purge_artifact_roots()``) and times
    a build of each of ``CORPUS_BUILDS`` in the fresh process; a pass runs
    the batch and streaming entries tagged ``lsh`` but not ``telemetry``
    (the MinHash/LSH consumers), less ``CONSUMERS_LEFT_OUT``, against them.
    A consumer that rebuilds an artifact counts in
    ``artifacts.builds_in_pass``.

Sets are chosen by module and tag, so they follow the registry. A sample
is the entry call plus a save to the noop sink; the streaming replays do
their work inside the entry call, so their save is the sink read-back. The
warm-up is one pass of exactly those samples, timed as
``session.warmup_s``; after each warm-up sample, outside its timer, the
entry's output is compared with its DuckDB oracle (``compare_capped``). At
least ``MIN_PASSES`` timed passes follow, and more while the next one is
expected to end within ``--seconds``; each pass reports its batch and
replay seconds.
"""

from __future__ import annotations

import os
import time

from nexmark_vanilla_flink_spark.operators.artifacts import pop_build_log
from nexmark_vanilla_flink_spark.plans import REGISTRY
from nexmark_vanilla_flink_spark.plans.registry import EAGER_TAGS
from nexmark_vanilla_flink_spark.streaming.runner import reclaim_replay_sinks

from stats import Metrics, Stopwatch, tail

# Oracle results above this many rows are compared by compare_capped's
# aggregate fingerprint instead of row by row: the row-by-row compare sorts
# every row in Python, which at these output sizes costs more than the run.
CHECK_CAP_ROWS = 1_000

# a run's pass metrics are the median of at least this many passes
MIN_PASSES = 3

KINDS = ("batch", "replay")

# Corpus consumers a run has no time for: the batch twin of
# incremental_dedup_stream_replay, which runs the same dedup against the
# dedup_index artifact.
CONSUMERS_LEFT_OUT = ("incremental_dedup",)

# The artifacts of the MinHash/LSH family the consumers belong to. The
# other builders (vector index, bigrams, BPE vocabulary, co-purchase pairs,
# postings) feed no consumer in the set and would add about 11 s a run.
CORPUS_BUILDS = ("dedup_clusters", "dedup_index")


def _module(name: str) -> str:
    return REGISTRY[name].spark.__module__.rsplit(".", 1)[-1]


def _kind(name: str) -> str:
    return "replay" if EAGER_TAGS & set(REGISTRY[name].tags) else "batch"


def registry_batch_set() -> list[str]:
    return [
        n
        for n, q in REGISTRY.items()
        if _module(n) == "nexmark" and _kind(n) == "batch" and "join" in q.tags
    ]


def registry_replay_set() -> list[str]:
    # the interval-join replay alone takes longer than the rest of the pass
    return [
        n
        for n, q in REGISTRY.items()
        if _module(n) == "streaming_entries"
        and {"streaming", "nexmark", "join"} <= set(q.tags)
        and not {"stateful", "interval"} & set(q.tags)
    ]


def corpus_consumer_set() -> list[str]:
    taken = set(registry_batch_set()) | set(registry_replay_set())
    return [
        n
        for n, q in REGISTRY.items()
        if "lsh" in q.tags
        and "telemetry" not in q.tags
        and n not in taken
        and n not in CONSUMERS_LEFT_OUT
    ]


class Runner:
    """Runs, times and checks registry entries and artifact builds, and
    counts attempts and failures."""

    def __init__(self, spark, sf_dir: str, tracer, metrics: Metrics) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.metrics = metrics
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.builds_in_pass = 0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {why}"[:300])

    def entry(self, name: str, phase: str) -> tuple[float, float] | None:
        """One sample: construct the entry's DataFrame and save it to the
        noop sink. In the warm-up the output is then compared with the
        DuckDB oracle, outside the timer. Returns the sample's (wall, net)
        seconds (see ``Stopwatch``), or None when the entry raised or
        mismatched."""
        kind = _kind(name)
        self.attempted += 1
        tr = self.tracer
        pop_build_log()
        s = tr.begin(name, phase, kind)
        watch = Stopwatch()
        t0 = watch.t0
        try:
            if kind == "replay":
                tr.mark_exec(s)
            df = REGISTRY[name].spark(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if kind == "batch":
                tr.mark_exec(s)
            df.write.format("noop").mode("overwrite").save()
            wall, net = watch.read()
        except Exception as exc:  # an entry failure is a result, not a crash
            tr.end(s)
            reclaim_replay_sinks()
            self.fail(name, repr(exc))
            return None
        tr.end(s)
        if phase == "timed":
            self.builds_in_pass += len(pop_build_log())
        ok = self.check(name, df) if phase == "warmup" else True
        df = None
        reclaim_replay_sinks()
        ms = s["t0_ms"]
        first, second = (
            ("streaming.entry", "streaming.readback")
            if kind == "replay"
            else ("plans.construct", "sql.execute")
        )
        tr.span(first, ms, ms + (t1 - t0) * 1000.0)
        tr.span(second, ms + (t1 - t0) * 1000.0, ms + wall * 1000.0)
        return (wall, net) if ok else None

    def check(self, name: str, df) -> bool:
        """Compare ``df`` with the entry's DuckDB oracle."""
        from oracle_utils import compare_capped

        s = self.tracer.begin(name, "check", "check")
        try:
            ok, msg = compare_capped(df, self.sf_dir, REGISTRY[name].oracle, cap=CHECK_CAP_ROWS)
        except Exception as exc:
            ok, msg = False, repr(exc)
        self.tracer.end(s)
        if not ok:
            self.fail(name, msg)
        return ok

    def run_pass(
        self, names: list[str], phase: str, times: dict[str, list[float]] | None = None
    ) -> tuple[dict[str, float], dict[str, float]]:
        """Run each entry once; returns the (net, wall) seconds spent per
        kind and, for a timed pass, appends each sample's net seconds to
        ``times``."""
        net = dict.fromkeys(KINDS, 0.0)
        wall = dict.fromkeys(KINDS, 0.0)
        for name in names:
            sample = self.entry(name, phase)
            if sample is None:
                continue
            kind = _kind(name)
            wall[kind] += sample[0]
            net[kind] += sample[1]
            if times is not None:
                times.setdefault(kind, []).append(sample[1])
        return net, wall

    def build_all(self) -> float:
        """Purge every artifact root and build each of ``CORPUS_BUILDS``
        once, recording each build's net seconds and bytes. Returns the
        seconds."""
        from nexmark_vanilla_flink_spark.operators.artifacts import (
            ARTIFACT_BUILDERS,
            artifact_root,
            purge_artifact_roots,
        )

        purge_artifact_roots()
        pop_build_log()
        total, size = 0.0, 0
        for name in CORPUS_BUILDS:
            build = ARTIFACT_BUILDERS[name]
            self.attempted += 1
            s = self.tracer.begin(name, "warmup", "build")
            watch = Stopwatch()
            try:
                build(self.spark, self.sf_dir)
            except Exception as exc:
                self.tracer.end(s)
                self.fail(f"build {name}", repr(exc))
                continue
            dt = watch.read()[1]
            self.tracer.end(s)
            total += dt
            nbytes = _du(artifact_root(name))
            size += nbytes
            self.metrics.add(f"artifacts.build_s.{name}", "s", dt)
            self.metrics.add(f"artifacts.bytes.{name}", "bytes", nbytes)
        self.metrics.add("artifacts.build_s", "s", total)
        self.metrics.add("artifacts.builds", "count", len(pop_build_log()))
        self.metrics.add("artifacts.bytes", "bytes", size)
        return total


def _measure(run: Runner, names: list[str], seconds: float) -> None:
    """Timed passes over ``names``: at least ``MIN_PASSES``, and more while
    another pass of the last one's length ends within ``seconds``. Each
    pass starts on a collected driver heap, so no warm-up garbage is
    collected inside it. Records each pass's net and wall seconds per kind
    and the per-query tail of each kind."""
    times: dict[str, list[float]] = {}
    measured = last = 0.0
    passes = 0
    while passes < MIN_PASSES or measured + last <= seconds:
        run.spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        net, wall = run.run_pass(names, "timed", times)
        last = time.perf_counter() - t0
        for kind in KINDS:
            run.metrics.add(f"{kind}_pass_s", "s", net[kind])
            run.metrics.add(f"{kind}_pass_wall_s", "s", wall[kind])
        measured += last
        passes += 1
    run.metrics.add("artifacts.builds_in_pass", "count", run.builds_in_pass)
    for kind in KINDS:
        if times.get(kind):
            pct, value = tail(times[kind])
            run.metrics.add(
                f"{kind}_query_tail_s", "s", value, note=f"p{pct:.0f} of n={len(times[kind])}"
            )


def run_registry(spark, sf_dir: str, tracer, metrics: Metrics, seconds: float) -> Runner:
    run = Runner(spark, sf_dir, tracer, metrics)
    names = registry_batch_set() + registry_replay_set()
    metrics.add("session.warmup_s", "s", sum(run.run_pass(names, "warmup")[0].values()))
    _measure(run, names, seconds)
    return run


def run_corpus(spark, sf_dir: str, tracer, metrics: Metrics, seconds: float) -> Runner:
    from nexmark_vanilla_flink_spark.operators.artifacts import purge_artifact_roots

    run = Runner(spark, sf_dir, tracer, metrics)
    names = corpus_consumer_set()
    build_s = run.build_all()
    metrics.add(
        "session.warmup_s", "s", build_s + sum(run.run_pass(names, "warmup")[0].values())
    )
    _measure(run, names, seconds)
    purge_artifact_roots()
    return run


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
