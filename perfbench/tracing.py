"""Per-layer tracing for a ``--trace 1`` run.

Three sources, all read from outside the engine:

* spans the benchmark records around each call into a layer (construct,
  execute, the streaming runner, artifact builds), kept in memory and
  written out at the end of the run;
* Spark's uncompressed event log: per-job stage/task counts and task
  metrics (run, CPU and GC time, shuffle, spill, scan input), attributed to
  the sample whose job group they carry, or whose wall window they fall in
  (streaming jobs carry their query's run id as the job group instead);
* ``StreamingQueryProgress`` events from a ``ProgressCapture`` subclass:
  the ``durationMs`` split and state-operator metrics of every micro-batch.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import time
from datetime import datetime

from nexmark_vanilla_flink_spark.sources.generator import generate_events_batch
from nexmark_vanilla_flink_spark.streaming.listener import ProgressCapture

GENERATOR_PROBE_EVENTS = 1_000_000

# StreamingQueryProgress.durationMs keys -> per-layer metric names
DURATION_KEYS = {
    "queryPlanning": "streaming.planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "getBatch": "streaming.get_batch_ms",
    "triggerExecution": "streaming.trigger_ms",
}


def generator_eps(spark, seed: int) -> float:
    """Generate-only rate of the rate source's fast draw: the batch
    generator into the noop sink, after one discarded call that pays the
    plan's code generation and job start-up."""
    df = generate_events_batch(spark, GENERATOR_PROBE_EVENTS, seed=seed, draw="fast")
    df.write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return GENERATOR_PROBE_EVENTS / (time.perf_counter() - t0)


def iso_ms(stamp: str) -> float:
    """Epoch milliseconds of a progress timestamp such as
    ``2026-01-01T00:00:00.123Z``."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


class LayerCapture(ProgressCapture):
    """``ProgressCapture`` that also keeps what the layer metrics need:
    run id, trigger timestamp, the ``durationMs`` split and the state
    operators of every micro-batch."""

    def __init__(self) -> None:
        super().__init__()
        self.batches: list[dict] = []

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        p = event.progress
        self.batches.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "ts_ms": iso_ms(p.timestamp),
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state": [
                    {
                        "rows": s.numRowsTotal,
                        "memory_bytes": s.memoryUsedBytes,
                        "commit_ms": s.commitTimeMs,
                        "dropped_late": s.numRowsDroppedByWatermark,
                    }
                    for s in (p.stateOperators or [])
                ],
            }
        )

    def settle(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until no progress event has arrived for ``quiet_s``."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while time.monotonic() < deadline and seen != len(self.batches):
            seen = len(self.batches)
            time.sleep(quiet_s)


class Tracer:
    """Samples, spans and the event-log/progress sources of one run.

    With ``enabled`` false every method is a cheap no-op apart from the
    sample bookkeeping, so the untraced run pays nothing for tracing."""

    def __init__(self, spark, enabled: bool, event_dir: str | None) -> None:
        self.spark = spark
        self.enabled = enabled
        self.event_dir = event_dir
        self.samples: list[dict] = []
        self.spans: list[dict] = []
        self.capture: LayerCapture | None = None
        self._current: dict | None = None
        if enabled:
            self.capture = LayerCapture()
            spark.streams.addListener(self.capture)
            self._wrap_runner()

    # -- samples and spans -------------------------------------------------
    def begin(self, label: str, phase: str, kind: str) -> dict:
        """Open a sample: ``phase`` is warmup/timed/check, ``kind`` the
        operation type (batch, replay, build, check)."""
        sample = {
            "key": f"{phase}:{label}#{len(self.samples)}",
            "label": label,
            "phase": phase,
            "kind": kind,
            "t0_ms": time.time() * 1000.0,
            "t1_ms": None,
            "exec_ms": None,
        }
        self.samples.append(sample)
        self._current = sample
        if self.enabled:
            self.spark.sparkContext.setJobGroup(sample["key"], label)
        return sample

    def end(self, sample: dict) -> None:
        sample["t1_ms"] = time.time() * 1000.0
        self._current = None
        if self.enabled:
            self.spark.sparkContext.setJobGroup("bench:idle", "idle")

    def span(self, name: str, t0_ms: float, t1_ms: float) -> None:
        if not self.enabled:
            return
        parent = self._current["label"] if self._current else None
        self.spans.append({"name": name, "t0_ms": t0_ms, "t1_ms": t1_ms, "parent": parent})

    def mark_exec(self, sample: dict) -> None:
        """Record when the sample's first execution call (``save()`` or the
        eager entry call) was made, the start of ``sql.pre_job_s``."""
        sample["exec_ms"] = time.time() * 1000.0

    def _wrap_runner(self) -> None:
        """Time ``run_available_now`` from outside: replay entries import it
        from the runner module at call time, so a wrapper there sees every
        call."""
        from nexmark_vanilla_flink_spark.streaming import runner

        inner = runner.run_available_now
        tracer = self

        def run_available_now(*args, **kwargs):
            t0 = time.time() * 1000.0
            try:
                return inner(*args, **kwargs)
            finally:
                tracer.span("streaming.run_available_now", t0, time.time() * 1000.0)

        runner.run_available_now = run_available_now

    # -- event log -----------------------------------------------------------
    def read_event_log(self) -> list[dict]:
        """Per-job records from the (stopped) session's event log."""
        # Spark 4 writes a directory per application holding events_* parts
        paths = sorted(
            glob.glob(os.path.join(self.event_dir, "**", "events_*"), recursive=True),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job = {
                            "group": props.get("spark.jobGroup.id"),
                            "submit_ms": ev["Submission Time"],
                            "stages": 0,
                            "tasks": 0,
                            "run_ms": 0,
                            "cpu_ns": 0,
                            "gc_ms": 0,
                            "failures": 0,
                            "shuffle_write": 0,
                            "shuffle_read": 0,
                            "fetch_wait_ms": 0,
                            "spill": 0,
                            "scan_rows": 0,
                            "scan_bytes": 0,
                        }
                        jobs[ev["Job ID"]] = job
                        for st in ev.get("Stage Infos", []):
                            stage_job[st["Stage ID"]] = ev["Job ID"]
                    elif kind == "SparkListenerStageCompleted":
                        job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                        if job is not None:
                            job["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        job = jobs.get(stage_job.get(ev["Stage ID"]))
                        if job is None:
                            continue
                        job["tasks"] += 1
                        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                            job["failures"] += 1
                        m = ev.get("Task Metrics") or {}
                        job["run_ms"] += m.get("Executor Run Time", 0)
                        job["cpu_ns"] += m.get("Executor CPU Time", 0)
                        job["gc_ms"] += m.get("JVM GC Time", 0)
                        job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        sr = m.get("Shuffle Read Metrics") or {}
                        job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        job["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                        job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        im = m.get("Input Metrics") or {}
                        job["scan_rows"] += im.get("Records Read", 0)
                        job["scan_bytes"] += im.get("Bytes Read", 0)
        return list(jobs.values())

    def attribute(self, jobs: list[dict], batches: list[dict]) -> dict[str, dict]:
        """Group jobs and progress events by sample key: by the
        job group where it names a sample, else by the sample whose wall
        window holds the job's submission or the batch's trigger time."""
        closed = sorted(
            (s for s in self.samples if s["t1_ms"] is not None), key=lambda s: s["t0_ms"]
        )
        starts = [s["t0_ms"] for s in closed]

        def at(ms: float) -> dict | None:
            i = bisect.bisect_right(starts, ms) - 1
            if i >= 0 and ms <= closed[i]["t1_ms"]:
                return closed[i]
            return None

        out: dict[str, dict] = {s["key"]: {"jobs": [], "batches": []} for s in closed}
        for job in jobs:
            key = job["group"] if job["group"] in out else None
            if key is None:
                s = at(job["submit_ms"])
                key = s["key"] if s else None
            if key is not None:
                out[key]["jobs"].append(job)
        for b in batches:
            s = at(b["ts_ms"])
            if s is not None:
                out[s["key"]]["batches"].append(b)
        return out


def _in(span: dict, sample: dict) -> bool:
    return sample["t0_ms"] <= span["t0_ms"] and span["t1_ms"] <= sample["t1_ms"]


def layer_metrics(tracer: Tracer, metrics, slots: int) -> list[dict]:
    """Add the per-layer metrics of the timed passes to ``metrics`` and
    return one record per timed sample (the per-entry breakdown)."""
    import statistics

    jobs = tracer.read_event_log()
    batches = tracer.capture.batches if tracer.capture else []
    groups = tracer.attribute(jobs, batches)
    records, trig = [], []
    for s in tracer.samples:
        if s["phase"] != "timed" or s["t1_ms"] is None:
            continue
        g = groups[s["key"]]
        spans = [sp for sp in tracer.spans if _in(sp, s)]

        def span_s(name: str) -> float:
            return sum(sp["t1_ms"] - sp["t0_ms"] for sp in spans if sp["name"] == name) / 1000.0

        construct = [sp for sp in spans if sp["name"] == "plans.construct"]
        construct_jobs = sum(
            1 for j in g["jobs"] for sp in construct if sp["t0_ms"] <= j["submit_ms"] <= sp["t1_ms"]
        )
        first_job = min((j["submit_ms"] for j in g["jobs"]), default=None)
        pre_job = (
            (first_job - s["exec_ms"]) / 1000.0
            if first_job is not None and s["exec_ms"] is not None
            else 0.0
        )
        wall = (s["t1_ms"] - s["t0_ms"]) / 1000.0
        tot = {k: sum(j[k] for j in g["jobs"]) for k in (
            "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "failures", "shuffle_write",
            "shuffle_read", "fetch_wait_ms", "spill", "scan_rows", "scan_bytes",
        )}
        dur = {k: sum(b["duration_ms"].get(k, 0) for b in g["batches"]) for k in DURATION_KEYS}
        run_s = span_s("streaming.run_available_now")
        rec = {
            "sample": s["label"],
            "kind": s["kind"],
            "wall_s": wall,
            "plans.construct_s": span_s("plans.construct"),
            "plans.construct_jobs": construct_jobs,
            "sql.pre_job_s": pre_job,
            "sql.jobs": len(g["jobs"]),
            "sql.stages": tot["stages"],
            "sql.tasks": tot["tasks"],
            "sched.overhead_s": wall - tot["run_ms"] / 1000.0 / slots,
            "exec.run_s": tot["run_ms"] / 1000.0,
            "exec.cpu_s": tot["cpu_ns"] / 1e9,
            "exec.gc_s": tot["gc_ms"] / 1000.0,
            "exec.task_failures": tot["failures"],
            "shuffle.write_bytes": tot["shuffle_write"],
            "shuffle.read_bytes": tot["shuffle_read"],
            "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1000.0,
            "spill.bytes": tot["spill"],
            "sources.scan_rows": tot["scan_rows"],
            "sources.scan_bytes": tot["scan_bytes"],
            "streaming.batches": len(g["batches"]),
            **{DURATION_KEYS[k]: v for k, v in dur.items()},
            "streaming.run_s": run_s,
            "streaming.readback_s": span_s("streaming.readback"),
            "streaming.teardown_s": max(0.0, run_s - dur["triggerExecution"] / 1000.0),
            "state.commit_ms": sum(o["commit_ms"] for b in g["batches"] for o in b["state"]),
            "state.rows_dropped_late": sum(
                o["dropped_late"] for b in g["batches"] for o in b["state"]
            ),
        }
        # state size after the last batch of each query in the sample
        last = {b["run_id"]: b for b in g["batches"]}
        rec["state.rows"] = sum(o["rows"] for b in last.values() for o in b["state"])
        rec["state.memory_bytes"] = sum(
            o["memory_bytes"] for b in last.values() for o in b["state"]
        )
        records.append(rec)
        trig.extend(b["duration_ms"].get("triggerExecution", 0) for b in g["batches"])

    units = {
        "plans.construct_jobs": "count", "sql.jobs": "count", "sql.stages": "count",
        "sql.tasks": "count", "exec.task_failures": "count", "shuffle.write_bytes": "bytes",
        "shuffle.read_bytes": "bytes", "spill.bytes": "bytes", "sources.scan_rows": "count",
        "sources.scan_bytes": "bytes", "streaming.batches": "count", "state.rows": "count",
        "state.memory_bytes": "bytes", "state.rows_dropped_late": "count",
    }
    # one value per timed pass (the n-th sample of an entry is in pass n),
    # so a metric's median is that of a pass like the end-to-end ones
    passes: list[list[dict]] = []
    seen: dict[str, int] = {}
    for rec in records:
        n = seen.get(rec["sample"], 0)
        seen[rec["sample"]] = n + 1
        if n == len(passes):
            passes.append([])
        passes[n].append(rec)
    for key in records[0] if records else []:
        if key in ("sample", "kind", "wall_s"):
            continue
        unit = units.get(key, "ms" if key.endswith("_ms") else "s")
        for recs in passes:
            metrics.add(key, unit, sum(r[key] for r in recs))
    metrics.add("streaming.batch_ms_p50", "ms", statistics.median(trig) if trig else 0.0)
    for recs in passes:
        metrics.add("trace.measured_s", "s", sum(r["wall_s"] for r in recs))
    return records
