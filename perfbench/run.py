#!/usr/bin/env python3
"""Benchmark of the nexmark_vanilla_flink_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload nexmark-registry --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

    nexmark-registry  closed loop, one caller: Nexmark batch joins and a
                      stream-stream join replay over seeded tables
    corpus-index      closed loop, one caller: the MinHash artifact builds
                      plus the MinHash/LSH consumers over a seeded corpus

The run makes its input tables from ``--seed``, starts one ``local[nproc]``
session, measures for ``--seconds`` (at least three passes), checks every
entry's output against its DuckDB oracle, prints every metric with its
unit, sample count, median and quartiles, and ends with one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``
(the traced run adds Spark's event log, a streaming progress listener and
spans around each layer call; its per-entry breakdown is written to
``.perfbench/traces/``). Scratch lives under ``.perfbench/`` and is removed
at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

WORKLOADS = ("nexmark-registry", "corpus-index")

END_TO_END = ["setup_s"]

# the timed passes: printed with every run; in the JSON line with --trace 1
PASS_METRICS = ["batch_pass_s", "replay_pass_s"]

PER_LAYER = PASS_METRICS + [
    "session.start_s", "session.warmup_s",
    "plans.construct_s", "plans.construct_jobs",
    "sql.pre_job_s", "sql.jobs", "sql.stages", "sql.tasks", "sched.overhead_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.task_failures",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.bytes",
    "sources.scan_rows", "sources.scan_bytes", "sources.generator_eps",
    "streaming.batches", "streaming.planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
    "streaming.get_batch_ms", "streaming.trigger_ms", "streaming.batch_ms_p50",
    "streaming.run_s", "streaming.readback_s", "streaming.teardown_s",
    "state.rows", "state.memory_bytes", "state.commit_ms", "state.rows_dropped_late",
    "artifacts.build_s", "artifacts.builds", "artifacts.bytes", "artifacts.builds_in_pass",
    "trace.measured_s",
]

# per-layer metrics a workload does not exercise report 0 with this unit
ZERO_UNITS = {"artifacts.build_s": "s", "artifacts.builds": "count", "artifacts.bytes": "bytes"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_heap() -> str:
    """Driver heap: a quarter of physical memory, at most 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{min(4096, kib // 4 // 1024)}m"


def code_id(root: str) -> str:
    """Content hash of the engine package: the checkout is not always a git
    repository, so this identifies the code measured."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "nexmark_vanilla_flink_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()[:12]
        return ref[:12]
    except OSError:
        return "none"


def stop_session(spark) -> None:
    """Stop the session and its JVM and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nexmark_vanilla_flink_spark", "__init__.py")):
        print(
            "perfbench: run from the root of a checkout holding nexmark_vanilla_flink_spark/",
            file=sys.stderr,
        )
        return 2
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    out_root = os.path.join(root, ".perfbench")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)

    cpus = len(os.sched_getaffinity(0))
    heap = host_heap()
    # Python workers import the package (UDF entries) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_MASTER", None)
    for p in (bench_dir, os.path.join(root, "tests"), root):
        sys.path.insert(0, p)

    import datagen
    from stats import Metrics, Stopwatch, cpu_s

    run_watch, stolen0 = Stopwatch(), cpu_s()[1]
    try:
        metrics = Metrics()
        t0 = time.perf_counter()
        sf_dir = datagen.generate(os.path.join(work, "data"), args.seed)
        gen_s = time.perf_counter() - t0

        from nexmark_vanilla_flink_spark.session import get_session

        confs = {
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(work, "events"),
                    "spark.eventLog.compress": "false",
                }
            )
        watch = Stopwatch()
        spark = get_session("perfbench", extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        metrics.add("session.start_s", "s", watch.read()[1])
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": cpus,
            "heap": heap,
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "duckdb": __import__("duckdb").__version__,
            "git_commit": git_commit(root),
            "code_id": code_id(root),
            "input_gen_s": round(gen_s, 3),
        }
        from closed_loop import run_corpus, run_registry
        from tracing import Tracer, generator_eps, layer_metrics

        tracer = Tracer(spark, bool(args.trace), os.path.join(work, "events"))
        try:
            fn = run_registry if args.workload == "nexmark-registry" else run_corpus
            run = fn(spark, sf_dir, tracer, metrics, args.seconds)
            if args.trace:
                metrics.add("sources.generator_eps", "1/s", generator_eps(spark, args.seed))
                tracer.capture.settle()
        finally:
            stop_session(spark)
        info["run_s"] = round(run_watch.read()[0], 1)
        info["host_stolen_cpu_s"] = round(cpu_s()[1] - stolen0, 1)
        metrics.add(
            "setup_s", "s", metrics.value("session.start_s") + metrics.value("session.warmup_s")
        )
        records = layer_metrics(tracer, metrics, cpus) if args.trace else []
        for name, unit in ZERO_UNITS.items():
            if not metrics.has(name):
                metrics.add(name, unit, 0)
        wanted = PER_LAYER if args.trace else END_TO_END
        missing = [n for n in wanted if not metrics.has(n)]
        if missing:
            run.failed += 1
            run.failures.append(f"metrics not measured: {missing}")
        if args.trace:
            os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
            path = os.path.join(
                out_root, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            )
            with open(path, "w") as f:
                json.dump({"info": info, "entries": records, "spans": tracer.spans}, f)
            info["trace_file"] = os.path.relpath(path, root)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("# " + json.dumps(info, sort_keys=True))
    for line in metrics.table():
        print("# " + line)
    for name in END_TO_END + PASS_METRICS + ["batch_pass_wall_s", "replay_pass_wall_s"]:
        print(f"# samples {name} " + " ".join(f"{v:.4f}" for v in metrics.samples(name)))
    if args.trace:
        for rec in records:
            print("# entry " + json.dumps(rec, sort_keys=True))
    for failure in run.failures:
        print("# FAILED " + failure)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics.as_result([n for n in wanted if metrics.has(n)]),
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
