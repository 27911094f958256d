"""Build discipline of the content-keyed artifacts (operators/artifacts.py):
one build per (name, tag) however many callers ask at once, and a
dependency's build logged once, under its own name, never inside the
seconds of the artifact that required it."""

from __future__ import annotations

import sys
import threading
import time

from nexmark_vanilla_flink_spark.operators.artifacts import (
    pop_build_log,
    purge_artifact_roots,
)
from nexmark_vanilla_flink_spark.plans.pipeline import (
    _dedup_clusters_dir,
    _minhash_signatures_dir,
)


def test_concurrent_requests_share_one_signature_build(spark, sf_dir):
    """More callers than cores ask for the signature artifact at once,
    with a short switch interval to interleave them: exactly one build
    runs and every caller gets its directory."""
    purge_artifact_roots()
    pop_build_log()
    n = 8
    start = threading.Barrier(n)
    dirs: list[str] = []
    errors: list[Exception] = []

    def request() -> None:
        try:
            start.wait(timeout=60)
            dirs.append(_minhash_signatures_dir(spark, sf_dir))
        except Exception as exc:  # surfaced below, not lost in the thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=request) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    log = pop_build_log()
    assert [r["name"] for r in log] == ["minhash_signatures"]
    assert len(dirs) == n and len(set(dirs)) == 1


def test_cluster_build_logs_signatures_once_and_apart(spark, sf_dir):
    purge_artifact_roots()
    pop_build_log()
    t0 = time.perf_counter()
    _dedup_clusters_dir(spark, sf_dir)
    wall = time.perf_counter() - t0
    log = pop_build_log()
    assert [r["name"] for r in log] == ["minhash_signatures", "dedup_clusters"]
    sig, clusters = log
    # disjoint timers: had the cluster build's seconds included the
    # signature build it triggered, the two records would sum past the wall
    assert sig["sec"] > 0
    assert sig["sec"] + clusters["sec"] <= wall
