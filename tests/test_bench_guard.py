"""bench.py timing-integrity guard (ADVICE r2): `_timed_save` excludes
DataFrame CONSTRUCTION from the timed passes for queries without an
EAGER_TAGS tag — which is only honest if construction really is pure plan
building. This test constructs every non-eager registry query inside a job
group and fails if any of them launched Spark jobs during construction, so
a future entry whose construction does real cluster work can't silently
have that work excluded from its benchmark timing.

(Construction-side work that is NOT a Spark job — the binary frame
encoders' one-time /tmp file writes — is intentionally out of scope: the
encode is wire-fixture scaffolding, cached per content fingerprint, and the
timed quantity is the decode plan.)
"""

import uuid

from nexmark_vanilla_flink_spark.plans import REGISTRY
from nexmark_vanilla_flink_spark.plans.registry import EAGER_TAGS


def test_lazy_queries_run_no_jobs_at_construction(spark, sf_dir):
    sc = spark.sparkContext
    lazy = {
        name: q
        for name, q in REGISTRY.items()
        if not (EAGER_TAGS & set(q.tags))
    }
    offenders = {}
    for name, q in lazy.items():
        # the FIRST read of each parquet path runs a one-time footer-schema
        # job in the session — a session effect, not query work (bench's
        # count() warmups absorb it before any timed pass). So an entry is
        # built once; only if that build launched jobs is it built again,
        # and only jobs on the second (warm) build flag it.
        for _ in range(2):
            group = f"construct_{name}_{uuid.uuid4().hex[:6]}"
            sc.setJobGroup(group, "construction guard")
            try:
                q.spark(spark, sf_dir)
            finally:
                sc.setJobGroup(None, None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            if not jobs:
                break
        else:
            offenders[name] = len(jobs)
    assert not offenders, (
        "queries launching Spark jobs at (warm) construction time must "
        f"carry one of {EAGER_TAGS} so bench.py times that work: {offenders}"
    )
