#!/usr/bin/env python
"""Full-registry scale sweep (VERDICT r7 task 1 / r8 task 2): run EVERY
registry entry at one or more SF dirs — typically sf0.1 and the 10x
replica built by tools/scale10.py — hash-compare each oracled entry
against DuckDB on the same parquet (the driver's correctness gate,
via tests.oracle_utils.compare), and record per-query Spark/DuckDB walls
so superlinear growth is named, not asserted.

    python tools/scale10.py 10 /tmp/sf1.0          # build the replica
    python tools/scale_sweep.py /root/testdata/sf0.1 /tmp/sf1.0

Output JSON (SCALE_SWEEP_OUT, default docs/scaling_r9.json):
  per sf dir: {query: {spark_s, duck_s, match, rows}}, artifact builds,
  and a cross-sf summary naming every entry whose Spark wall grew more
  than GROWTH_FLAG x between the first and last sf (after subtracting
  the measured per-query floor — sub-second entries are floor-dominated
  and a 10x data growth inside one task shows up as ~1x wall).

Timing is bench.py's: its floor_batch for the per-query floor, its
time_entry per sample (min of 2 for lazy entries, one for eager ones) and
its after_entry between entries. Hash compare runs ONCE per (query, sf) —
the sweep is a correctness gate first, a wall table second.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import after_entry, floor_batch, time_entry  # noqa: E402
from nexmark_vanilla_flink_spark.plans import REGISTRY  # noqa: E402
from nexmark_vanilla_flink_spark.plans.registry import EAGER_TAGS  # noqa: E402
from nexmark_vanilla_flink_spark.session import get_session  # noqa: E402

# 10x data on 32 local cores: perfectly linear work with fixed overheads
# lands well under 10x wall; 15x flags genuinely superlinear growth.
GROWTH_FLAG = 15.0
# Entries whose DuckDB oracle is infeasible at the BIG SF (e.g. the
# triangle-count oracle's wedge join spills more temp than the disk holds
# at 10x): record Spark rows only, with an explicit note. The exemption
# applies ONLY at the last (largest) sf_dir of the invocation (ADVICE r9
# low: it used to apply at every SF, contradicting the stated intent that
# the entry stays full-oracle-gated at the smaller SFs).
ROWS_ONLY = set(
    filter(None, os.environ.get("SCALE_ROWS_ONLY", "").split(","))
)


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sf1.0"]
    out_path = os.environ.get(
        "SCALE_SWEEP_OUT",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "docs",
            "scaling_r10.json",
        ),
    )
    spark = get_session(
        "scale_sweep",
        shuffle_partitions=8,
        extra_confs={"spark.driver.memory": "48g"},
    )
    from nexmark_vanilla_flink_spark.operators.artifacts import (
        ARTIFACT_BUILDERS,
        pop_build_log,
    )
    from tests.oracle_utils import compare_capped as compare

    # Resume: a prior partial sweep (killed mid-sf) keeps its per-query
    # records — the JSON is rewritten after EVERY query below, so only the
    # in-flight entry is ever lost.
    result: dict = {"sweeps": {}, "growth_flag": GROWTH_FLAG}
    if os.path.exists(out_path) and os.environ.get("SCALE_SWEEP_FRESH") != "1":
        with open(out_path) as f:
            prior = json.load(f)
        result["sweeps"] = prior.get("sweeps", {})
    # SCALE_QUERIES=a,b,c restricts the sweep to a subset — the 30x
    # near-flag probes (VERDICT r9 task 6) re-time only the cohort whose
    # 10x growth sat just under the superlinear flag.
    only = os.environ.get("SCALE_QUERIES")
    names = (
        [n.strip() for n in only.split(",") if n.strip() in REGISTRY]
        if only
        else list(REGISTRY)
    )
    for sf_dir in sf_dirs:
        prior_sweep = result["sweeps"].get(sf_dir, {})
        done = prior_sweep.get("queries", {})
        # Re-run anything that errored OR mismatched — a resumed sweep gets
        # one fresh attempt per entry (transient failures like the r9
        # comparator connection-leak OOM re-adjudicate; true mismatches
        # simply fail again and stay recorded). Resumed records carry the
        # floor of the SESSION THAT TIMED THEM (ADVICE r9 low: computing
        # their net against a freshly measured floor mixed box states into
        # the growth table) plus a resumed marker for growth readers.
        done = {n: r for n, r in done.items() if r.get("match") is True}
        for r in done.values():
            r.setdefault("floor_s", prior_sweep.get("floor_s"))
            r["resumed"] = True
        # floor: the fixed per-query cost at this session state, re-measured
        # at phase END with the min kept (bench.py's r7 lesson, learned here
        # the hard way in r10: ONE start-of-phase sample landed on transient
        # host contention at 0.832 s vs the ~0.09 s typical, clamping every
        # sub-second entry's net to the 0.05 denominator and flagging 53
        # entries as "superlinear")
        floor_s = floor_batch(spark)

        for fn in ARTIFACT_BUILDERS.values():
            fn(spark, sf_dir)
        spark.catalog.clearCache()
        builds = pop_build_log()
        sweep: dict = {
            "floor_s": round(floor_s, 3),
            "artifact_build_sec": round(sum(b["sec"] for b in builds), 3),
            "artifact_builds": builds,
            "queries": dict(done),
        }
        result["sweeps"][sf_dir] = sweep
        for name in names:
            if name in done:
                continue
            q = REGISTRY[name]
            rec: dict = {}
            try:
                samples = 1 if EAGER_TAGS & set(q.tags) else 2
                spark_s = min(
                    time_entry(spark, sf_dir, name) for _ in range(samples)
                )
                rec["spark_s"] = spark_s
                rec["floor_s"] = round(floor_s, 3)
                if q.oracle and name in ROWS_ONLY and sf_dir == sf_dirs[-1]:
                    # UNVERIFIED at this SF: match=None keeps it out of the
                    # green tally (ADVICE r9 low: `rows >= 0` was
                    # unconditionally True, counting a count-only run as
                    # green); the rows_only total is reported separately.
                    rec["rows"] = q.spark(spark, sf_dir).count()
                    rec["match"] = None
                    rec["compare_mode"] = "rows_only"
                    rec["compare_note"] = (
                        "oracle infeasible at this SF "
                        "(duckdb temp spill exceeded disk)"
                    )
                elif q.oracle:
                    t0 = time.perf_counter()
                    ok, msg = compare(
                        q.spark(spark, sf_dir), sf_dir, q.oracle
                    )
                    rec["compare_s"] = round(time.perf_counter() - t0, 3)
                    rec["match"] = ok
                    if msg.startswith("agg-fingerprint"):
                        rec["compare_mode"] = "agg_fingerprint"
                        rec["compare_note"] = msg[:200]
                    if not ok:
                        rec["mismatch"] = msg[:400]
                else:
                    rec["rows"] = q.spark(spark, sf_dir).count()
                    rec["match"] = rec["rows"] >= 0
            except Exception as exc:  # noqa: BLE001 — sweep must finish
                rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
                rec["match"] = False
            sweep["queries"][name] = rec
            # r11: without the replay-sink reclaim the 10x phase filled
            # /dev/shm by entry #146 and every later DuckDB compare OOM'd
            after_entry(spark)
            stray = pop_build_log()
            if stray:
                rec["artifact_builds_in_query"] = stray
            print(
                f"[{sf_dir}] {name}: {rec.get('spark_s', '-')}s "
                f"match={rec.get('match')}",
                flush=True,
            )
            with open(out_path, "w") as f:
                json.dump(result, f, indent=1)
        # end-of-phase floor re-measure, min kept; every record timed by
        # THIS session gets the corrected value (resumed records keep the
        # floor of the session that timed them)
        floor_start, floor_end = floor_s, floor_batch(spark)
        sweep["floor_start_end"] = [round(floor_start, 3), round(floor_end, 3)]
        if floor_end < floor_start:
            # back-patch ONLY records this session timed (ADVICE r10 low:
            # matching by floor-VALUE could silently rewrite a resumed
            # record whose stored floor coincidentally equals this
            # session's start floor — the resumed marker is the session id)
            for r in sweep["queries"].values():
                if not r.get("resumed"):
                    r["floor_s"] = round(floor_end, 3)
            floor_s = floor_end
            sweep["floor_s"] = round(floor_s, 3)
        ok_n = sum(
            1 for r in sweep["queries"].values() if r.get("match") is True
        )
        ro_n = sum(
            1
            for r in sweep["queries"].values()
            if r.get("compare_mode") == "rows_only"
        )
        # denominator = every record in the sweep, resumed included (ADVICE
        # r10 low: len(names) under SCALE_QUERIES made a resumed sweep read
        # e.g. "177/7")
        sweep["green"] = f"{ok_n}/{len(sweep['queries'])}"
        sweep["rows_only_unverified"] = ro_n
        result["sweeps"][sf_dir] = sweep
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)

    if len(sf_dirs) >= 2:
        lo, hi = sf_dirs[0], sf_dirs[-1]
        ql, qh = (
            result["sweeps"][lo]["queries"],
            result["sweeps"][hi]["queries"],
        )
        fl_lo = result["sweeps"][lo]["floor_s"]
        fl_hi = result["sweeps"][hi]["floor_s"]
        growth = {}
        # iterate RECORDS, not the (possibly SCALE_QUERIES-restricted) name
        # filter: a resumed partial session must refresh the growth table
        # for every stored entry, not shrink it to the re-run subset
        for name in sorted(set(ql) & set(qh)):
            ra, rb = ql.get(name, {}), qh.get(name, {})
            a, b = ra.get("spark_s"), rb.get("spark_s")
            if a is None or b is None:
                continue
            # Denominator floor of 50 ms: entries that run AT the per-query
            # floor at the small SF otherwise divide by ~1e-3 and read as
            # 100-1000x "growth" that is pure measurement noise (the first
            # r9 sweep flagged nexmark_q0_passthrough at 138x this way).
            # Each record nets against the floor of the session that timed
            # it (per-record floor_s; resumed records keep their own).
            net_a = max(a - (ra.get("floor_s") or fl_lo), 0.05)
            net_b = max(b - (rb.get("floor_s") or fl_hi), 1e-3)
            growth[name] = round(net_b / net_a, 2)
        result["growth_net_of_floor"] = dict(
            sorted(growth.items(), key=lambda kv: -kv[1])
        )
        # Flag only entries that are BOTH superlinear and materially slow at
        # the big SF — a sub-second wall at 10x data is floor/stage noise,
        # not a scaling pathology.
        result["superlinear_flagged"] = [
            n
            for n, g in growth.items()
            if g > GROWTH_FLAG
            and (qh.get(n, {}).get("spark_s") or 0)
            - (qh.get(n, {}).get("floor_s") or fl_hi)
            > 1.0
        ]
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
    print(f"wrote {out_path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
