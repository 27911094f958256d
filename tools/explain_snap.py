#!/usr/bin/env python
"""Snapshot `.explain("formatted")` for named registry entries into files.

    python tools/explain_snap.py --repo /root/repo --out plans/r12 \
        --suffix after --sf /root/testdata/sf0.1 name1 name2 ...

Used for the per-round before/after plan evidence (`plans/r12/<q>_before.txt`
/ `_after.txt`): run once with --repo pointed at a checkout of the previous
round's snapshot (before) and once at HEAD (after). Volatile ids are scrubbed
with `tools/gen_explains.py`'s `_clean` and the header does not name the
suffix, so an unchanged plan gives byte-identical files: `diff` the pair.
Streaming/sink entries
execute their replay at construction time and return the sink read-back
DataFrame; for those the captured plan is the read-back scan and the header
says so — the optimization evidence for replays is runtime config + timings,
not a batch plan shape.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

from gen_explains import _clean


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")

    from nexmark_vanilla_flink_spark.plans import REGISTRY  # noqa: E402
    from nexmark_vanilla_flink_spark.session import get_session  # noqa: E402

    spark = get_session("explain-snap")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    # entries that read corpus-index artifacts need them built
    try:
        from nexmark_vanilla_flink_spark.operators.artifacts import (
            ARTIFACT_BUILDERS,
        )

        for fn in ARTIFACT_BUILDERS.values():
            fn(spark, args.sf)
    except Exception:
        traceback.print_exc()

    os.makedirs(args.out, exist_ok=True)
    jvm = spark.sparkContext._jvm
    for name in args.names:
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        try:
            q = REGISTRY[name]
            df = q.spark(spark, args.sf)
            txt = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            eager = set(q.tags) & {"streaming", "sink", "iterative", "eager"}
            hdr = [
                f"# {name} — explain('formatted') at "
                f"{args.sf}, shuffle.partitions=8",
                f"# tags: {','.join(q.tags) or '-'}",
            ]
            if eager:
                hdr.append(
                    "# NOTE: eager-tagged entry — construction executes the "
                    "replay/iteration; the plan below is the final returned "
                    "DataFrame (for replays: the sink read-back), so runtime "
                    "evidence lives in bench timings, not this plan shape."
                )
            with open(path, "w") as f:
                f.write("\n".join(hdr) + "\n\n" + _clean(txt))
            print(f"wrote {path}", flush=True)
        except Exception as ex:  # noqa: BLE001
            with open(path, "w") as f:
                f.write(f"# {name} ({args.suffix}) — FAILED to build: {ex}\n")
                f.write(traceback.format_exc())
            print(f"FAILED {name}: {ex}", flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
