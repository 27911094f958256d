"""CLI entry dispatch — parity with the reference's single entry point
(kernel/Main.java:23-70: ``--debug|q8|cm|q8fc|q5fc|q11fc|q5|qx|q0|q5b`` flag
dispatch into env-mutating run methods, then ``env.execute``).

    python -m nexmark_vanilla_flink_spark --q5 [--stream] [--sf-dir DIR]
    python -m nexmark_vanilla_flink_spark --list

Batch mode runs the registered plan and prints a sample + row count;
--stream replays the testdata through the Structured Streaming twin
(Trigger.AvailableNow) where one exists.
"""

from __future__ import annotations

import argparse
import sys
import time

# flag → registry query name (batch) and streaming twin builder name
_FLAG_TO_QUERY = {
    "q5": "q5_hot_items",
    "q5_sliding": "q5_sliding",
    "q8": "q8_new_users_auctions",
    "q11": "q11_user_bids",
    "qx": "qx_winning_bids",
    "sessions": "sessions_by_bidder",
    "cm": "cm_load_per_job",
    "q0": "event_type_stats",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="nexmark_vanilla_flink_spark")
    for flag in _FLAG_TO_QUERY:
        ap.add_argument(f"--{flag}", action="store_true")
    ap.add_argument("--query", action="append", default=[],
                    help="any registered query name (see --list); repeatable")
    ap.add_argument("--list", action="store_true", help="list registered queries")
    ap.add_argument("--stream", action="store_true", help="run the streaming twin")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--show", type=int, default=5, help="rows to print")
    ap.add_argument(
        "--soak",
        type=int,
        metavar="SECONDS",
        help="run the live pipeline (rate generator → q5 window agg → "
        "latency stats) for N seconds and print throughput/latency",
    )
    ap.add_argument(
        "--rate", type=int, default=50_000, help="events/s for --soak"
    )
    ap.add_argument(
        "--q5b",
        action="store_true",
        help="Q5b processing-time flush demo (kernel/Main.java:58-60): "
        "drives the applyInPandasWithState flush logic under a virtual "
        "clock — accumulate, re-arm, timer fires, emit+clear",
    )
    ap.add_argument(
        "--debug",
        action="store_true",
        help="sample + count of all three Nexmark streams "
        "(kernel/Main.java:31-33 runNexmarkQ8Debug)",
    )
    args = ap.parse_args(argv)

    if args.soak:
        return _run_soak(args.soak, args.rate)
    if args.q5b:
        return _run_q5b_demo(args.sf_dir, args.show)
    if args.debug:
        return _run_debug(args.sf_dir, args.show)

    from .plans import REGISTRY

    if args.list:
        for name, q in sorted(REGISTRY.items()):
            kind = "oracle" if q.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {q.tags}")
        return 0

    names = [q for f, q in _FLAG_TO_QUERY.items() if getattr(args, f)]
    names.extend(args.query)
    if not names:
        ap.error("pick a query flag (e.g. --q5), --query NAME, or --list")

    from .session import get_session

    spark = get_session("nexmark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in REGISTRY:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        if args.stream:
            df = _run_stream(spark, name, args.sf_dir)
        else:
            df = REGISTRY[name].spark(spark, args.sf_dir)
        n = df.count()
        dt = time.perf_counter() - t0
        print(f"== {name} ({'stream' if args.stream else 'batch'}): "
              f"{n} rows in {dt:.2f}s ==")
        df.show(args.show, truncate=False)
    spark.stop()
    return 0


def _run_soak(seconds: int, rate: int) -> int:
    """Live end-to-end soak: synthetic skewed generator (S1-S4) → event-time
    windowed hot-items aggregation (A1) → memory sink, with listener-based
    throughput accounting (K4) — the whole streaming engine running hot."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from .session import get_session
    from .sources.generator import generate_events_stream, split_streams
    from .streaming.listener import ProgressCapture

    spark = get_session("nexmark-soak")
    spark.sparkContext.setLogLevel("ERROR")
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    bids = split_streams(generate_events_stream(spark, rows_per_second=rate))["bids"]
    agg = (
        bids.withWatermark("b_ts", "2 seconds")
        .groupBy(F.window("b_ts", "10 seconds"), F.col("auction_id"))
        .agg(F.max("bid").alias("max_bid"), F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("soak")
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_soak_"))
        .trigger(processingTime="1 second")
        .start()
    )
    t0 = time.time()
    time.sleep(seconds)
    # stopping a hot stream aborts the in-flight micro-batch by design;
    # silence the JVM teardown noise so the summary line is readable
    spark.sparkContext.setLogLevel("OFF")
    q.stop()
    q.awaitTermination(60)
    wall = time.time() - t0
    rows = cap.total_input_rows()
    done = len([p for p in cap.progress if p["numInputRows"] > 0])
    note = (
        ""
        if done
        else " [saturated: no micro-batch completed before stop — lower --rate]"
    )
    print(
        f"soak: {rows} events in {wall:.1f}s "
        f"({int(rows / wall)} ev/s sustained of {rate} offered), "
        f"{done} completed micro-batches, "
        f"{spark.table('soak').count()} agg rows emitted{note}"
    )
    spark.stop()
    return 0


def _run_q5b_demo(sf_dir: str, show: int) -> int:
    """--q5b (kernel/Main.java:58-60 → NexmarkQuery5b.java:204): the
    processing-time flush is nondeterministic under a wall clock by design,
    so the CLI demo drives the SAME applyInPandasWithState function with a
    VIRTUAL clock (the harness decides when the timer fires): batch 1
    accumulates + arms the timer, batch 2 accumulates more, then the
    timeout fires and the flush emits + clears — printed step by step over
    real bids from ``sf_dir``."""
    from .session import get_session
    from .sources.tables import nexmark_streams
    from .streaming import stateful

    spark = get_session("nexmark-q5b-demo")
    spark.sparkContext.setLogLevel("ERROR")

    fn = stateful.q5b_flush_fn(10_000)

    class _State:
        def __init__(self):
            self._value, self.hasTimedOut, self.timeout_ms = None, False, None

        @property
        def exists(self):
            return self._value is not None

        @property
        def get(self):
            return self._value

        def update(self, v):
            self._value = tuple(v)

        def remove(self):
            self._value = None

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    bids = (
        nexmark_streams(spark, sf_dir)["bids"]
        .select("item_id", "bid", "b_ts_ns")
        .limit(2_000)
        .toPandas()
    )
    top = bids["item_id"].value_counts().index[:show]
    print(f"== q5b virtual-clock flush demo ({len(top)} hottest items) ==")
    for item in top:
        pdf = bids[bids["item_id"] == item].rename(columns={"item_id": "auction_id"})
        half = len(pdf) // 2 or 1
        st = _State()
        list(fn((int(item),), iter([pdf.iloc[:half]]), st))
        print(
            f"item {item}: batch1 {half} bids accumulated, "
            f"timer armed (+{st.timeout_ms} ms), state={st.get[:2]}"
        )
        list(fn((int(item),), iter([pdf.iloc[half:]]), st))
        print(f"item {item}: batch2 {len(pdf) - half} bids, state={st.get[:2]}")
        st.hasTimedOut = True
        out = list(fn((int(item),), iter([]), st))
        row = out[0].iloc[0]
        print(
            f"item {item}: TIMER FIRED -> emit max_bid={row['max_bid']:.2f} "
            f"bid_count={int(row['bid_count'])}, state cleared={not st.exists}"
        )
    # no spark.stop(): getOrCreate may have returned a shared session
    # (pytest fixture); the CLI process exit tears the JVM down anyway
    return 0


def _run_debug(sf_dir: str, show: int) -> int:
    """--debug (kernel/Main.java:31-33 runNexmarkQ8Debug): inspect the three
    Nexmark streams — row count + sample of persons/auctions/bids."""
    from .session import get_session
    from .sources.tables import nexmark_streams

    spark = get_session("nexmark-debug")
    spark.sparkContext.setLogLevel("ERROR")
    for name, df in nexmark_streams(spark, sf_dir).items():
        if name == "events":
            continue
        print(f"== {name}: {df.count()} rows ==")
        df.show(show, truncate=False)
    # no spark.stop(): see _run_q5b_demo
    return 0


def _run_stream(spark, name: str, sf_dir: str):
    from .streaming.queries import (
        cm_stream,
        event_type_stats_stream,
        q5_hot_items_stream,
        q7_highest_bid_stream,
        q8_join_stream,
        q11_join_stream,
        qx_winning_bids_stream,
        sessions_stream,
    )
    from .plans import REGISTRY
    from .streaming.runner import run_available_now
    from .streaming.sources import stream_events, stream_nexmark

    if name == "cm_load_per_job":
        return run_available_now(cm_stream(stream_events(spark, sf_dir)), "complete")
    if name == "event_type_stats":  # a true twin of itself (ADVICE r4)
        return run_available_now(
            event_type_stats_stream(stream_events(spark, sf_dir)), "complete"
        )
    s = stream_nexmark(spark, sf_dir)
    if name == "q5_hot_items":
        return run_available_now(q5_hot_items_stream(s["bids"]), "complete")
    if name == "sessions_by_bidder":
        return run_available_now(sessions_stream(s["bids"]), "complete")
    if name == "nexmark_q7_highest_bid":  # canonical q7 window, bid stream
        return run_available_now(q7_highest_bid_stream(s["bids"]), "complete")
    if name == "q8_new_users_auctions":
        return run_available_now(
            q8_join_stream(s["persons"], s["auctions"]),
            "append",
            no_data_batch=False,  # inner stream-stream join: emits on arrival
        )
    if name == "q11_user_bids":
        return run_available_now(
            q11_join_stream(s["persons"], s["bids"]),
            "append",
            no_data_batch=False,
        )
    if name == "qx_winning_bids":
        return run_available_now(
            qx_winning_bids_stream(s["auctions"], s["bids"]),
            "append",
            no_data_batch=False,
        )
    if name == "funnel_conversion":  # CEP twin — full replay incl. sentinel
        return REGISTRY["funnel_conversion_stream_replay"].spark(spark, sf_dir)
    if name == "scd2_user_state":  # streaming CDC merge twin
        return REGISTRY["scd2_stream_replay"].spark(spark, sf_dir)
    raise SystemExit(f"no streaming twin wired for {name}")


if __name__ == "__main__":
    raise SystemExit(main())
