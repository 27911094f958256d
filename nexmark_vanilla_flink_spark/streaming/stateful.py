"""Low-level stateful replicas (SURVEY.md §7 step 8) — the places where the
reference's semantics are *timer-driven* rather than declarative, implemented
on ``applyInPandasWithState`` (Arrow-batched keyed state, the Spark analog of
Flink's KeyedProcessFunction + ValueState/ListState/MapState surface,
§2.6).

Default builds use the declarative plans (plans/nexmark.py, streaming/
queries.py); these replicas exist for exact-behavior parity:

  * hot_items_stateful  — Q5's Aggregator (NexmarkQuery5.java:201-251):
    per-key accumulator {max, count, last ts} with an event-time timer that
    fires when the watermark passes the window end, emits, and clears —
    reference's registerEventTimeTimer(:240) + onTimer(:246-250).
  * q5b_proc_time_flush — Q5b's processing-time timer flush
    (NexmarkQuery5b.java:204, now + 10 s): ProcessingTimeTimeout variant,
    over the same accumulator.
  * union_join_stateful — Q8/Q11's JoinUDF (NexmarkQuery8.java:602-662):
    tagged-union stream keyed by personId, ValueState<person> +
    ListState<auction> (never evicted — reference behavior, :634), emitting
    matches incrementally from both sides (a symmetric hash join by hand).
  * allowed_lateness_stateful — Flink's ``allowedLateness`` pane re-fire
    (NexmarkQueryX.java:279-281).
  * bucketed_stateful — the one watermark-fold driver: buffer arriving
    rows, fold the watermark-finalized prefix per user, flush at the
    end-of-input sentinel or timer. Each operator is one ``FoldSpec``:
    ``EWMA_SPEC``, ``SCD2_SPEC``, ``SKIPGRAM_SPEC``,
    ``SKIPGRAM_COUNTED_SPEC`` and ``funnel_spec(window_us)``.
  * funnel_stateful — the continuous per-key-timer form of the funnel
    (CEP) matcher: each key emits and frees its state the moment the
    watermark proves its row immutable.

The keyed operators take ``n_buckets``: the default coarsens state into
hash buckets of the key (fewer Python group calls for the same per-key
semantics); ``n_buckets=None`` keys state per user — the per-key
reference form the tests compare the bucketed runs against.
"""

from __future__ import annotations

import pickle
from collections import Counter
from itertools import groupby
from typing import Any, Callable, Iterator, NamedTuple, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.time import bucket_start_s

# State of every bucketed operator: one pickled blob per group. Pickle is
# INTERNAL state representation — emitted rows, the oracle-gated surface,
# never pass through it.
_BUCKETED_STATE = StructType([StructField("blob", BinaryType())])


def _bucket_col(key: str, n_buckets: int) -> Column:
    """The ``bkt`` grouping column: a row takes the hash bucket of ``key``;
    the one-row end-of-input sentinel (``key`` < 0) explodes to EVERY
    bucket so each group can flush in the data batch (one extra row per
    bucket, JVM-side)."""
    return F.explode(
        F.when(
            F.col(key) >= 0,
            F.array(F.pmod(F.col(key), F.lit(n_buckets)).cast("int")),
        ).otherwise(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
    ).alias("bkt")


HOT_ITEMS_OUTPUT = StructType(
    [
        StructField("auction_id", LongType()),
        StructField("w_start_s", LongType()),
        StructField("max_bid", DoubleType()),
        StructField("bid_count", LongType()),
        StructField("last_bid_ts_s", LongType()),
    ]
)

_HOT_ITEMS_STATE = StructType(
    [
        StructField("max_bid", DoubleType()),
        StructField("bid_count", LongType()),
        StructField("last_ts_ns", LongType()),
        StructField("w_end_ms", LongType()),
    ]
)


def hot_items_acc(acc: Optional[tuple], pdfs: Iterator[pd.DataFrame]) -> tuple:
    """Fold a batch of bids into a key's {max, count, last ts} accumulator
    (the reference Aggregator's add, NexmarkQuery5.java:220). ``acc`` is the
    stored state, whose first three fields are the accumulator, or None for
    a new key; shared by the GroupState and the ValueState (streaming/tws.py)
    operators."""
    max_bid, bid_count, last_ts_ns = (float("-inf"), 0, 0) if acc is None else acc[:3]
    for pdf in pdfs:
        if len(pdf):
            max_bid = max(max_bid, float(pdf["bid"].max()))
            bid_count += int(len(pdf))
            last_ts_ns = max(last_ts_ns, int(pdf["b_ts_ns"].max()))
    return max_bid, bid_count, last_ts_ns


def hot_items_row(auction_id: int, w_start_s: int, acc: tuple) -> pd.DataFrame:
    """A key's accumulator as its one emitted row (reference onTimer,
    NexmarkQuery5.java:246-250)."""
    max_bid, bid_count, last_ts_ns = acc[:3]
    return pd.DataFrame(
        {
            "auction_id": [auction_id],
            "w_start_s": [w_start_s],
            "max_bid": [max_bid],
            "bid_count": [bid_count],
            "last_bid_ts_s": [last_ts_ns // 1_000_000_000],
        }
    )


def _hot_items_flush(
    state: GroupState, auction_id: int, w_start_s: int
) -> pd.DataFrame:
    """The timer fired: emit the key's accumulator and clear its state."""
    row = hot_items_row(auction_id, w_start_s, state.get)
    state.remove()
    return row


def hot_items_keyed(bids: DataFrame, window_s: int) -> GroupedData:
    """Bids keyed by (item, window start) under the 2 s watermark: the
    grouping both Q5 timer replicas fold over."""
    return (
        bids.withColumn("auction_id", F.col("item_id"))
        .withColumn("w_start_s", bucket_start_s("b_ts_ns", window_s))
        .withWatermark("b_ts", "2 seconds")
        .groupBy("auction_id", "w_start_s")
    )


def hot_items_stateful(bids: DataFrame, window_s: int = 3600) -> DataFrame:
    """Q5 exact replica: keyed accumulator + event-time timer emission.

    Key = (item, window start); the state carries {max, count, last_ts}; the
    timeout is the window end so emission happens exactly when the watermark
    passes it (then the key's state is removed — reference :246-250).
    """

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        auction_id, w_start_s = (int(v) for v in key)
        if state.hasTimedOut:
            yield _hot_items_flush(state, auction_id, w_start_s)
            return
        w_end_ms = (w_start_s + window_s) * 1000
        state.update((*hot_items_acc(state.get if state.exists else None, pdfs), w_end_ms))
        # the reference's registerEventTimeTimer: fire when watermark ≥ window
        # end (clamped above the current watermark — historical replay can
        # have windows that already expired, like the reference's
        # absolute-timer quirk at NexmarkQuery5.java:240)
        state.setTimeoutTimestamp(max(w_end_ms, state.getCurrentWatermarkMs() + 1))

    return hot_items_keyed(bids, window_s).applyInPandasWithState(
        fn,
        outputStructType=HOT_ITEMS_OUTPUT,
        stateStructType=_HOT_ITEMS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def q5b_flush_fn(flush_interval_ms: int = 10_000) -> Callable:
    """The Q5b group function: accumulate per item key and re-arm a
    processing-time timer ``flush_interval_ms`` out; when it fires, emit
    and clear. Exposed so a virtual clock can drive it
    (tests/test_q5b_deterministic.py, the ``--q5b`` CLI demo)."""

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            yield _hot_items_flush(state, int(key[0]), 0)
            return
        state.update((*hot_items_acc(state.get if state.exists else None, pdfs), 0))
        state.setTimeoutDuration(flush_interval_ms)

    return fn


def q5b_proc_time_flush(bids: DataFrame, flush_interval_ms: int = 10_000) -> DataFrame:
    """Q5b replica: accumulate per item key, flush on a *processing-time*
    timer (reference: now + 10 s, NexmarkQuery5b.java:204). Inherently
    nondeterministic — soak-tested, never oracle-gated (SURVEY.md §7)."""
    return (
        bids.withColumn("auction_id", F.col("item_id"))
        .groupBy("auction_id")
        .applyInPandasWithState(
            q5b_flush_fn(flush_interval_ms),
            outputStructType=HOT_ITEMS_OUTPUT,
            stateStructType=_HOT_ITEMS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


UNION_JOIN_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("person_id", LongType()),
        StructField("auction_id", LongType()),
    ]
)


def tagged_union(persons: DataFrame, auctions: DataFrame) -> DataFrame:
    """Input1Tagger/Input2Tagger + union (P3/J6 — JoinHelper.java:24-40):
    one stream, ``side`` 1 = person, 2 = auction."""
    p = persons.select(
        F.lit(1).alias("side"),
        F.col("user_id"),
        F.col("person_id").alias("row_id"),
        F.col("p_ts").alias("ts"),
    )
    a = auctions.select(
        F.lit(2).alias("side"),
        F.col("seller_id").alias("user_id"),
        F.col("auction_id").alias("row_id"),
        F.col("start_ts").alias("ts"),
    )
    return p.unionByName(a)


def union_join_stateful(
    tagged: DataFrame, n_buckets: Optional[int] = 16
) -> DataFrame:
    """Q8/Q11 JoinUDF replica: symmetric hash join by hand on the tagged
    union (side 1 = person, 2 = auction — ``tagged_union``). Per user,
    arriving persons join all buffered auctions and arriving auctions join
    all buffered persons, so each (person, auction) pair is emitted exactly
    once, when its later side arrives. Buffers are never evicted —
    faithfully mirroring the reference's never-cleared ListState
    (NexmarkQuery8.java:634); the production path (streaming/queries.py)
    bounds state with watermarks instead. Emission is on arrival, with no
    watermark gating and no timers.

    State is coarsened into ``n_buckets`` hash buckets of user_id (the
    per-key group-call protocol costs ~0.7 ms per key per batch — ~1.2 s
    of pure machinery for 1500 keys at sf0.1 with a trivial fn);
    ``n_buckets=None`` keys it per user, the reference form that
    tests/test_stateful.py holds to the batch join."""

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        bufs: dict = pickle.loads(state.get[0]) if state.exists else {}
        chunks = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            uid_arr = pdf["user_id"].to_numpy()
            side = pdf["side"].to_numpy()
            rid = pdf["row_id"].to_numpy()
            order = np.argsort(uid_arr, kind="stable")
            uids_sorted = uid_arr[order]
            starts = np.flatnonzero(
                np.r_[True, uids_sorted[1:] != uids_sorted[:-1]]
            )
            bounds = np.r_[starts, len(uids_sorted)]
            for gi in range(len(starts)):
                sel = order[bounds[gi] : bounds[gi + 1]]
                uid = int(uids_sorted[bounds[gi]])
                p_buf, a_buf = bufs.get(uid, ([], []))
                s_g, r_g = side[sel], rid[sel]
                new_p, new_a = r_g[s_g == 1], r_g[s_g == 2]
                old_p = np.asarray(p_buf, dtype=np.int64)
                old_a = np.asarray(a_buf, dtype=np.int64)
                # new persons pair with all auctions seen so far (old +
                # this batch), old persons with this batch's new auctions
                all_a = np.concatenate([old_a, new_a])
                if len(new_p) and len(all_a):
                    chunks.append(
                        (
                            uid,
                            np.repeat(new_p, len(all_a)),
                            np.tile(all_a, len(new_p)),
                        )
                    )
                if len(old_p) and len(new_a):
                    chunks.append(
                        (
                            uid,
                            np.repeat(old_p, len(new_a)),
                            np.tile(new_a, len(old_p)),
                        )
                    )
                p_buf = p_buf + [int(x) for x in new_p]
                a_buf = a_buf + [int(x) for x in new_a]
                bufs[uid] = (p_buf, a_buf)
        state.update((pickle.dumps(bufs),))
        if chunks:
            out_u = np.concatenate(
                [np.full(len(c[1]), c[0], dtype=np.int64) for c in chunks]
            )
            out_p = np.concatenate([c[1] for c in chunks])
            out_a = np.concatenate([c[2] for c in chunks])
            yield pd.DataFrame(
                {"user_id": out_u, "person_id": out_p, "auction_id": out_a}
            )

    keyed = (
        tagged.groupBy("user_id")
        if n_buckets is None
        else tagged.select(
            "*", F.pmod(F.col("user_id"), F.lit(n_buckets)).cast("int").alias("bkt")
        ).groupBy("bkt")
    )
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=UNION_JOIN_OUTPUT,
        stateStructType=_BUCKETED_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LATE_WINDOW_OUTPUT = StructType(
    [
        StructField("auction_id", LongType()),
        StructField("w_start_s", LongType()),
        StructField("bid_count", LongType()),
        StructField("max_bid", DoubleType()),
        StructField("emit_version", IntegerType()),
    ]
)


def allowed_lateness_stateful(
    bids: DataFrame,
    window_s: int,
    allowed_late_s: int,
    n_buckets: int = 16,
) -> DataFrame:
    """Flink ``allowedLateness`` re-fire replica (the last semantic delta
    vs the reference — NexmarkQueryX.java:279-281 admits rows up to 15 s
    past the watermark into already-fired windows and RE-EMITS the
    updated pane; Spark's native windowed aggregation drops every
    late-past-watermark row). Per (auction, window) pane over
    ``applyInPandasWithState`` (bucketed, same coarsening as the other
    replicas):

      * a pane whose end the watermark passes fires once with its
        on-time aggregate (``emit_version`` 1 — EventTimeTrigger's
        watermark fire);
      * a late row arriving while ``watermark < end + allowed_late_s``
        folds into the fired pane and RE-FIRES it (version 2 — one
        re-fire per micro-batch, the micro-batch analog of Flink's
        per-element late firing). A late row into a pane that never
        fired on time CREATES the pane and fires it late (version 1 with
        only the late rows — EventTimeTrigger.onElement's immediate fire
        for end <= watermark);
      * a late row past the bound is DROPPED, as the reference drops it;
      * panes the watermark never reached emit their full aggregate at
        the end-of-input sentinel (auction_id < 0, broadcast to every
        bucket — the bounded-replay flush the other replicas use).

    Emissions are append-mode rows, so the full v1 THEN v2 history of
    every re-fired pane is visible to the oracle — the batch SQL models
    the first-batch watermark (max on-time event ms − delay) and
    enumerates exactly these rows."""

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        st: dict = pickle.loads(state.get[0]) if state.exists else {}
        wm_us = state.getCurrentWatermarkMs() * 1000
        horizon_us = allowed_late_s * 1_000_000
        out = []
        eoi = False
        rows: list = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            ids = pdf["auction_id"].astype("int64")
            keep = ids >= 0
            if not keep.all():
                eoi = True
            if not keep.any():
                continue
            rows.extend(
                zip(
                    ids[keep].tolist(),
                    pdf["w_start_s"][keep].astype("int64").tolist(),
                    pdf["us"][keep].astype("int64").tolist(),
                    pdf["bid"][keep].tolist(),
                )
            )
        rows.sort()
        for (a, w), grp in groupby(rows, key=lambda r: (r[0], r[1])):
            grp = list(grp)
            cnt, mx, fired, ver = st.get((a, w), (0, None, 0, 0))
            w_end_us = (w + window_s) * 1_000_000
            if not fired and w_end_us <= wm_us:
                # the watermark passed this pane's end in an earlier
                # batch: it fired then — emit the frozen on-time pane
                # BEFORE this batch's late rows touch it
                if cnt > 0:
                    ver += 1
                    out.append((a, w, cnt, mx, ver))
                fired = 1
            if fired:
                if wm_us < w_end_us + horizon_us:
                    for r in grp:
                        cnt += 1
                        mx = r[3] if mx is None or r[3] > mx else mx
                    ver += 1
                    out.append((a, w, cnt, mx, ver))
                # else: past end + allowedLateness — dropped, like the
                # reference's WindowOperator
            else:
                for r in grp:
                    cnt += 1
                    mx = r[3] if mx is None or r[3] > mx else mx
            st[(a, w)] = (cnt, mx, fired, ver)
        if eoi:
            for (a, w) in sorted(st):
                cnt, mx, fired, ver = st[(a, w)]
                if not fired and cnt > 0:
                    out.append((a, w, cnt, mx, ver + 1))
            if state.exists:
                state.remove()
        else:
            state.update((pickle.dumps(st),))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "auction_id",
                    "w_start_s",
                    "bid_count",
                    "max_bid",
                    "emit_version",
                ],
            )

    return (
        bids.withWatermark("ts", "2 seconds")
        .select(
            "auction_id", "w_start_s", "us", "bid", "ts",
            _bucket_col("auction_id", n_buckets),
        )
        .groupBy("bkt")
        .applyInPandasWithState(
            fn,
            outputStructType=LATE_WINDOW_OUTPUT,
            stateStructType=_BUCKETED_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# The watermark-fold driver and its operator specs
# ---------------------------------------------------------------------------


class FoldSpec(NamedTuple):
    """One watermark-gated per-user operator for ``bucketed_stateful``.

    ``fold(uid, ustate_or_None, rows) -> (ustate', out_rows)`` folds one
    user's watermark-finalized rows, in (event time, event_id) order;
    each row is ``(user_id, us, event_id, *value_cols)``.
    ``final(uid, ustate) -> out_rows`` emits at end of input.
    ``batch_reduce(out_rows) -> out_rows`` (optional) collapses a group's
    emission batch before it crosses Arrow."""

    value_cols: tuple
    fold: Callable
    final: Callable
    out_schema: StructType
    watermark: str
    batch_reduce: Optional[Callable] = None


def _no_final(uid, ustate) -> list:
    return []


EWMA_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", IntegerType()),
        StructField("ewma_fp", LongType()),
        StructField("last_v_fp", LongType()),
    ]
)


def _ewma_fold(uid, ustate, rows):
    acc, n, last_v = ustate or (0, 0, 0)
    for r in rows:
        x = int(r[3])
        acc = (acc + x) // 2
        last_v = x
        n += 1
    return (acc, n, last_v), []


def _ewma_final(uid, ustate):
    acc, n, last_v = ustate
    return [(uid, int(n), int(acc), int(last_v))] if n > 0 else []


# Continuously-maintained quantized EWMA feature — the streaming form of
# the batch ``user_value_ewma`` fold: per user, the fixed-point recursion
# acc = (acc + v_fp) DIV 2 advances as each event is watermark-FINALIZED
# (an EWMA folded out of order is a different number — the order gate IS
# the correctness condition). State is three BIGINTs per user; the row is
# emitted only at end of input, when the full-history EWMA is final.
EWMA_SPEC = FoldSpec(("v_fp",), _ewma_fold, _ewma_final, EWMA_OUTPUT, "30 seconds")


SCD2_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
        StructField("state_value", StringType()),
        StructField("version", IntegerType()),
        StructField("is_current", BooleanType()),
    ]
)


def _scd2_fold(uid, ustate, rows):
    cur_state, cur_from, ver = ustate or ("", -1, 0)
    closed = []
    for r in rows:
        e = r[3]
        if ver == 0 or e != cur_state:
            if ver > 0:
                closed.append(
                    (uid, int(cur_from), int(r[1]), cur_state, int(ver), False)
                )
            cur_state, cur_from, ver = e, int(r[1]), ver + 1
    return (cur_state, cur_from, ver), closed


def _scd2_final(uid, ustate):
    cur_state, cur_from, ver = ustate
    if ver > 0:
        return [(uid, int(cur_from), None, cur_state, int(ver), True)]
    return []


# Streaming CDC merge — the continuous form of the batch
# ``scd2_user_state``: per user, no-op updates compress, each closed
# validity interval emits the moment its successor's event time is
# watermark-finalized (immutable on emit, so append-mode-sound), and the
# still-open interval emits at end of input with is_current = true.
SCD2_SPEC = FoldSpec(
    ("event_type",), _scd2_fold, _scd2_final, SCD2_OUTPUT, "2 seconds"
)


SKIPGRAM_OUTPUT = StructType(
    [
        StructField("center", StringType()),
        StructField("context", StringType()),
    ]
)

SKIPGRAM_COUNT_OUTPUT = StructType(
    [
        StructField("center", StringType()),
        StructField("context", StringType()),
        StructField("cnt", LongType()),
    ]
)


def _skipgram_fold(uid, ustate, rows):
    p1, p2 = ustate or (None, None)
    out = []
    for r in rows:
        e = r[3]
        if p1 is not None:
            out.append((p1, e))
            out.append((e, p1))
        if p2 is not None:
            out.append((p2, e))
            out.append((e, p2))
        p2, p1 = p1, e
    return (p1, p2), out


def _count_pairs(out):
    return [(c, x, n) for (c, x), n in sorted(Counter(out).items())]


# Streaming training-example generation — word2vec-style (center, context)
# skip-gram pairs (window ±2, symmetric) from per-user event sequences as
# they arrive, the online counterpart of the batch ``skipgram_pairs``:
# each finalized event e emits (p1,e),(e,p1),(p2,e),(e,p2) against its two
# predecessors — exactly the batch lead(1)/lead(2) pairs — then shifts
# p2←p1, p1←e. State is two strings per user.
SKIPGRAM_SPEC = FoldSpec(
    ("event_type",), _skipgram_fold, _no_final, SKIPGRAM_OUTPUT, "2 seconds"
)
# The same fold with the map-side combine at the operator boundary: the
# event-type vocabulary is tiny, so a group's raw pairs collapse to <=25
# distinct (center, context, cnt) rows before crossing Arrow — the partial
# aggregate the consumer's global pair count would force anyway. Counts
# are batch-additive, so the multi-batch timer path stays correct under
# the consumer's SUM.
SKIPGRAM_COUNTED_SPEC = SKIPGRAM_SPEC._replace(
    out_schema=SKIPGRAM_COUNT_OUTPUT, batch_reduce=_count_pairs
)


FUNNEL_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_us", LongType()),
        StructField("click_us", LongType()),
        StructField("purchase_us", LongType()),
        StructField("funnel_stage", IntegerType()),
    ]
)

_FUNNEL_ET = {"view": 0, "click": 1, "purchase": 2}


def funnel_fold(v, c, p, us, et, window_us):
    """Stage-wise masked-min fold of a FINALIZED event set into the funnel
    state (v, c, p; -1 = unmatched). Equivalent to the batch chained-min
    because each stage's bound is fixed before the next stage filters on
    it — and chunking-invariant over time-partitioned prefixes (each
    later chunk's times all exceed the earlier ones, so no earlier match
    can hide in a later chunk); that invariance is the property
    hypothesis pins in tests/test_properties.py."""
    if v < 0:
        s = us[et == 0]
        if len(s):
            v = int(s.min())
    if v >= 0 and c < 0:
        s = us[(et == 1) & (us >= v)]
        if len(s):
            c = int(s.min())
    if c >= 0 and p < 0:
        s = us[(et == 2) & (us >= c) & (us <= v + window_us)]
        if len(s):
            p = int(s.min())
    return v, c, p


def _funnel_row(uid, v, c, p) -> tuple:
    """One ``FUNNEL_OUTPUT`` row; unmatched (-1) stages become NULL."""
    return (
        uid,
        int(v),
        int(c) if c >= 0 else None,
        int(p) if p >= 0 else None,
        1 + int(c >= 0) + int(p >= 0),
    )


def funnel_spec(window_us: int) -> FoldSpec:
    """Streaming sequential pattern matcher — the CEP class (Flink's
    ``CEP.pattern(A.followedBy(B).followedBy(C).within(T))``, which the
    reference's DataStream engine would express with a keyed
    ProcessFunction like its Q8/QX state machines,
    ``NexmarkQuery8.java:433-504``): per user, the earliest ``view``, the
    earliest ``click`` at-or-after it, and the earliest ``purchase``
    at-or-after that click within ``window_us`` of the view. The fold is
    ``funnel_fold`` over watermark-finalized prefixes (exact regardless of
    arrival order within a prefix — Flink CEP's sort buffer); one row per
    user with a matched view at end of input. ``funnel_stateful`` is the
    continuous form that emits each row as soon as it is immutable."""

    def fold(uid, ustate, rows):
        v, c, p = ustate or (-1, -1, -1)
        hits = [(r[1], _FUNNEL_ET[r[3]]) for r in rows if r[3] in _FUNNEL_ET]
        if hits:
            us, et = np.asarray(hits, dtype=np.int64).T
            v, c, p = funnel_fold(v, c, p, us, et, window_us)
        return (v, c, p), []

    def final(uid, ustate):
        v, c, p = ustate
        return [_funnel_row(uid, v, c, p)] if v >= 0 else []

    return FoldSpec(("event_type",), fold, final, FUNNEL_OUTPUT, "30 seconds")


def bucketed_stateful(
    events: DataFrame,
    flush_ms: int,
    spec: FoldSpec,
    n_buckets: Optional[int] = 16,
) -> DataFrame:
    """The watermark-fold driver: run ``spec`` over an event stream with
    columns (user_id, us, event_id, *spec.value_cols, ts).

    Watermark discipline (the Flink-CEP / keyed-ProcessFunction
    discipline): arriving rows buffer in state; each batch folds, in
    (user, event-time, event_id) order, only the buffered prefix
    at-or-below the current watermark — a finalized, complete prefix, so
    every emitted row is immutable (append-mode-sound) — and keeps the
    rest pending. The pending buffer is bounded by the watermark lag
    times the per-user rate. The end-of-input flush timer at ``flush_ms``
    folds the pending tail and emits ``spec.final`` per user.

    State is coarsened to ``n_buckets`` hash buckets of user_id: the
    per-key form pays one Python call + one Arrow group + one state
    (de)serialization PER KEY PER BATCH (~2 s of pure machinery for 1500
    keys at sf0.1, measured with a trivial counter fn), while the
    semantics only need per-USER ordering, which the fold loop preserves
    inside a bucket. This is the state-coarsening that
    ``transformWithState``'s operator-scoped state would give (probed,
    protobuf-gated — streaming/tws.py); at real scale ``n_buckets`` rides
    the shuffle-partition count. Local default 16 (r11 A/B at sf0.1, 8
    state partitions: 64 buckets pay 64 group-call Arrow flushes for no
    extra parallelism). ``n_buckets=None`` groups by user_id instead —
    the per-key reference form tests/test_bucketed_stateful.py compares
    the bucketed runs against.

    END-OF-INPUT FAST PATH: the flush sentinel (user_id < 0 — the
    bounded-replay analog of Flink's end-of-input watermark) is broadcast
    to EVERY bucket, and a bucket that sees it folds everything it holds
    IN THE DATA BATCH — all rows are final at end-of-input — emits, and
    drops its state without registering a timer. The file source
    delivers files in order and the sentinel file sorts last, so a
    bucket's sentinel can never precede its data. Under per-user grouping
    the sentinel is its own inert group and every user flushes on the
    timer instead. Sentinel-less streams (the continuous deployment) keep
    the buffer-at-watermark / timer-flush discipline
    (tests/test_bucketed_stateful.py::test_multibatch_timer_path)."""
    out_cols = [f.name for f in spec.out_schema.fields]

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        def fold_ready(stats, rows):
            rows.sort(key=lambda r: (r[0], r[1], r[2]))
            out = []
            for uid, grp in groupby(rows, key=lambda r: r[0]):
                stats[uid], emitted = spec.fold(uid, stats.get(uid), list(grp))
                out.extend(emitted)
            return out

        def flush(stats, pending):
            # end of input: every buffered row is final
            out = fold_ready(stats, pending)
            for uid in sorted(stats):
                out.extend(spec.final(uid, stats[uid]))
            return out

        def emit(out):
            if out:
                if spec.batch_reduce is not None:
                    out = spec.batch_reduce(out)
                yield pd.DataFrame(out, columns=out_cols)

        if state.hasTimedOut:
            stats, pending = pickle.loads(state.get[0])
            state.remove()
            yield from emit(flush(stats, pending))
            return
        stats, pending = pickle.loads(state.get[0]) if state.exists else ({}, [])
        eoi = False  # end-of-input sentinel delivered in THIS batch
        for pdf in pdfs:
            if not len(pdf):
                continue
            uids = pdf["user_id"].astype("int64")
            keep = uids >= 0  # flush sentinel carries no event data
            if not keep.all():
                eoi = True
            if not keep.any():
                continue
            cols = [
                uids[keep].tolist(),
                pdf["us"][keep].astype("int64").tolist(),
                pdf["event_id"][keep].astype("int64").tolist(),
            ] + [pdf[c][keep].tolist() for c in spec.value_cols]
            pending.extend(zip(*cols))
        if eoi:
            # no timer, so the replay completes in this batch
            if state.exists:
                state.remove()
            yield from emit(flush(stats, pending))
            return
        wm_us = state.getCurrentWatermarkMs() * 1000
        ready = [r for r in pending if r[1] <= wm_us]
        pending = [r for r in pending if r[1] > wm_us]
        out = fold_ready(stats, ready)
        state.update((pickle.dumps((stats, pending)),))
        state.setTimeoutTimestamp(
            max(flush_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield from emit(out)

    sel = ["user_id", "us", "event_id", *spec.value_cols, "ts"]
    watermarked = events.withWatermark("ts", spec.watermark)
    keyed = (
        watermarked.select(*sel).groupBy("user_id")
        if n_buckets is None
        else watermarked.select(*sel, _bucket_col("user_id", n_buckets)).groupBy(
            "bkt"
        )
    )
    return keyed.applyInPandasWithState(
        fn,
        outputStructType=spec.out_schema,
        stateStructType=_BUCKETED_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_FUNNEL_STATE = StructType(
    [
        StructField("v_us", LongType()),
        StructField("c_us", LongType()),
        StructField("p_us", LongType()),
        StructField("buf_us", ArrayType(LongType())),
        StructField("buf_et", ArrayType(IntegerType())),
    ]
)

_ALL_FINAL = np.iinfo(np.int64).max  # end of input: every event is final


def funnel_stateful(events: DataFrame, flush_ms: int, window_us: int) -> DataFrame:
    """The funnel matcher (``funnel_spec``) in its CONTINUOUS deployment
    shape — the reference's timer-per-auction pattern
    (NexmarkQueryX.java:465), keyed per user. Arriving events buffer in
    state and each batch folds the watermark-finalized prefix with
    ``funnel_fold``, as in ``bucketed_stateful``; but a key with a
    matched view arms its timer at ``view + window`` instead of the
    global horizon ``flush_ms``. When it fires, the key's row is emitted
    and its state dropped iff the row is provably immutable under the
    batch semantics: view and click are watermark-finalized minima, and
    no future purchase can land inside ``[click, view + window]`` once
    the watermark passed ``view + window``. Because the batch semantics
    put NO upper bound on the click, a clickless key can still upgrade
    (stage 1 → 2) at any future time — those keys re-arm at ``flush_ms``
    and only settle at end-of-input (Flink CEP would bound them with the
    pattern's within(T); the batch oracle does not, so neither do we).
    Because Spark only delivers hasTimedOut to keys with NO data in the
    batch, the immutability check also runs on the data path — a
    steady-traffic key emits the moment the watermark proves its row,
    timer or not. After emission the state shrinks to a three-int
    tombstone (v = -2) that swallows later traffic — the batch oracle
    says one row per user, so a later view must NOT start a fresh match
    (Flink CEP's SKIP_PAST_LAST_EVENT would; a production deployment
    choosing that semantics just drops the tombstone). Tombstones are
    removed at the end-of-input horizon. Incremental emission before
    end-of-input is pinned by tests/test_continuous_cep.py."""
    out_cols = [f.name for f in FUNNEL_OUTPUT.fields]

    def fold_ready(v, c, p, buf_us, buf_et, wm_us):
        # fold the buffered prefix at-or-below the watermark, keep the rest
        us = np.asarray(buf_us, dtype=np.int64)
        et = np.asarray(buf_et, dtype=np.int64)
        ready = us <= wm_us
        v, c, p = funnel_fold(v, c, p, us[ready], et[ready], window_us)
        return v, c, p, us[~ready].tolist(), et[~ready].tolist()

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        uid = int(key[0])
        wm_us = state.getCurrentWatermarkMs() * 1000
        horizon_ms = max(flush_ms, state.getCurrentWatermarkMs() + 1)

        def settle(v, c, p):
            # the row is immutable (view/click finalized minima, watermark
            # past view + window): emit it and leave a tombstone so later
            # events can't restart the match; removed at end of input
            state.update((-2, -1, -1, [], []))
            state.setTimeoutTimestamp(horizon_ms)
            return pd.DataFrame([_funnel_row(uid, v, c, p)], columns=out_cols)

        if state.hasTimedOut:
            v, c, p, buf_us, buf_et = state.get
            if v == -2:  # emitted tombstone: nothing left to say
                state.remove()
                return
            if wm_us < flush_ms * 1000:
                # per-key horizon fired (watermark passed view + window,
                # but NOT end-of-input)
                v, c, p, buf_us, buf_et = fold_ready(v, c, p, buf_us, buf_et, wm_us)
                if v >= 0 and c >= 0:
                    yield settle(v, c, p)
                else:
                    # clickless: stage may still upgrade — hold to the
                    # end-of-input horizon
                    state.update((v, c, p, buf_us, buf_et))
                    state.setTimeoutTimestamp(horizon_ms)
                return
            state.remove()
            v, c, p, _, _ = fold_ready(v, c, p, buf_us, buf_et, _ALL_FINAL)
            if v >= 0:
                yield pd.DataFrame([_funnel_row(uid, v, c, p)], columns=out_cols)
            return
        if uid < 0:  # flush sentinel: advances the watermark, carries no state
            return
        if state.exists:
            v, c, p, buf_us, buf_et = state.get
            if v == -2:  # emitted tombstone: swallow the traffic
                state.setTimeoutTimestamp(horizon_ms)
                return
            buf_us, buf_et = list(buf_us), list(buf_et)
        else:
            v, c, p, buf_us, buf_et = -1, -1, -1, [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = pdf["event_type"].map(_FUNNEL_ET)
            keep = m.notna()
            buf_us.extend(pdf["us"][keep].astype("int64").tolist())
            buf_et.extend(m[keep].astype("int64").tolist())
        v, c, p, buf_us, buf_et = fold_ready(v, c, p, buf_us, buf_et, wm_us)
        if v >= 0 and c >= 0 and wm_us > v + window_us:
            yield settle(v, c, p)
            return
        state.update((v, c, p, buf_us, buf_et))
        # arm at the key's own immutability horizon (view + window);
        # clickless keys that outlive it re-arm at the global horizon
        state.setTimeoutTimestamp(
            max((v + window_us) // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            if v >= 0
            else horizon_ms
        )

    return (
        events.withWatermark("ts", "2 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=FUNNEL_OUTPUT,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
