"""Property-based checks (hypothesis): operator semantics hold over random
inputs, not just the driver fixture — session-window merge logic vs a pure
reference model, bucket arithmetic laws, salted-join equivalence."""

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from nexmark_vanilla_flink_spark.operators.skew import salted_join

MICROS = 1_000_000
GAP_US = 3600 * MICROS


def _sessions_model(events):
    """Pure-python gaps-and-islands model of session_window(gap=1h)."""
    out = []
    for key in sorted({k for k, _ in events}):
        ts_list = sorted(us for k, us in events if k == key)
        cur = None
        for us in ts_list:
            if cur is None or us >= cur["end_us"]:
                if cur:
                    out.append((key, cur["start_us"], cur["end_us"], cur["n"]))
                cur = {"start_us": us, "end_us": us + GAP_US, "n": 1}
            else:
                cur["end_us"] = us + GAP_US
                cur["n"] += 1
        if cur:
            out.append((key, cur["start_us"], cur["end_us"], cur["n"]))
    return sorted(out)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # key
            st.integers(min_value=0, max_value=6 * 3600 * MICROS),  # ts µs
        ),
        min_size=1,
        max_size=40,
    )
)
def test_session_window_matches_model(spark, events):
    df = spark.createDataFrame(
        [(k, us) for k, us in events], "key long, us long"
    ).withColumn("ts", F.timestamp_micros("us"))
    got = (
        df.groupBy(F.session_window("ts", "1 hour").alias("sw"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "key",
            F.unix_micros("sw.start").alias("s"),
            F.unix_micros("sw.end").alias("e"),
            "n",
        )
    )
    assert sorted(map(tuple, got.collect())) == _sessions_model(events)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10), min_size=1, max_size=50),
    st.lists(st.integers(min_value=0, max_value=10), min_size=1, max_size=10),
)
def test_salted_join_equivalence_random(spark, big_keys, small_keys):
    big = spark.createDataFrame([(k, i) for i, k in enumerate(big_keys)], "k long, v long")
    small = spark.createDataFrame(
        [(k,) for k in set(small_keys)], "k long"
    )
    plain = sorted(map(tuple, big.join(small, "k").collect()))
    salted = sorted(map(tuple, salted_join(big, small, "k", salt=4).collect()))
    assert plain == salted


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**62),
    st.sampled_from([1, 2, 60, 600, 3600, 86400]),
)
def test_bucket_arithmetic_laws(ns, width_s):
    """The integer bucket formula (functions/time.py + every oracle) is a
    correct floor: bucket ≤ ts_s < bucket + width and bucket ≡ 0 (mod width)."""
    width_ns = width_s * 1_000_000_000
    bucket = (ns // width_ns) * width_s
    ts_s = ns // 1_000_000_000
    assert bucket % width_s == 0
    assert bucket <= ts_s < bucket + width_s + 1  # +1: sub-second truncation
    assert bucket * 1_000_000_000 <= ns < (bucket + width_s) * 1_000_000_000


def _dyn_sessions_model(events):
    """Pure-python model of session_window with per-event gap: 30 min if
    value < 50 else 90 min (mirrors sessions_dynamic_gap)."""
    out = []
    for key in sorted({k for k, _, _ in events}):
        evs = sorted((us, val) for k, us, val in events if k == key)
        cur = None
        for us, val in evs:
            gap = (1800 if val < 50 else 5400) * MICROS
            if cur is None or us >= cur["end_us"]:
                if cur:
                    out.append((key, cur["start_us"], cur["end_us"], cur["n"]))
                cur = {"start_us": us, "end_us": us + gap, "n": 1}
            else:
                cur["end_us"] = max(cur["end_us"], us + gap)
                cur["n"] += 1
        if cur:
            out.append((key, cur["start_us"], cur["end_us"], cur["n"]))
    return sorted(out)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # key
            st.integers(min_value=0, max_value=6 * 3600 * MICROS),  # ts µs
            st.integers(min_value=0, max_value=99),  # value → gap selector
        ),
        min_size=1,
        max_size=30,
    )
)
def test_dynamic_gap_session_window_matches_model(spark, events):
    df = spark.createDataFrame(
        [(k, us, float(v)) for k, us, v in events], "key long, us long, val double"
    ).withColumn("ts", F.timestamp_micros("us"))
    gap = F.when(F.col("val") < 50, F.expr("make_interval(0,0,0,0,0,30,0)")).otherwise(
        F.expr("make_interval(0,0,0,0,0,90,0)")
    )
    got = (
        df.groupBy(F.session_window("ts", gap).alias("sw"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "key",
            F.unix_micros("sw.start").alias("s"),
            F.unix_micros("sw.end").alias("e"),
            "n",
        )
    )
    assert sorted(map(tuple, got.collect())) == _dyn_sessions_model(events)


def _reachability_min_labels(edges):
    """Brute-force reference: min reachable vertex per vertex via BFS."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    seen = set()
    for start in adj:
        if start in seen:
            continue
        comp, queue = set(), [start]
        while queue:
            v = queue.pop()
            if v in comp:
                continue
            comp.add(v)
            queue.extend(adj[v] - comp)
        lo = min(comp)
        for v in comp:
            out[v] = lo
        seen |= comp
    return out


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0,
        max_size=120,
    )
)
def test_union_find_matches_reachability(edges):
    # pure-Python lock for the connected-components driver fast path:
    # union-by-min with path compression must agree with brute-force BFS
    # reachability minima on arbitrary graphs (self-loops, duplicates,
    # multi-edges included)
    from nexmark_vanilla_flink_spark.operators.graph import _union_find_labels

    got = _union_find_labels(edges)
    want = _reachability_min_labels(edges)
    assert got == want


def test_connected_components_paths_agree_on_foreign_endpoints(spark):
    """Edges referencing vertices OUTSIDE the vertices frame: both the
    driver fast path and the distributed loop must emit exactly the vertex
    set (the foreign endpoint still conducts connectivity, but never
    appears in the output)."""
    from nexmark_vanilla_flink_spark.operators.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5]], ["id"])
    # 99 is not a vertex, but it bridges 2 and 4; 5 is isolated
    edges = spark.createDataFrame(
        [(2, 99), (99, 4), (1, 3)], ["src", "dst"]
    )
    fast = {
        (r.id, r.cluster_id)
        for r in connected_components(vertices, edges).collect()
    }
    dist = {
        (r.id, r.cluster_id)
        for r in connected_components(
            vertices, edges, driver_max_edges=0
        ).collect()
    }
    want = {(1, 1), (3, 1), (2, 2), (4, 2), (5, 5)}
    assert fast == want
    assert dist == want


def test_connected_components_fast_path_ships_labels_through_arrow(spark):
    """The driver fast path's union-find label map reaches the plan as a
    LocalRelation: a createDataFrame(list) relation would show up as a
    LogicalRDD backed by a PythonRDD, which starts the Python worker
    daemon just to move the labels."""
    from nexmark_vanilla_flink_spark.operators.graph import (
        connected_components,
    )

    vertices = spark.range(1, 6)
    edges = spark.range(1).selectExpr(
        "inline(array(named_struct('src', 2L, 'dst', 99L), "
        "named_struct('src', 99L, 'dst', 4L), named_struct('src', 1L, 'dst', 3L)))"
    )
    out = connected_components(vertices, edges)
    qe = out._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    assert {(r.id, r.cluster_id) for r in out.collect()} == {
        (1, 1), (3, 1), (2, 2), (4, 2), (5, 5)
    }


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**63 - 1))
def test_murmur3_python_matches_independent_transliteration(key):
    """Hypothesis sweep of the producer partitioner hash against the
    independent Java-int-semantics transliteration in test_kafka_binary."""
    import struct

    from nexmark_vanilla_flink_spark.sources.writer import murmur3_hash32
    from tests.test_kafka_binary import _hive_hash32_reference

    kb = struct.pack(">q", key)
    assert murmur3_hash32(kb, 0, 4) == _hive_hash32_reference(kb[:4])
    assert murmur3_hash32(kb) == _hive_hash32_reference(kb)


def _funnel_reference(events, window_us):
    """Independent O(n^2)-naive statement of the funnel semantics: earliest
    view; earliest click at-or-after it; earliest purchase at-or-after the
    click within window_us of the view."""
    views = sorted(us for us, et in events if et == 0)
    if not views:
        return (-1, -1, -1)
    v = views[0]
    clicks = sorted(us for us, et in events if et == 1 and us >= v)
    if not clicks:
        return (v, -1, -1)
    c = clicks[0]
    buys = sorted(
        us
        for us, et in events
        if et == 2 and us >= c and us <= v + window_us
    )
    return (v, c, buys[0] if buys else -1)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),
            st.integers(min_value=0, max_value=2),
        ),
        max_size=40,
    ),
    st.lists(st.integers(min_value=0, max_value=300), max_size=4),
    st.integers(min_value=0, max_value=200),
)
def test_funnel_fold_chunking_invariant(events, cuts, window_us):
    """The CEP fold over watermark-finalized prefixes must be CHUNKING
    INVARIANT: folding the whole set at once, and folding any time-
    partitioned chunk sequence incrementally, both equal the reference
    semantics — the exact property the streaming state machine relies on
    when the watermark finalizes prefixes batch by batch."""
    import numpy as np

    from nexmark_vanilla_flink_spark.streaming.stateful import funnel_fold

    want = _funnel_reference(events, window_us)

    def arrays(evs):
        us = np.asarray([e[0] for e in evs], dtype=np.int64)
        et = np.asarray([e[1] for e in evs], dtype=np.int64)
        return us, et

    whole = funnel_fold(-1, -1, -1, *arrays(events), window_us)
    assert whole == want

    # time-partition into chunks at the cut points (watermark advances)
    bounds = sorted(set(cuts))
    chunks, rest = [], list(events)
    for b in bounds:
        chunks.append([e for e in rest if e[0] <= b])
        rest = [e for e in rest if e[0] > b]
    chunks.append(rest)
    v = c = p = -1
    for ch in chunks:
        v, c, p = funnel_fold(v, c, p, *arrays(ch), window_us)
    assert (v, c, p) == want
