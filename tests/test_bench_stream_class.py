"""bench.stream_class derives each oracled streaming replay's machinery class
from registry tags. The expected table is the hand-kept class map bench.py
carried through r13; every oracled replay must appear in it, so a new
replay cannot silently fall into the least-crediting class. Session-free."""

from collections import Counter

from bench import stream_class
from nexmark_vanilla_flink_spark.plans import REGISTRY

EXPECTED = {
    "pii_scrub_stream_replay": ("stateless", 1),
    "stream_static_enrich": ("stateless", 1),
    "ann_ivf_topk_stream_replay": ("stateless", 1),
    "exactly_once_sink_replay": ("stateless", 2),
    "cm_stream_replay": ("stateful", 1),
    "q5_hot_items_stream_replay": ("stateful", 1),
    "q5_sliding_stream_replay": ("stateful", 1),
    "q7_highest_bid_stream_replay": ("stateful", 1),
    "q8_join_stream_replay": ("stateful", 1),
    "qx_interval_join_stream_replay": ("stateful", 1),
    "sessions_stream_replay": ("stateful", 1),
    "sessions_dynamic_gap_stream_replay": ("stateful", 1),
    "stream_dedup_replay": ("stateful", 1),
    "incremental_dedup_stream_replay": ("stateful", 1),
    "funnel_conversion_stream_replay": ("pystateful", 1),
    "scd2_stream_replay": ("pystateful", 1),
    "skipgram_pairs_stream_replay": ("pystateful", 1),
    "user_value_ewma_stream_replay": ("pystateful", 1),
    "q8_union_join_lowlevel": ("pystateful", 1),
    "qx_allowed_lateness_replay": ("pystateful", 1),
}


def _unclassified(registry) -> set[str]:
    """Oracled streaming replays the expected table does not class — the
    set bench.py's streaming-overhead telemetry covers."""
    return {
        n for n, q in registry.items() if q.oracle and "streaming" in q.tags
    } - set(EXPECTED)


def test_stream_class_reproduces_r13_map():
    assert _unclassified(REGISTRY) == set()
    assert {n: stream_class(n) for n in EXPECTED} == EXPECTED
    counts = Counter(cls for cls, _ in EXPECTED.values())
    assert counts == {"stateless": 4, "stateful": 10, "pystateful": 6}


def test_new_oracled_replay_without_class_is_flagged():
    from nexmark_vanilla_flink_spark.plans.registry import Query

    fake = dict(REGISTRY)
    fake["new_stream_replay"] = Query(
        "new_stream_replay", lambda spark, sf: None, "SELECT 1", ("streaming",)
    )
    assert _unclassified(fake) == {"new_stream_replay"}
