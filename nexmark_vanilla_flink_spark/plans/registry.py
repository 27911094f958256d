"""The query registry — the single source of truth the driver contract
(`__spark_entry__.py`), the tests, and `bench.py` all read.

Every implemented operator from SURVEY.md §2 (plus the pipeline extensions)
registers here with:
  * a Spark implementation `(spark, sf_dir) -> DataFrame` (DataFrame API,
    Catalyst-optimizable), and
  * optionally a DuckDB oracle SQL string producing identical rows on the
    same parquet tables (driver registers them as views). Queries whose
    semantics aren't SQL-expressible (custom stateful streaming) omit the
    oracle and get a rows-only check.

Output discipline for hash-stable cross-engine comparison:
  * no raw TIMESTAMP outputs — time buckets are epoch-second BIGINTs derived
    with pure integer arithmetic on the epoch-nanos columns;
  * no order-sensitive float aggregates — SUM/AVG go through DECIMAL(38,4)
    (exact, associative) and are cast to DOUBLE at the end; bare MIN/MAX on
    stored doubles are fine (no arithmetic);
  * every computed column is aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}

# Tags whose queries must be (re)CONSTRUCTED inside bench.py's timer because
# construction does real cluster work: streaming replays, sink round-trips,
# iterative drivers, and "eager" plan builds (e.g. a localCheckpoint that
# evaluates at build time). Single source of truth shared by bench.py and
# tests/test_bench_guard.py — a hand-copied set silently desynchronizing was
# ADVICE r3.
EAGER_TAGS = frozenset({"streaming", "sink", "iterative", "eager"})

# Streaming replays also carry their state machinery, which bench.py's
# stream_class reads to pick a floor probe: "state-store" = a JVM stateful
# operator (windowed/session aggregation, stream-stream join, watermark
# dedup); "stateful" = Python state (applyInPandasWithState /
# transformWithState); neither = stateless.

# The correctness driver evaluates only the FIRST 50 entries of queries()
# (CORRECTNESS_r01.json covers exactly insertion-order indices 0-49), so dict
# order decides which queries sit under the hard cross-engine gate each round.
# DRIVER_HEAD pins the entries that most need driver verification NOW to the
# front of the returned dicts: everything the previous round's cap skipped,
# everything added this round, and everything whose implementation changed
# this round. The remainder follows in module-import order. Entries that fall
# past the cap are still oracled every CI run by tests/test_oracle_parity.py
# and were driver-green in a prior round's CORRECTNESS_r*.json.
# Round-13 head (rotation policy: COVERAGE.md "Driver-gate rotation").
# Tier 2 — new this round: none. Tier 3 — changed this round (14):
# quality_label_propagation (multiplicity-edge restructure of the label
# spread), the two BPE-artifact consumers (trainer branch probe switched
# from limit(cap+1).collect() to count()), the two doc_postings-index
# consumers after the builder's two-wave rework (all four tables
# exceptAll-identical; prefix covers prefix/postings/sizes, tfidf covers
# tfidf), and eight streaming replays covering every machinery class the
# reworked ephemeral-checkpoint discard path (StateStore.stop + bounded
# verify, streaming/runner.py) touches: append parquet sink + JVM join
# state, complete-mode memory sink, Python-stateful buckets, stateful-agg
# complete mode, foreachBatch crash+resume, multi-batch lateness panes,
# stateless passthrough, and dropDuplicatesWithinWatermark. Tier 4 —
# regression rotation, oldest last-green first (computed from the
# CORRECTNESS_r*.json ledger): the ENTIRE remaining r8-last-green cohort
# (33, alphabetical — includes the three entries registry.py queued last
# round), then the r9 cohort alphabetically (3).
# 14 + 33 + 3 = 50. Everything below the cap stays pytest-oracle-locked
# every CI run (tests/test_oracle_parity.py).
DRIVER_HEAD: list[str] = [
    # --- tier 3: implementation changed this round (r13) ---
    "quality_label_propagation",
    "bpe_learn_merges",
    "bpe_encode_stats",
    "prefix_filter_jaccard_pairs",
    "tfidf_cosine_topk",
    "q8_join_stream_replay",
    "sessions_stream_replay",
    "scd2_stream_replay",
    "incremental_dedup_stream_replay",
    "exactly_once_sink_replay",
    "qx_allowed_lateness_replay",
    "pii_scrub_stream_replay",
    "stream_dedup_replay",
    # r13: ivf_index builder's coarse assignment Arrow-vectorized (assign
    # table exceptAll-identical; forced-branch parity in
    # tests/test_strategy_switches.py) — one artifact consumer verified
    "ann_ivf_topk",
    # --- tier 4: r8-last-green cohort (all 33 remaining), alphabetical ---
    "entity_resolution_pairs",
    "eval_decontamination",
    "event_transition_matrix",
    "generated_hot_seller_histogram",
    "generated_q3_person_join",
    "grouped_median_pandas",
    "lang_guess",
    "minhash_estimate_error",
    "minhash_lsh_pairs",
    "multimodal_frame_extract",
    "multimodal_meta",
    "nexmark_q0_passthrough",
    "nexmark_q1_currency",
    "nexmark_q2_selection",
    "pii_scrub",
    "q5_hot_items_sql",
    "q8_left_outer",
    "simhash_fingerprints",
    "text_quality_scores",
    "token_counts",
    "tpch_q10_returned_items",
    "tpch_q12_shipmode_buckets",
    "tpch_q14_promo_share",
    "tpch_q16_part_suppliers",
    "tpch_q18_volume_customers",
    "tpch_q1_pricing_summary",
    "tpch_q22_global_acctbal",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_volume",
    "tpch_q6_forecast_revenue",
    "vocab_top_tokens",
    # --- tier 4 cont.: r9-last-green cohort, alphabetical head ---
    "bids_asof_profile",
    "bigram_lm_doc_scores",
    "deterministic_splits",
    # The r12 tier-3 cohort (embedding/cosine family, kcore, LSH
    # consumers, the five re-pinned replays) rotates out twice-green; the
    # r9 alphabetical tail (doc_chunks_udtf onward) is next round's
    # rotation head; all still CI-oracled every run
]


def _ordered_names() -> list[str]:
    head = [n for n in DRIVER_HEAD if n in REGISTRY]
    in_head = set(head)
    return head + [n for n in REGISTRY if n not in in_head]


# entries registered with ``oracle_of`` whose source entry has not
# registered yet, keyed by the source's name
_WAITING_FOR_ORACLE: dict[str, list[str]] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    oracle_of: str | None = None,
) -> Callable[[SparkQuery], SparkQuery]:
    """Register a query. ``oracle_of`` names the entry whose oracle this one
    shares (a streaming twin of a batch entry); the source may register
    before or after it."""

    def deco(fn: SparkQuery) -> SparkQuery:
        q = Query(name=name, spark=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or ""))
        if oracle_of in REGISTRY:
            q.oracle = REGISTRY[oracle_of].oracle
        elif oracle_of is not None:
            _WAITING_FOR_ORACLE.setdefault(oracle_of, []).append(name)
        REGISTRY[name] = q
        for twin in _WAITING_FOR_ORACLE.pop(name, ()):
            REGISTRY[twin].oracle = q.oracle
        return fn

    return deco


def all_queries() -> dict[str, SparkQuery]:
    return {name: REGISTRY[name].spark for name in _ordered_names()}


def all_oracles() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle
    }
