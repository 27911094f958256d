"""Physical-plan regression tests — the 100 TB posture checks:
filters must reach the parquet scan, small dimensions must broadcast,
pair-producing queries must not silently return nothing, and hot aggregates
must use hash aggregation with partial (map-side) combine rather than sorts.
"""

import re

import pytest

from nexmark_vanilla_flink_spark.plans import REGISTRY


def _plan(spark, sf_dir, name) -> str:
    df = REGISTRY[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q6_forecast_revenue")
    # plan string truncates long filter lists; presence of the discount
    # predicate in the scan's DataFilters is the pushdown signal
    assert "PushedFilters: [" in plan
    assert "DataFilters: [isnotnull(l_discount" in plan


def test_tpch_joins_broadcast_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q5_local_volume")
    # all four dimension joins broadcast; only the fact-fact join may shuffle
    assert plan.count("BroadcastHashJoin") >= 4


def test_q3_broadcasts_filtered_customer(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_cosine_topk_broadcasts_query_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cosine_topk_bruteforce")
    assert "Broadcast" in plan  # corpus never shuffles


def test_aggregations_are_hash_not_sort(spark, sf_dir):
    for name in ("q5_hot_items", "cm_load_per_job", "event_type_stats"):
        plan = _plan(spark, sf_dir, name)
        assert "HashAggregate" in plan, name
        # no sort-based fallback in the hot aggregation path
        assert "SortAggregate" not in plan, name


def test_column_pruning_reaches_scan(spark, sf_dir):
    # q5 touches only purchase-event fields: the events scan must not read
    # the wide props column's sibling columns it doesn't need
    plan = _plan(spark, sf_dir, "q5_hot_items")
    start = plan.index("ReadSchema")
    read_schema = plan[start : start + 300]
    assert "user_id" not in read_schema


@pytest.mark.parametrize(
    "name",
    [
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "embedding_neardup_pairs",
        "cosine_topk_bruteforce",
        "qx_winning_bids",
        "q8_new_users_auctions",
        "tpch_q22_global_acctbal",
        "tpch_q18_volume_customers",
        "dedup_clusters",
    ],
)
def test_pair_queries_nonempty(spark, sf_dir, name):
    """An always-empty result would vacuously hash-match the oracle while
    verifying nothing — every pair/join-producing query must produce rows on
    the test fixture."""
    assert REGISTRY[name].spark(spark, sf_dir).limit(1).count() == 1, name


def test_q7_q8_q9_broadcast_all_dimensions(spark, sf_dir):
    # the only shuffle join allowed in Q7/Q8/Q9 is the lineitem⋈orders
    # fact-fact join; every dimension (part/customer/supplier/nation/region)
    # must broadcast or the plan dies at 100 TB
    for name, min_bcast in (
        ("tpch_q7_volume_shipping", 4),
        ("tpch_q8_national_share", 6),
        ("tpch_q9_product_profit", 3),
    ):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") >= min_bcast, name
        assert plan.count("SortMergeJoin") <= 1, name


def test_q16_null_aware_anti_join(spark, sf_dir):
    # NOT IN must plan as a null-aware anti join, not a plain left anti:
    # BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as the
    # trailing boolean — "LeftAnti, BuildRight, true"
    plan = _plan(spark, sf_dir, "tpch_q16_part_suppliers")
    assert "LeftAnti, BuildRight, true" in plan, plan[:2000]


def test_q15_q17_single_lazy_plan(spark, sf_dir):
    # scalar thresholds (max revenue, per-part avg) must live inside the
    # plan (q15: scalar-agg broadcast cross join + broadcast supplier join;
    # q17: broadcast threshold join), never a driver-side collect
    for name in ("tpch_q15_top_supplier", "tpch_q17_small_qty_revenue"):
        plan = _plan(spark, sf_dir, name)
        assert "Broadcast" in plan, name


def test_q11_q15_no_full_frame_funnel(spark, sf_dir):
    # VERDICT r4 task 4: the global threshold must NOT be an unpartitioned
    # window (Exchange SinglePartition over the whole growing aggregate
    # frame). The scalar-agg + crossJoin(broadcast) form's only
    # SinglePartition exchange sits above a partial aggregate (one row per
    # task crosses it), and AQE shares the base shuffle between the two
    # branches via ReusedExchange — runtime-only, so execute first.
    for name, reused_sf in (
        ("tpch_q11_important_parts", "/root/testdata/sf0.01"),
        ("tpch_q15_top_supplier", sf_dir),
    ):
        df = REGISTRY[name].spark(spark, sf_dir)
        df.collect()
        final = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Window" not in final, name
        # every SinglePartition exchange is fed by a partial (map-side)
        # aggregate, never the raw per-key frame
        for chunk in final.split("Exchange SinglePartition")[1:]:
            first_agg = chunk.split("HashAggregate", 1)[1][:200]
            assert "partial_" in first_agg, (name, first_agg)
    # ReusedExchange needs a non-empty frame (q11 is empty at sf0.001 and
    # AQE collapses it to EmptyRelation) — assert at sf0.01 for q11
    for name, rsf in (
        ("tpch_q11_important_parts", "/root/testdata/sf0.01"),
        ("tpch_q15_top_supplier", sf_dir),
    ):
        df = REGISTRY[name].spark(spark, rsf)
        df.collect()
        final = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "ReusedExchange" in final, name


def test_q20_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q20_potential_promotion")
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q7_volume_shipping",
        "tpch_q8_national_share",
        "tpch_q9_product_profit",
        "tpch_q15_top_supplier",
        "tpch_q17_small_qty_revenue",
        "tpch_q20_potential_promotion",
    ],
)
def test_new_tpch_nonempty(spark, sf_dir, name):
    assert REGISTRY[name].spark(spark, sf_dir).limit(1).count() == 1, name


def test_canonical_q7_is_aggregate_not_window_sort(spark, sf_dir):
    # windowed arg-max must compile to a partial/final max_by aggregate,
    # never a rank-over-sorted-window (which would sort every bid by price).
    # Note: max_by over a struct ordering key uses SortAggregate (struct
    # buffers are not hash-agg-compatible) — still map-side partial combine
    # + ONE exchange on the group key, which is the scale property.
    plan = _plan(spark, sf_dir, "nexmark_q7_highest_bid")
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_canonical_q18_is_aggregate_not_window_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "nexmark_q18_last_bid")
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_canonical_q19_topk_pushdown(spark, sf_dir):
    # rank-filter top-K must get Spark's WindowGroupLimit so each map task
    # forwards only its local top 10 per item
    plan = _plan(spark, sf_dir, "nexmark_q19_auction_top10")
    assert "WindowGroupLimit" in plan


def test_canonical_q13_broadcasts_side_input(spark, sf_dir):
    plan = _plan(spark, sf_dir, "nexmark_q13_side_input_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_canonical_q14_q21_q22_no_shuffle(spark, sf_dir):
    # stateless row transforms: no exchange anywhere in the plan
    for name in (
        "nexmark_q14_calculation",
        "nexmark_q21_channel_id",
        "nexmark_q22_url_dirs",
        "nexmark_q0_passthrough",
        "doc_repetition_scores",
    ):
        plan = _plan(spark, sf_dir, name)
        # the parallelism guard's round-robin repartition (a no-op on real
        # multi-split inputs) is allowed; no hash/range shuffle may appear
        assert "Exchange hashpartitioning" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name


def test_q15_q16_single_shuffle_distinct(spark, sf_dir):
    # the multi-distinct report queries ride one expand + two-phase agg:
    # exactly the group-key exchange plus AQE reads, no per-distinct jobs
    for name in ("nexmark_q15_bidding_stats", "nexmark_q16_channel_stats"):
        plan = _plan(spark, sf_dir, name)
        assert "Expand" in plan, name
        assert "HashAggregate" in plan, name


def test_q20_asof_single_window_pass(spark, sf_dir):
    # the as-of enrichment must be the union+window plan (each row moves
    # once), never a theta join
    plan = _plan(spark, sf_dir, "nexmark_q20_bid_auction")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_pairs_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "simhash_neardup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_broadcasts_eval_side(spark, sf_dir):
    # no broadcast HINT since r4 (the synthetic eval side is a corpus
    # fraction, unbounded at scale) — but at test SF the frame sits under
    # the threshold, so AQE must still PICK a broadcast join here; the
    # x64 scaling curve covers the shuffled-join switchover (non-monotone
    # timing in docs/scaling_r4.json)
    plan = _plan(spark, sf_dir, "eval_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_tranche2_dedup_in_array_not_shuffle(spark, sf_dir):
    # per-doc n-gram dedup rides array_distinct inside the projection;
    # the only exchanges allowed are the df aggregate + digest join (rarity)
    # and the per-doc count (decontamination) — a row-level distinct would
    # add a corpus-wide shuffle on top
    for name, max_hash_exchanges in (
        ("eval_decontamination", 2),  # eval-side distinct (tiny) + doc agg
        ("doc_bigram_rarity", 3),  # df agg + join back + doc agg
    ):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") <= max_hash_exchanges, name


def test_curation_tranche2_nonempty(spark, sf_dir):
    for name in (
        "eval_decontamination",
        "chunk_dedup_stats",
        "domain_mixing_weights",
        "doc_bigram_rarity",
    ):
        assert REGISTRY[name].spark(spark, sf_dir).limit(1).count() == 1, name


def test_mixing_weights_window_is_post_aggregate(spark, sf_dir):
    # the unpartitioned share window must sit ABOVE the (lang, source)
    # hash aggregate — i.e. the single-partition exchange carries one row
    # per domain, never raw documents
    plan = _plan(spark, sf_dir, "domain_mixing_weights")
    assert "HashAggregate" in plan
    assert "Exchange SinglePartition" in plan
    # the aggregate appears below the single-partition exchange in the tree
    assert plan.index("Exchange SinglePartition") < plan.index(
        "HashAggregate(keys=[lang"
    )


def test_pq_codes_broadcasts_codebook_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pq_codes")
    assert "BroadcastHashJoin" in plan  # 64-row codebook builds the hash side
    assert "Cartesian" not in plan
    # r6: the per-subspace argmin and the per-vector pivot are FUSED into one
    # conditional struct-MIN aggregate on vec_id — no rank window at all, and
    # the partial aggregate must sit map-side (below the single exchange)
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min(CASE WHEN" in plan or "partial_min(struct" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_materializes_index_once(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ngram_containment_pairs")
    assert "Cartesian" not in plan
    # r10: the shingle relation comes from the doc_postings ARTIFACT (no
    # corpus scan, no explode anywhere in the plan); the df-capped posting
    # frame is still cached once and CONSUMED by all four consumers (both
    # pair-join sides and both size frames), not re-derived per branch.
    assert plan.count("InMemoryTableScan") >= 4
    first_imr = plan.find("InMemoryRelation")
    assert first_imr > 0
    # no consumer re-derives the shingle explode — the artifact read
    # replaced it outright, so the whole plan text is explode-free
    assert "Generate explode" not in plan


def test_simhash_guard_no_cartesian_and_unions_paths(spark, sf_dir):
    plan = _plan(spark, sf_dir, "simhash_neardup_pairs")
    assert "Cartesian" not in plan
    assert "Union" in plan  # small-bucket direct path + re-banded big path


def test_runtime_bloom_filter_reduces_fact_fact_join(spark, sf_dir):
    """100 TB posture pin: when a selective dimension side CANNOT broadcast
    (fact-fact shuffle join), Spark's runtime bloom-filter injection puts a
    might_contain() semi-join reduction on the big side's scan — rows that
    can't match never reach the exchange. Verify the capability engages on
    this workload's shapes (it is conf-gated and silently subsumed by
    broadcast joins, so a regression would be invisible without this pin)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pii_scrub_single_scan_no_agg_shuffle(spark, sf_dir):
    # the scrub is scan + projection; the only exchange allowed is the
    # parallelism-guard round robin on the tiny single-file table
    plan = _plan(spark, sf_dir, "pii_scrub")
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Scan parquet") == 1


def test_generated_q3_is_pure_range_projection(spark, sf_dir):
    # both join sides derive from spark.range — no file scan anywhere;
    # one hash exchange pair for the seller join is the only shuffle
    plan = _plan(spark, sf_dir, "generated_q3_person_join")
    assert "Scan parquet" not in plan
    assert "Range (" in plan


def test_generated_skew_histogram_is_single_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "generated_hot_seller_histogram")
    assert "Scan parquet" not in plan
    assert "HashAggregate" in plan and "SortAggregate" not in plan


def test_auction_arrow_decode_no_shuffle(spark, sf_dir):
    # ranged-read hot path: spark.range -> mapInArrow, zero exchanges
    plan = _plan(spark, sf_dir, "auction_binary_decode")
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan or "PythonMapInArrow" in plan


def test_semdedup_broadcasts_centroids_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semdedup_prune")
    assert "Cartesian" not in plan
    # the k x dim centroid table must build the broadcast side of the
    # cosine-fold join (codebook-sized by design), never shuffle the scan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_rewrite_filter_before_provenance_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_cluster_rewrite")
    assert "Cartesian" not in plan
    # the representative predicate is a Filter feeding the provenance
    # join, not a post-join subtraction over the full member frame
    assert "(doc_id" in plan and "cluster_id" in plan


def test_winnow_overlap_reuses_fingerprint_exchange(spark, sf_dir):
    # the self-join's second side must reuse the first side's shuffle
    # (identical winnow subtrees -> ReusedExchange at runtime), not
    # re-derive the whole fingerprint pipeline; runtime-only, so execute
    df = REGISTRY["winnow_overlap_pairs"].spark(spark, sf_dir)
    df.collect()
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "Cartesian" not in final
    assert "ReusedExchange" in final


def test_quality_classifier_is_pure_projection(spark, sf_dir):
    # model-based filtering must stay scan-bound: no joins, no aggregation
    # exchange — the weights live in the projection, not in a joined frame
    plan = _plan(spark, sf_dir, "quality_classifier_scores")
    assert "Join" not in plan and "HashAggregate" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_kmv_topk_is_per_partition_merge(spark, sf_dir):
    # the K-smallest selection must plan as TakeOrderedAndProject (per-
    # partition top-K + K-row merge), never a global sort of the hash set
    plan = _plan(spark, sf_dir, "kmv_distinct_estimate")
    assert "TakeOrderedAndProject(limit=64" in plan
    assert "Sort [h" not in plan


def test_entity_resolution_blocked_never_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "entity_resolution_pairs")
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    # the oversized-block guard (blk_n window filter) survives optimization
    assert "blk_n" in plan


def test_scd2_single_user_partitioning(spark, sf_dir):
    # lag-filter-lead/row_number must all ride ONE user_id exchange
    plan = _plan(spark, sf_dir, "scd2_user_state")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_funnel_chain_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "funnel_conversion")
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_value_outliers_fact_never_shuffles(spark, sf_dir):
    # the moment table broadcasts back; the events fact side must reach the
    # join from its scan without an exchange
    plan = _plan(spark, sf_dir, "value_outliers")
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # the 5-row moment agg


def test_pmi_unigrams_broadcast_scalars_bounded(spark, sf_dir):
    # vocabulary joins broadcast; the only SinglePartition exchanges carry
    # scalar partial aggregates (N, N2), never the corpus
    plan = _plan(spark, sf_dir, "bigram_pmi_lift")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_history_sequences_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "user_history_sequences")
    assert plan.count("Exchange hashpartitioning") == 1


def test_resample_shares_user_partitioning(spark, sf_dir):
    # survivor window, bounds agg, grid explode, left join, and fill window
    # all key on user_id: no more than 2 hash exchanges may survive
    # (the input repartition + one user_id exchange reused downstream)
    plan = _plan(spark, sf_dir, "user_value_resample_ffill")
    assert "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_interval_overlap_join_is_bucketed_not_nested_loop(spark, sf_dir):
    """The fact-fact range join must go through the coarse-bucket
    equi-join — a BroadcastNestedLoopJoin/Cartesian here means the range
    predicate leaked into the join condition and the plan is rows² at
    scale."""
    plan = _plan(spark, sf_dir, "interval_overlap_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan
    # equi-join on the bucket column (hash-partitionable)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


@pytest.mark.parametrize(
    "name",
    [
        "qx_winning_bids",
        "nexmark_q4_category_avg",
        "nexmark_q6_seller_avg",
        "nexmark_q9_winning_bid_rows",
    ],
)
def test_auction_bid_interval_join_is_bucketed(spark, sf_dir, name):
    """Every consumer of the shared auction⋈bid interval join
    (plans/nexmark.py::auction_bids) keeps its plan: the auctions side
    explodes each lifetime into day buckets, and the join is a hash
    equi-join on (item, day) with the time range as a residual — never a
    nested loop over the ~100 raw item keys."""
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Cartesian" not in plan
    assert "Generate explode(sequence((start_ts_ns" in plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) "
        r"\[category_id#\d+L?, day_bucket#\d+L?\]",
        plan,
    ), plan


def test_skipgram_pairs_single_sequence_shuffle(spark, sf_dir):
    """±2 contexts come from lead() in ONE window pass — a self-join on
    sequence index would scan/shuffle the corpus once per offset."""
    plan = _plan(spark, sf_dir, "skipgram_pairs")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_bpe_pair_counts_stays_jvm_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bpe_pair_counts")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # one exchange: the partial-aggregated pair counts
    assert plan.count("Exchange hashpartitioning") == 1


def test_triangles_oriented_join_no_cartesian(spark, sf_dir):
    # the wedge join and the closure join are equi-joins (src; dst-pair) —
    # a CartesianProduct here would be the unoriented all-pairs disaster
    plan = _plan(spark, sf_dir, "copurchase_triangles")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_triangles_nonempty_and_triple_counted(spark, sf_dir):
    # per-node participation must sum to a multiple of 3 (each triangle
    # contributes exactly one count to each of its three vertices); an
    # empty result would vacuously pass the oracle
    import pyspark.sql.functions as F

    df = REGISTRY["copurchase_triangles"].spark(spark, sf_dir)
    rows = df.agg(F.sum("tri_cnt").alias("s"), F.count("*").alias("n")).collect()[0]
    assert rows["n"] > 0
    # top-50 cut means the global sum isn't visible here; re-derive the
    # full per-node frame's sum via the operator at the smallest fixture
    # is the oracle's job — here we pin non-degeneracy only
    assert rows["s"] > 0


def test_golden_record_argmin_is_struct_min_not_window(spark, sf_dir):
    # survivorship must partial-aggregate map-side (min(struct(...))),
    # never a row_number window over the match pairs (VERDICT r5 task 2
    # pattern). The only Window allowed is pass-2's blk_n count over the
    # blocking key (shared with entity_resolution_pairs).
    plan = _plan(spark, sf_dir, "golden_record_merge")
    assert "row_number" not in plan
    assert "partial_min" in plan


def test_transition_matrix_broadcasts_row_totals(spark, sf_dir):
    # the |types|x|types| matrix joins its row totals via broadcast — the
    # fact-side exchange count stays at the single user_id window shuffle
    plan = _plan(spark, sf_dir, "event_transition_matrix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dq_audit_shares_scans_and_prunes(spark, sf_dir):
    # the FK probes read keys only: the orders scan feeding fk_customer
    # must not drag payload columns across the join
    plan = _plan(spark, sf_dir, "dq_expectation_audit")
    assert "CartesianProduct" not in plan
    # conditional-aggregate rule families collapse before any exchange:
    # every SinglePartition exchange carries a partial aggregate
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        if "HashAggregate" in chunk[:400]:
            first_agg = chunk.split("HashAggregate", 1)[1][:200]
            assert "partial_" in first_agg, first_agg
