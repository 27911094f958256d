#!/usr/bin/env python
"""Regenerate docs/EXPLAINS.md: formatted physical plans for the flagship
queries with plan-quality commentary — the `.explain("formatted")` evidence
the scale review asks for, committed so plan regressions show up in diffs.

    python tools/gen_explains.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FLAGSHIPS = {
    "q5_hot_items": "one hash-partition shuffle on (item, window); partial "
    "HashAggregate before the exchange; window start folded into the scan "
    "projection (whole-stage codegen).",
    "q8_new_users_auctions": "both sides hash-partition on (user, window); "
    "SortMergeJoin/ShuffledHashJoin chosen by AQE on runtime sizes.",
    "qx_winning_bids": "bucketed interval join: explode to (item, day) equi "
    "keys + range residual, then single-pass max_by aggregation — no "
    "nested-loop, no global sort.",
    "tpch_q5_local_volume": "all four dimensions broadcast "
    "(BroadcastHashJoin ×4+); only the lineitem⋈orders fact join exchanges.",
    "tpch_q1_pricing_summary": "shipdate predicate in PushedFilters; "
    "ReadSchema pruned to the 7 needed columns; decimal sums partial+final.",
    "minhash_lsh_pairs": "signatures built in flat codegen projections over "
    "exploded skinny rows; shuffles carry (doc, seed, 16-byte hash); band "
    "self-join reuses one exchange.",
    "cosine_topk_bruteforce": "query side broadcast — the corpus is scanned "
    "once, map-side only, never shuffled.",
    "eval_decontamination": "eval shingle digests broadcast; corpus scanned "
    "once, per-doc dedup inside array_distinct (no row-level distinct "
    "shuffle); only hit rows reach the count exchange.",
    "chunk_dedup_stats": "one digest exchange with a dense_rank window for "
    "distinct-doc counts (no join-back re-derivation), then the per-doc "
    "stats exchange.",
    "tpch_q21_waiting_suppliers": "single lineitem scan; finalized orders "
    "broadcast onto the scan; late-ship multisets ride the (order,supplier) "
    "aggregate; window + array filter replace the second scan/join-back.",
    "incremental_dedup": "new batch vs corpus index: digest equi-join for "
    "exact dups + band-signature equi-join for near dups — corpus docs "
    "never compare to each other.",
    "bid_binary_decode": "binaryFile scan, frame/record explode, conv/hex "
    "slices; IEEE-754 double rebuilt exactly in column arithmetic "
    "(full domain incl. sign/subnormals since r3).",
    "simhash_neardup_pairs": "r3 oversized-bucket guard: count window on the "
    "same (band, band_val) key the join shuffles on; big buckets re-band on "
    "the complement bits (3 sub-bands) and union with the direct path before "
    "the popcount filter — Σ bucket² bounded, recall exact by pigeonhole.",
    "ngram_containment_pairs": "inverted-index candidates: ONE shingle-digest "
    "exchange carries the df window (prefix-filter cap) and the pair "
    "self-join; per-doc sizes reuse the deduped shingle frame.",
    "pq_codes": "codebook broadcast (64 tiny rows); corpus streams map-side "
    "through 16 distance folds per subvector; one argmin window + one pivot "
    "aggregate — a 100 TB embedding table is one scan + two uniform "
    "exchanges.",
    "tpch_q15_top_supplier": "scalar-threshold pattern (r5, VERDICT r4 "
    "task 4): the max is a separate scalar aggregate cross-joined back as "
    "a broadcast — the only SinglePartition exchange carries ONE "
    "partial-max row per task (bounded by task count, not SF), never the "
    "per-supplier frame; at runtime AQE shares the revenue shuffle between "
    "the two branches (ReusedExchange — one lineitem scan, verified in "
    "tests/test_plan_quality.py::test_q11_q15_no_full_frame_funnel).",
    "tpch_q11_important_parts": "scalar-threshold pattern (r5, VERDICT r4 "
    "task 4): the global total is a scalar agg cross-joined back as a "
    "broadcast, not an unpartitioned window — no Exchange SinglePartition "
    "over the growing per-part frame; the per-part aggregate shuffle is "
    "shared via runtime ReusedExchange (single lineitem scan).",
    "generated_q3_person_join": "r4: no input relation at all — both sides "
    "project off spark.range (the md5-oracle'd generator); one shuffle on "
    "seller_id where AQE's skew split handles the deliberate hot keys; "
    "dictionary attributes are constant-folded element_at array literals.",
    "pii_scrub": "r4: one documents scan; the only exchange is the "
    "parallelism-guard round-robin (the tiny single-file table would "
    "otherwise run the CPU-dense regex chain on one task — a no-op at "
    "production split counts); the injection concat, three regexp counters, "
    "and the scrub-chain md5 all ride one projection in codegen.",
    "auction_binary_decode": "r4 hot path: spark.range gives one "
    "frame-aligned byte range per task (mmap-per-subtask shape); each task "
    "reads only its range and numpy-decodes in one structured-dtype pass — "
    "no shuffle, no JVM per-frame explode (which alone cost ~1 s at sf0.1).",
    "minhash_estimate_error": "r5: the LSH candidate subtree derives "
    "exactly once (was three consumers re-deriving the whole MinHash "
    "pipeline); candidates join the raw text of both sides and exact "
    "Jaccard is a per-pair array_intersect over 3-gram digest arrays "
    "computed on MATCHED rows only — shingle work scales with candidates, "
    "not the corpus.",
    "doc_top_terms": "r5: per-document tf is a run-length pass over the "
    "sorted token array inside ONE projection (array_sort + boundary "
    "indices), exploding straight to distinct (doc, tok, tf) rows — the "
    "corpus-sized (doc, tok) aggregation exchange is gone; only the df "
    "count window (tok key) and the top-3 rank window (doc key) shuffle, "
    "both over the already-distinct token frame.",
    "embedding_neardup_pairs": "r5 oversized-block guard: labels over "
    "EMB_BLOCK_CAP sub-cluster one IVF level deeper (ceil(B/cap) "
    "deterministic seeds, nearest-seed assignment via a BIGINT-packed "
    "argmax that ties identically in the DuckDB oracle); pairs form only "
    "within (label, seed) sub-blocks — candidates linear in B for "
    "balanced sub-blocks (docs/scaling_r5.json: x17 candidates at x16 "
    "data vs x172 unguarded).",
    "semdedup_prune": "r5: candidate pairs are the guarded near-dup "
    "relation (same plan subtree as embedding_neardup_pairs); the "
    "centroid M-step is ONE (label, pos) exchange whose output (k x dim "
    "rows, the IVF codebook size) broadcasts back onto the vector scan "
    "for the cosine fold; the loser set is a DISTINCT over pair "
    "endpoints (<= |pairs|) and the final verdict is a broadcast left "
    "join on vec_id — nothing in the plan grows faster than the "
    "pair relation itself.",
    "entity_resolution_pairs": "r5 record linkage: both blocking passes "
    "are hash-equi-joins on their block keys; the pass-2 df cap is a "
    "count window on the SAME key its join shuffles on (the "
    "simhash-guard pattern), so capped candidates stay <= cap * |A| — "
    "linear (docs/scaling_r5_linkage.json); levenshtein runs in codegen "
    "on candidates only, after the distinct.",
    "kmv_distinct_estimate": "r5 sketch: the K-smallest selection plans "
    "as TakeOrderedAndProject(limit=64) — per-partition top-K then a "
    "64-row merge; the only SinglePartition exchanges carry one "
    "partial-agg row per task (the scalar max / exact-count funnels); "
    "the estimator arithmetic is constant-folded into the final "
    "1-row projection.",
    "value_outliers": "r5 statistical QC: the moment table is one "
    "map-side-combinable exchange with |event_type| rows, then "
    "broadcasts back — the events fact side reaches the join straight "
    "from its scan with NO exchange; mean/std/3-sigma compare all fold "
    "into one codegen projection.",
    "bigram_pmi_lift": "r5 association mining: one token explode feeds "
    "both count aggregations; unigram counts broadcast back onto the "
    "bigram frame (vocabulary-sized build sides); N and N2 are scalar "
    "aggs cross-joined as 1-row broadcasts; the staged "
    "(n_xy/n_x)*(N/N2)*(N/n_y) division chain folds in codegen.",
    "user_value_resample_ffill": "r5 gap fill: per-bucket survivor "
    "window, bounds aggregate, grid explode, left join, and the "
    "IGNORE-NULLS fill window all key on user_id — one logical "
    "partitioning carried through; the grid explode is map-side off the "
    "tiny bounds frame, so densification adds no exchange of its own.",
    "copurchase_pagerank": "r6 unrolled iterative graph plan: the "
    "per-order-bounded self-join builds edges once (cached InMemoryRelation "
    "feeds all 3 iterations); each power iteration is edges⋈ranks⋈degrees "
    "on u with the K-scalar base/tele frame BroadcastExchange'd, then a "
    "partial-aggregated sum exchange on v; the top-50 is "
    "TakeOrderedAndProject, never a single-partition sort. All rank math "
    "is fixed-point BIGINT — no float-summation order sensitivity.",
    "kmeans_train": "r11 vectorized-assignment shape: per Lloyd iteration "
    "the K centroids replicate to every vec_id hash bucket (a tiny "
    "broadcast union), ONE FlatMapGroupsInPandas computes all K distances "
    "per vector in numpy (ascending-dim accumulation — bit-identical to "
    "the oracle's list fold) and ships each vector through Arrow once, "
    "and the centroid rebuild stays JVM: posexplode + (cluster,dim) "
    "partial decimal means. No interpreted HOF lambda in the hot path "
    "and never K copies of the corpus on the wire.",
    "bpe_learn_merges": "r6 iterative trainer (final-plan explain; the 6 "
    "argmax collects each ran one row): everything downstream of the scan "
    "reads the CACHED distinct-word InMemoryRelation — the corpus parquet "
    "is scanned exactly once per session; the merge chain is 6 stacked "
    "JVM string replaces folded into one projection; the vocabulary "
    "aggregate partial-combines under the tok exchange.",
    "prefix_filter_jaccard_pairs": "r6 exact all-pairs similarity: the "
    "cached shingle-posting relation feeds the df table, the window-built "
    "rarest-first prefixes, and both verification sides; the candidate "
    "join keys on prefix shingles only (posting-list-linear) and "
    "intersections are counted relationally on candidates, never C(n,2) — "
    "the inverted-index oracle independently recomputes every pair.",
    "tfidf_cosine_topk": "r6 inverted-index cosine: shingle postings "
    "capped by document frequency so every join group is bounded; dot "
    "products are decimal-exact partial-combining sums on the (doc_a, "
    "doc_b) exchange; the top-k window runs over candidate pairs.",
    "bucketed_colocated_join": "r6 layout tier: both fact scans read "
    "Bucketed: true with one file per bucket — the SortMergeJoin consumes "
    "them with NO exchange and NO sort; the only exchange in the plan is "
    "the few-row priority rollup above the join.",
    "copurchase_triangles": "r6 support-thresholded graph: the edge build "
    "partial-aggregates (u,v) support under one exchange and drops "
    "one-off collisions (1.196M -> 3.9k edges at sf0.1) before the "
    "degree-oriented wedge join; orientation bounds out-degree at "
    "O(sqrt(2m)) if the thresholded graph ever densifies.",
}


def _clean(plan: str) -> str:
    # strip volatile ids (#123, plan_id) so regenerated diffs are meaningful
    plan = re.sub(r"#\d+L?", "#x", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
    plan = re.sub(r"Location: \S+( \[[^\]]*\])?", "Location: <scan>", plan)
    plan = re.sub(r"file:\S+testdata/sf[0-9.]+", "file:<testdata>", plan)
    return plan


def main() -> None:
    # imported here, so tools/explain_snap.py can import _clean without
    # loading this checkout's package in place of the one it snapshots
    sys.path.insert(0, REPO)
    from nexmark_vanilla_flink_spark.plans import REGISTRY
    from nexmark_vanilla_flink_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("gen-explains", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# EXPLAINS — physical plans of the flagship queries\n",
        "Generated by `tools/gen_explains.py` (volatile expr ids scrubbed).",
        "Regenerate after plan-affecting changes; review the diff.\n",
    ]
    for name, commentary in FLAGSHIPS.items():
        df = REGISTRY[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n*{commentary}*\n")
        out.append("```\n" + _clean(plan.strip()) + "\n```\n")
    os.makedirs("docs", exist_ok=True)
    with open("docs/EXPLAINS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/EXPLAINS.md ({len(FLAGSHIPS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
