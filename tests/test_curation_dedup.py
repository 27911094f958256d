"""Semantic invariants for the cluster-consolidating dedup surface:
``dedup_cluster_rewrite`` (one survivor per connected component, exact
provenance) and ``semdedup_prune`` (the SemDeDup keep-low-centroid-sim
rule). The oracle-parity suite already locks cross-engine equality; these
tests pin the *semantics* so a future rewrite can't drift while staying
self-consistent with its own oracle."""

import re

from nexmark_vanilla_flink_spark.plans import REGISTRY


def test_cluster_rewrite_one_survivor_with_exact_provenance(spark, sf_dir):
    cc = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_clusters"].spark(spark, sf_dir).collect()
    }
    kept = REGISTRY["dedup_cluster_rewrite"].spark(spark, sf_dir).collect()
    # exactly one representative per component, and it is the min-label rep
    clusters = set(cc.values())
    assert {r["doc_id"] for r in kept} == clusters
    # provenance: member counts per cluster sum back to the whole corpus
    sizes = {}
    for cid in cc.values():
        sizes[cid] = sizes.get(cid, 0) + 1
    assert {r["doc_id"]: r["n_members"] for r in kept} == sizes
    assert sum(r["n_members"] for r in kept) == len(cc)


def test_semdedup_drop_rule(spark, sf_dir):
    pairs = REGISTRY["embedding_neardup_pairs"].spark(spark, sf_dir).collect()
    verdicts = {
        r["vec_id"]: r for r in REGISTRY["semdedup_prune"].spark(spark, sf_dir).collect()
    }
    dropped = {v for v, r in verdicts.items() if not r["kept"]}
    assert len(verdicts) > 0 and len(dropped) > 0, "no vectors / no drops"
    for p in pairs:
        a, b = verdicts[p["vec_a"]], verdicts[p["vec_b"]]
        # every near-dup pair loses its closer-to-centroid member ...
        loser = (
            p["vec_b"]
            if b["centroid_sim"] >= a["centroid_sim"]
            else p["vec_a"]
        )
        assert loser in dropped, f"pair {p} kept its prototype-side member"
    # ... and nothing else is ever dropped
    losers = set()
    for p in pairs:
        a, b = verdicts[p["vec_a"]], verdicts[p["vec_b"]]
        losers.add(
            p["vec_b"] if b["centroid_sim"] >= a["centroid_sim"] else p["vec_a"]
        )
    assert dropped == losers


def test_winnowing_window_coverage_guarantee(spark, sf_dir):
    """The defining winnowing property: every window of w consecutive
    k-gram positions contains at least one selected fingerprint, so any
    exact token overlap of length >= w+k-1 between two documents is
    guaranteed to share a fingerprint."""
    from nexmark_vanilla_flink_spark.plans.pipeline import _WINNOW_W

    import pyarrow.parquet as pq

    fps = REGISTRY["winnow_fingerprints"].spark(spark, sf_dir).collect()
    sel = {}
    for r in fps:
        sel.setdefault(r["doc_id"], set()).add(r["fp_pos"])
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    checked = 0
    for doc_id, text in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
    ):
        n = max(len(text.split(" ")) - 2, 0)
        if n == 0:
            assert doc_id not in sel
            continue
        positions = sel[doc_id]
        assert positions, f"doc {doc_id} has k-grams but no fingerprints"
        for start in range(0, max(n - _WINNOW_W, 0) + 1):
            window = set(range(start, min(start + _WINNOW_W, n)))
            assert window & positions, (
                f"doc {doc_id}: window at {start} has no selected fingerprint"
            )
        checked += 1
    assert checked > 0


def test_lsh_candidate_pairs_match_full_plan(spark, sf_dir):
    """r12 session 4: the dedup_clusters build and the pair-list-only
    consumers (corpus_curation, curation_funnel, source_dup_matrix) take
    ``_lsh_candidate_pairs`` — the banded candidate set WITHOUT the
    jaccard-scoring joins they discard. The candidate (pair, n_bands) set
    must stay identical to the full ``minhash_lsh_pairs`` plan's, or the
    cluster map silently diverges from the scored-pair surface."""
    from nexmark_vanilla_flink_spark.plans.pipeline import (
        _lsh_candidate_pairs,
        minhash_lsh_pairs,
    )

    cand = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in _lsh_candidate_pairs(spark, sf_dir).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert len(cand) > 0
    assert cand == full


# the shingle projection of the MinHash chain as it prints in an optimized
# plan: concat_ws over the tokens array indexed by the lambda position
_SHINGLE = re.compile(r"concat_ws\( , ws#\d+\[lambda j")

_BATCH_MINHASH_CONSUMERS = (
    "minhash_lsh_pairs",
    "dedup_clusters",
    "corpus_curation",
    "source_dup_matrix",
    "curation_funnel",
    "minhash_estimate_error",
    "incremental_dedup",
    "quality_label_propagation",
)


def test_batch_minhash_consumers_share_one_derivation(spark, sf_dir):
    """Every batch MinHash consumer reads the per-corpus signature
    artifact: from purged roots, running all of them (and the dedup index
    build) derives the signatures exactly once, and no consumer's plan
    carries the shingle projection of the chain."""
    from nexmark_vanilla_flink_spark.operators.artifacts import (
        pop_build_log,
        purge_artifact_roots,
    )
    from nexmark_vanilla_flink_spark.plans.curation import _corpus_index_dir
    from nexmark_vanilla_flink_spark.plans.pipeline import _minhash_derive

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    # the pattern does find the chain where it still runs
    assert _SHINGLE.search(optimized(_minhash_derive(spark, sf_dir)))
    purge_artifact_roots()
    pop_build_log()
    carriers = []
    for name in _BATCH_MINHASH_CONSUMERS:
        df = REGISTRY[name].spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        if _SHINGLE.search(optimized(df)):
            carriers.append(name)
    _corpus_index_dir(spark, sf_dir)
    builds = [r["name"] for r in pop_build_log()]
    assert builds.count("minhash_signatures") == 1, builds
    assert not carriers, carriers


def test_row_local_signatures_match_the_batch_chain(spark, sf_dir):
    """The row-local chain that signs streamed arrivals
    (``operators.shingles.row_signatures``, which
    ``incremental_dedup_stream_replay`` runs) gives every document the band
    signatures the batch chain wrote to the ``minhash_signatures``
    artifact: array_min inside the row and a groupBy min over exploded
    shingles take the minimum of the same digest rotations."""
    from pyspark.sql import functions as F

    from nexmark_vanilla_flink_spark.operators.shingles import row_signatures
    from nexmark_vanilla_flink_spark.plans.pipeline import _minhash_wide
    from nexmark_vanilla_flink_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # a doc with < 3 tokens has no shingles: no batch row, null row minimums
    assert docs.filter(F.size(F.split("text", " ")) < 3).count() == 0
    cols = ["doc_id", "sig0", "sig1", "sig2", "sig3"]
    row = row_signatures(docs)
    batch = _minhash_wide(spark, sf_dir).select(*cols)
    assert row.columns == cols
    assert row.count() == batch.count() == docs.count() > 0
    assert row.exceptAll(batch).count() == 0
    assert batch.exceptAll(row).count() == 0
