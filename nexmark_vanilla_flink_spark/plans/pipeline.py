"""Large-scale training-data-pipeline operators (no reference counterpart —
BASELINE.json north star): deduplication, similarity search, text analysis,
multimodal column plumbing. All run over the driver's ``documents`` and
``embeddings`` tables and are verified against DuckDB oracles.

Determinism discipline: every hash is md5 over explicit strings (identical
bytes in both engines), every float output is rounded after exact/stable
arithmetic, every arg-max carries an id tie-break.

Scale notes: these are the operators that actually matter at 100 TB —
  * exact dedup = hash-partition on a digest (one shuffle, no skew: digests
    are uniform);
  * MinHash-LSH = bounded-width signature per doc (12 hashes → 4 bands), so
    candidate generation is a self-join on (band, signature) — the classic
    sub-quadratic path; only candidate pairs pay the exact-Jaccard check;
  * brute-force cosine top-k broadcasts the (small) query set against the
    (huge) corpus — no shuffle of the corpus at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..operators.artifacts import read_artifact_table, register_artifact
from ..operators.parallelism import ensure_parallelism
from ..operators.shingles import (
    _BAND_ROWS,
    _N_HASHES,
    band_array,
    band_signatures,
    rotation,
    word_ngrams,
)
from ..sources.tables import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Exact deduplication (hash-groupBy)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle="""
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       count(*) OVER (PARTITION BY md5(text)) AS n_copies
FROM documents
""",
    tags=("pipeline", "dedup"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-digest grouping, smallest doc_id is canonical.
    Returns every row with its canonical representative + duplicate count
    (rows where doc_id != canonical_id are droppable duplicates)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    return docs.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------

_MINHASH_CTES = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id, ws[j + 1] || ' ' || ws[j + 2] || ' ' || ws[j + 3] AS g
  FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 2, 0))) AS j FROM w)
),
h AS (SELECT doc_id, md5(g) AS h FROM g),
mh AS (
  SELECT doc_id, t.seed AS seed,
         min(substr(h || h, t.seed * 2 + 1, 16)) AS mh
  FROM h CROSS JOIN range(0, {_N_HASHES}) t(seed)
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, seed // {_BAND_ROWS} AS band,
         md5(array_to_string(list_sort(list(CAST(seed AS VARCHAR) || ':' || mh)), '|')) AS sig
  FROM mh GROUP BY doc_id, seed // {_BAND_ROWS}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
   AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sig AS (SELECT doc_id, list(mh ORDER BY seed) AS arr FROM mh GROUP BY 1)
"""

_MINHASH_ORACLE = _MINHASH_CTES + f"""
SELECT doc_a, doc_b, n_bands,
       round(len(list_filter(list_zip(sa.arr, sb.arr), z -> z[1] = z[2])) / {_N_HASHES}.0, 4) AS jaccard_est
FROM pairs
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""


def _minhash_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash chain itself: (doc_id, arr[12], sig0..sig3) from the raw
    documents. Runs only inside the signature artifact's build
    (``_minhash_signatures_dir``); every consumer reads that artifact
    through ``_minhash_wide``."""
    docs = load_table(spark, sf_dir, "documents")
    ws = ensure_parallelism(docs).select("doc_id", F.split("text", " ").alias("ws"))
    g = ws.select("doc_id", F.explode(word_ngrams("ws", 3)).alias("g"))
    h = g.select("doc_id", F.md5("g").alias("h"))
    rots = h.select(
        "doc_id",
        *[F.expr(rotation("concat(h, h)", s)).alias(f"r{s}") for s in range(_N_HASHES)],
    )
    mins = rots.groupBy("doc_id").agg(
        *[F.min(f"r{s}").alias(f"mh{s}") for s in range(_N_HASHES)]
    )
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"mh{s}") for s in range(_N_HASHES)]).alias("arr"),
        *band_signatures(),
    )


@register_artifact("minhash_signatures")
def _minhash_signatures_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the MinHash signatures (doc_id, arr, sig0..sig3) once
    per corpus state — the one derivation of the shingle explode → md5 →
    12-min groupBy → band chain. Every batch LSH consumer (the candidate
    pair set and through it the cluster map, curation, telemetry and
    estimate-error entries; the scored pair join; incremental dedup; the
    dedup index build; label propagation) reads this table instead of
    re-deriving the chain in its own plan, and the artifacts built from it
    (``dedup_clusters``, ``dedup_index``) name it in ``requires`` so its
    build is logged once, under its own name. The logic version pins the
    signature spec."""
    from ..operators.artifacts import artifact_dir, write_artifact_table

    def _build(stage: str) -> None:
        write_artifact_table(_minhash_derive(spark, sf_dir), stage, "signatures")

    return artifact_dir(
        spark,
        sf_dir,
        name="minhash_signatures",
        version=f"v1-h{_N_HASHES}b{_BAND_ROWS}",
        source_table="documents",
        build=_build,
    )


def _minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared MinHash signature frame (doc_id, arr[12], sig0..sig3),
    read from the per-corpus signature artifact (built on first use). All
    batch consumers read these same rows, so pair search, the dedup index
    and label propagation stay bit-identical."""
    return read_artifact_table(spark, _minhash_signatures_dir(spark, sf_dir), "signatures")


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signatures in long form, (doc_id, band, sig): one row per band,
    the key every banded-LSH join matches on."""
    return _minhash_wide(spark, sf_dir).select(
        "doc_id",
        F.posexplode(band_array()).alias("band", "sig"),
    )


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pair set (doc_a < doc_b, n_bands) WITHOUT the
    MinHash jaccard scoring — the subplan for consumers that only need the
    candidate edge list (the dedup_clusters build, corpus_curation,
    source_dup_matrix, curation_funnel, and minhash_estimate_error through
    ``minhash_lsh_pairs``). Its input is the signature artifact, so the
    plan is one band self-join over a table scan; the MinHash chain never
    runs here. Leaving out the jaccard joins, whose output these consumers
    discard, took the pair plan 1.11 → 0.68 s and the CC build path
    1.99 → 1.48 s (OPTIMIZATION_r12.md, measured before the artifact)."""
    bands = _minhash_bands(spark, sf_dir)
    return (
        bands.join(
            bands.select(
                F.col("doc_id").alias("doc_b"), F.col("band"), F.col("sig")
            ),
            ["band", "sig"],
        )
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), F.col("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


@register(
    "minhash_lsh_pairs",
    oracle=_MINHASH_ORACLE,
    tags=("pipeline", "dedup", "lsh"),
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: word-3-gram shingles → one md5 per shingle
    → 12 minhashes via byte rotations of the digest (one-permutation-style;
    avoids 12 independent digest passes) → 4 bands of 3 → band-signature
    self-join → MinHash-estimated Jaccard on the candidates.

    Shape chosen for scale AND local speed: every hot expression (md5,
    substr) is a flat codegen-able projection over exploded skinny rows — no
    interpreted higher-order-function lambdas in the hot loop (measured 5×
    slower at sf0.1). The 12 rotations are WIDE COLUMNS, not 12 exploded
    rows: one groupBy(doc_id) computes all 12 mins with map-side partial
    aggregation, so the single shuffle carries ≤1 row × 12 columns per doc
    per input partition (the round-1 seed-explode carried 12 rows and needed
    two further collect_list aggregations for bands/signatures — best-of-3 at
    sf0.1: 1.23 s explode-plan vs 1.11 s this plan, and downstream consumers
    improve more: corpus_curation 2.33→1.38 s, dedup_clusters 3.45→2.4 s;
    the shuffle is 12× fewer rows — the part that compounds at 100 TB).

    That chain runs once per corpus state, in the signature artifact's
    build (``_minhash_signatures_dir``). This entry's plan is the band
    self-join plus two joins that attach each side's ``arr`` for the
    estimate, all three reading the artifact table.
    """
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    sig_tbl = _minhash_wide(spark, sf_dir).select("doc_id", "arr")
    n_match = F.expr(
        "aggregate(zip_with(arr_a, arr_b, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)"
    )
    return (
        pairs.join(
            sig_tbl.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a")),
            "doc_a",
        )
        .join(
            sig_tbl.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.round(n_match / F.lit(float(_N_HASHES)), 4).alias("jaccard_est"),
        )
    )


@register(
    "ngram_jaccard_pairs",
    # Intersections are counted through the inverted index (posting-list
    # equi-join within blocks) instead of per-pair list_intersect — the
    # blocked self-join form evaluated list_intersect three times per
    # candidate row and dominated the whole comparator denominator
    # (11.2 s -> 1.7 s at sf0.1, identical rows; J >= 0.5 implies a shared
    # token, so restricting to pairs with i > 0 loses nothing). Same
    # restructure prefix_filter_jaccard_pairs' oracle got in r6. CTEs are
    # MATERIALIZED: DuckDB inlines plain CTEs per consumer, re-running the
    # explode/join once per reference.
    oracle="""
WITH d AS MATERIALIZED (
  SELECT doc_id, lang, n_chars // 64 AS size_bucket,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
),
sz AS MATERIALIZED (SELECT doc_id, len(toks) AS sz FROM d),
p AS MATERIALIZED (
  SELECT doc_id, lang, size_bucket, unnest(toks) AS tok FROM d
),
i AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM p a JOIN p b ON a.lang = b.lang AND a.size_bucket = b.size_bucket
        AND a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT i.doc_a, i.doc_b,
         round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 4) AS jaccard
  FROM i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
)
WHERE jaccard >= 0.5
""",
    tags=("pipeline", "dedup", "jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dups with (lang, size-bucket) blocking:
    candidate pairs only form inside a block, so the self-join is bounded per
    block instead of quadratic over the corpus — the standard blocking
    compromise (cross-block near-dups are MinHash-LSH's job).

    ADJUDICATED truth-quadratic OUTPUT (r10, per the r9 10× sweep): on the
    driver's template-heavy corpus, ~¾ of in-block pairs genuinely satisfy
    J ≥ 0.5, so the RESULT relation itself grows quadratically —
    2,307,724 rows at 10× data (docs/scaling_r9.json) — and any
    implementation emitting it is Ω(output); the 9.9 s / 40× growth at 10×
    is output volume, not a candidate-generation defect. Restructures
    don't help: a rarest-first prefix filter degenerates on unigram tokens
    over a ~31-word template vocabulary (every token is a stop token —
    measured 48 s at sf0.1, see plans/similarity3.py), and posting-join
    intersection counting does Σ C(df,2) ≈ the same pair volume. This
    entry is the bounded exact recall-reference; the linear-at-scale
    registered paths for sparse near-dup OUTPUT are ``minhash_lsh_pairs``
    (banded LSH) and ``prefix_filter_jaccard_pairs`` (τ=0.9 shingle
    PPJoin, where the distribution actually separates)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        "lang",
        F.expr("n_chars DIV 64").alias("size_bucket"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang"),
        F.col("size_bucket"),
        F.col("toks").alias("toks_b"),
    )
    c = F.size(F.array_intersect("toks", "toks_b"))
    return (
        d.join(b, ["lang", "size_bucket"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            F.round(
                c.cast("double") / (F.size("toks") + F.size("toks_b") - c), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# labels above this many vectors sub-cluster one IVF level deeper; both the
# Spark plan and its oracle SQL read it
_EMB_BLOCK_CAP = 48

# CTE prefix shared between embedding_neardup_pairs and semdedup_prune (the
# latter appends centroid-similarity CTEs and a keep/drop verdict on top of
# the identical guarded candidate-pair relation).
_EMB_NEARDUP_CTES = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, label, v,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm,
         count(*) OVER (PARTITION BY label) AS bsize,
         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
  FROM e
),
small AS (SELECT * FROM n WHERE bsize <= {_EMB_BLOCK_CAP}),
big AS (SELECT * FROM n WHERE bsize > {_EMB_BLOCK_CAP}),
seeds AS (
  SELECT label, rn AS seed_rank, v AS sv, nrm AS snrm
  FROM big
  WHERE rn <= CAST(ceil(bsize / CAST({_EMB_BLOCK_CAP} AS DOUBLE)) AS BIGINT)
),
scored AS (
  SELECT b.label, b.vec_id, b.v, b.nrm, s.seed_rank,
         CAST(round(
           list_aggregate(list_transform(list_zip(b.v, s.sv), z -> z[1] * z[2]), 'sum')
           / (b.nrm * s.snrm) * 1000000) AS BIGINT) AS si
  FROM big b JOIN seeds s USING (label)
),
assigned AS (
  SELECT label, vec_id,
         arg_max(seed_rank, si * 100000 - seed_rank) AS sub,
         any_value(v) AS v, any_value(nrm) AS nrm
  FROM scored GROUP BY 1, 2
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         round(
           list_aggregate(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), 'sum')
           / (a.nrm * b.nrm), 6) AS cos_sim
  FROM small a JOIN small b ON a.label = b.label AND a.vec_id < b.vec_id
  UNION ALL
  SELECT a.vec_id, b.vec_id, a.label,
         round(
           list_aggregate(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), 'sum')
           / (a.nrm * b.nrm), 6)
  FROM assigned a
  JOIN assigned b
    ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
)"""

_EMB_NEARDUP_ORACLE = _EMB_NEARDUP_CTES + """
SELECT vec_a, vec_b, label, cos_sim FROM pairs WHERE cos_sim >= 0.30
"""


@register(
    "embedding_neardup_pairs",
    oracle=_EMB_NEARDUP_ORACLE,
    tags=("pipeline", "dedup", "similarity"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates, blocked by the cluster label column
    (the IVF idea: candidates only form inside a coarse partition — at scale
    the label comes from a KMeans/LSH assignment; here the testdata ships
    one). Join is equi on the block key; dot products are codegen folds.
    Threshold 0.30 ≈ the 99th percentile of intra-label cosine in the
    synthetic near-orthogonal testdata (max observed 0.47).

    Oversized-block guard (VERDICT r4 task 5 — within-block pairing is
    quadratic in the largest block, and a skewed label holding 10% of a
    100 TB corpus explodes): blocks over _EMB_BLOCK_CAP vectors are
    deterministically sub-clustered one IVF level deeper — S =
    ceil(bsize/cap) seed vectors (the S lowest vec_ids, so both engines
    pick identical seeds), every vector assigned to its nearest seed by
    cosine, pairs formed only within (label, seed) sub-blocks. Candidate
    pairs drop from Σ B² to ~Σ B·cap (linear in B for balanced
    sub-blocks — measured in docs/scaling_r5.json); assignment itself is
    the narrow B×S dot-product join (~B²/cap compute, no pair
    materialization — at real scale the seeds come from a trained codebook
    instead, see kmeans_refine_once). The assignment argmax is
    cross-engine exact: scores round to 1e-6 and pack with the seed rank
    into one BIGINT ordinal (assumes <1e5 seeds per block), so ties break
    identically in Spark and the oracle. Recall at sub-block boundaries is
    the same compromise the label blocking itself already makes (the
    operator's contract is hierarchical-cluster-local near-dup); a tight
    cluster that refuses to split keeps its sub-block dense only when the
    OUTPUT itself is dense — the residual-skew fallback is the salted join
    (operators/skew.py), as with simhash_neardup_pairs."""
    # ARROW-VECTORIZED dot products (r12): the interpreted-HOF
    # zip_with/aggregate folds paid ~20 us per (vector, vector) fold —
    # the same hot path the kmeans_train assignment rewrite removed
    # (plans/similarity2.py, VERDICT r10 task 3). Each label's vectors
    # cross to Python ONCE per stage; numpy accumulates per-DIMENSION in
    # ascending order (``acc = acc + A[:,i]*B[:,i]``), which is
    # bit-identical to the sequential left fold both engines run, and the
    # raw IEEE doubles ride back to the JVM where ALL rounding
    # (round(.,6), the 1e6 si ordinal) happens in the exact expressions
    # the oracle mirrors — the pandas stage introduces no new float
    # semantics. Group = label (the blocking key): at 100 TB labels are
    # IVF-cell-sized, so a group is one cell's vectors, never the corpus.
    cap = _EMB_BLOCK_CAP
    emb = load_table(spark, sf_dir, "embeddings")
    e = ensure_parallelism(
        emb.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
    ).withColumn("bsize", F.count(F.lit(1)).over(Window.partitionBy("label")))

    def _raw_pairs(pdf):
        """All i<j pairs within one (label[, sub]) group: raw cosine."""
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "label": pd.array([], dtype="int32"),
                    "vec_a": pd.array([], dtype="int64"),
                    "vec_b": pd.array([], dtype="int64"),
                    "cos_raw": pd.array([], dtype="float64"),
                }
            )
        V = np.vstack(pdf["v"].to_numpy())
        vids = pdf["vec_id"].to_numpy()
        acc = np.zeros(n)
        dot = np.zeros((n, n))
        for i in range(V.shape[1]):
            c = V[:, i]
            acc = acc + c * c
            dot = dot + c[:, None] * c[None, :]
        nrm = np.sqrt(acc)
        cos = dot / (nrm[:, None] * nrm[None, :])
        ia, ib = np.triu_indices(n, 1)  # vec_id sorted => vec_a < vec_b
        return pd.DataFrame(
            {
                "label": np.full(len(ia), pdf["label"].iloc[0], dtype="int32"),
                "vec_a": vids[ia].astype("int64"),
                "vec_b": vids[ib].astype("int64"),
                "cos_raw": cos[ia, ib],
            }
        )

    def _raw_scores(pdf):
        """One big block: raw cosine of every vector against the S =
        ceil(bsize/cap) seed vectors (the S lowest vec_ids — identical
        seed choice to the oracle's rn <= ceil(bsize/cap))."""
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        n = len(pdf)
        S = -(-n // cap)
        V = np.vstack(pdf["v"].to_numpy())
        vids = pdf["vec_id"].to_numpy()
        C = V[:S]
        acc = np.zeros(n)
        dot = np.zeros((n, S))
        for i in range(V.shape[1]):
            c = V[:, i]
            acc = acc + c * c
            dot = dot + c[:, None] * C[:, i][None, :]
        nrm = np.sqrt(acc)
        score = dot / (nrm[:, None] * nrm[:S][None, :])
        return pd.DataFrame(
            {
                "label": np.full(n * S, pdf["label"].iloc[0], dtype="int32"),
                "vec_id": np.repeat(vids, S).astype("int64"),
                "seed_rank": np.tile(np.arange(1, S + 1), n).astype("int32"),
                "score_raw": score.reshape(-1),
            }
        )

    _PAIRS_SCHEMA = "label int, vec_a long, vec_b long, cos_raw double"
    small = e.filter(F.col("bsize") <= cap).drop("bsize")
    big = e.filter(F.col("bsize") > cap).drop("bsize")
    small_raw = small.groupBy("label").applyInPandas(_raw_pairs, _PAIRS_SCHEMA)
    scored = big.groupBy("label").applyInPandas(
        _raw_scores, "label int, vec_id long, seed_rank int, score_raw double"
    )
    # si/ordinal/argmax stay JVM-side in the EXACT expressions the oracle
    # mirrors (scores round to 1e-6, pack with seed rank into one BIGINT)
    assigned = (
        scored.withColumn(
            "si", F.round(F.col("score_raw") * 1_000_000, 0).cast("long")
        )
        .withColumn("ord", F.col("si") * 100_000 - F.col("seed_rank"))
        .groupBy("label", "vec_id")
        .agg(F.max_by("seed_rank", "ord").alias("sub"))
    )
    big_raw = (
        big.join(assigned, ["label", "vec_id"])
        .groupBy("label", "sub")
        .applyInPandas(lambda pdf: _raw_pairs(pdf), _PAIRS_SCHEMA)
    )
    return (
        small_raw.unionByName(big_raw)
        .select(
            "vec_a",
            "vec_b",
            "label",
            F.round(F.col("cos_raw"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.30)
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-based semantic pruning (keep/drop verdict per vector)
# ---------------------------------------------------------------------------

_SEMDEDUP_ORACLE = _EMB_NEARDUP_CTES + """
, cx AS (
  SELECT label, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS val FROM e
),
cmean AS (
  SELECT label, pos,
         round(CAST(sum(CAST(val AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6) AS cval
  FROM cx GROUP BY 1, 2
),
carr AS (
  SELECT label, list(cval ORDER BY pos) AS cv FROM cmean GROUP BY 1
),
csim AS (
  SELECT n.vec_id, n.label,
         round(
           list_aggregate(list_transform(list_zip(n.v, c.cv), z -> z[1] * z[2]), 'sum')
           / (n.nrm * sqrt(list_aggregate(list_transform(c.cv, x -> x * x), 'sum'))),
           6) AS centroid_sim
  FROM n JOIN carr c ON n.label = c.label
),
dup AS (SELECT vec_a, vec_b FROM pairs WHERE cos_sim >= 0.30),
losers AS (
  SELECT DISTINCT
         CASE WHEN b.centroid_sim >= a.centroid_sim THEN d.vec_b ELSE d.vec_a END
           AS vec_id
  FROM dup d
  JOIN csim a ON a.vec_id = d.vec_a
  JOIN csim b ON b.vec_id = d.vec_b
)
SELECT s.vec_id, s.label, s.centroid_sim, l.vec_id IS NULL AS kept
FROM csim s LEFT JOIN losers l ON l.vec_id = s.vec_id
"""


@register(
    "semdedup_prune",
    oracle=_SEMDEDUP_ORACLE,
    tags=("pipeline", "dedup", "similarity", "curation"),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    pruning within embedding clusters — for every near-duplicate pair
    inside a cluster, DROP the member closer to the cluster centroid (the
    paper's keep-low-centroid-similarity rule: of two semantically
    interchangeable examples, the one farther from the prototype adds more
    diversity to the training mix). Emits the full per-vector verdict table
    (vec_id, label, centroid_sim, kept) so downstream rewrites are a
    single semi-join.

    Composition, all previously-gated pieces: the candidate-pair relation
    IS ``embedding_neardup_pairs`` (same oversized-block guard, same
    threshold — the oracle textually shares its CTE prefix); centroids use
    ``label_centroids``' decimal-exact mean (DECIMAL(18,8) sums are
    associative, so Spark's and DuckDB's different aggregation orders
    cannot diverge, then both engines round to 1e-6 before the cosine
    fold). The drop rule is pairwise (non-transitive), so it is a pure
    EXISTS — no iteration, cross-engine exact given equal centroid_sim
    doubles; ties on centroid_sim drop the higher vec_id.

    Scale: one (label, pos) shuffle for the centroid M-step; the centroid
    table is k x dim (IVF codebook size, bounded by design) and is
    broadcast; candidate pairs stay block-guarded (never all-pairs);
    losers is DISTINCT over pair endpoints (<= |pairs|); the verdict is a
    broadcast-able left join on vec_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the embeddings file ships ONE row group, so the centroid M-step's
    # partial aggregation of |corpus| x dim exploded rows ran as a single
    # task (r12 isolated at the 10x replica: 1.83 s serial vs 0.58 s
    # parallel); the narrow (vec_id, label, v) repartition round-trip is
    # cheap next to that, and at real scale the scan has enough splits
    # that ensure_parallelism is a no-op
    e = ensure_parallelism(
        emb.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
    ).withColumn(
        "nrm",
        F.sqrt(
            F.expr(
                "aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            )
        ),
    )
    x = e.select("label", F.posexplode("v").alias("pos", "val"))
    cmean = x.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("cval")
    )
    carr = cmean.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))), lambda s: s.cval
        ).alias("cv")
    )
    # csim feeds THREE consumers (both endpoint joins of the loser rule and
    # the final verdict) and Spark does not share subtrees across branches —
    # uncached, each branch re-ran the embeddings scan + centroid M-step +
    # cosine fold (r7: 1.34 s vs the oracle's 0.18 s). Skinny cache:
    # (vec_id, label, centroid_sim) — the per-vector verdict input a
    # production SemDeDup materializes anyway. The centroid cosine itself
    # is Arrow-vectorized per label (r12, same discipline as
    # embedding_neardup_pairs: numpy accumulates per-dimension in
    # ascending order — bit-identical to the interpreted fold it
    # replaces — and the raw double rides back for the JVM round(.,6)).
    def _raw_csim(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        V = np.vstack(pdf["v"].to_numpy())
        cv = np.asarray(pdf["cv"].iloc[0])
        acc = np.zeros(n)
        dot = np.zeros(n)
        cacc = 0.0
        for i in range(V.shape[1]):
            c = V[:, i]
            acc = acc + c * c
            dot = dot + c * cv[i]
            cacc = cacc + cv[i] * cv[i]
        cos = dot / (np.sqrt(acc) * np.sqrt(cacc))
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "label": pdf["label"].astype("int32"),
                "cos_raw": cos,
            }
        )

    csim = (
        e.drop("nrm")
        .join(broadcast(carr), "label")
        .groupBy("label")
        .applyInPandas(_raw_csim, "vec_id long, label int, cos_raw double")
        .select(
            "vec_id",
            "label",
            F.round(F.col("cos_raw"), 6).alias("centroid_sim"),
        )
        .cache()
    )
    dup = embedding_neardup_pairs(spark, sf_dir).select("vec_a", "vec_b")
    a = csim.select(F.col("vec_id").alias("vec_a"), F.col("centroid_sim").alias("sim_a"))
    b = csim.select(F.col("vec_id").alias("vec_b"), F.col("centroid_sim").alias("sim_b"))
    losers = (
        dup.join(a, "vec_a")
        .join(b, "vec_b")
        .select(
            F.when(F.col("sim_b") >= F.col("sim_a"), F.col("vec_b"))
            .otherwise(F.col("vec_a"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("is_loser", F.lit(True))
    )
    return csim.join(losers, "vec_id", "left").select(
        "vec_id",
        "label",
        "centroid_sim",
        F.col("is_loser").isNull().alias("kept"),
    )


# ---------------------------------------------------------------------------
# SimHash fingerprinting
# ---------------------------------------------------------------------------

_SIMHASH_CTES = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  )
),
bits AS (
  SELECT doc_id, t.b AS b,
         sum(CASE WHEN strpos('89abcdef', substr(md5(tok), t.b + 1, 1)) > 0
                  THEN 1 ELSE -1 END) AS s
  FROM toks CROSS JOIN range(0, 16) t(b)
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS simhash16
  FROM bits GROUP BY 1
)
""".strip()

_SIMHASH_ORACLE = _SIMHASH_CTES + "\nSELECT doc_id, simhash16 FROM fp"


def _simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash16) — shared by the fingerprint and pairing entries."""
    docs = load_table(spark, sf_dir, "documents")
    # zero-shuffle: token hashes and all 16 bit-majorities fold inside one
    # projection (aggregate() over the distinct-token array per bit)
    hashed = ensure_parallelism(docs).select(
        "doc_id",
        F.expr("transform(array_distinct(split(text, ' ')), t -> md5(t))").alias("hs"),
    )
    return hashed.select(
        "doc_id",
        F.expr(
            "CAST(aggregate(sequence(0, 15), 0L, (acc, b) -> acc + "
            "  CASE WHEN aggregate(hs, 0, (s, h) -> s + "
            "    CASE WHEN instr('89abcdef', substring(h, b + 1, 1)) > 0 THEN 1 ELSE -1 END"
            "  ) > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0L END"
            ") AS BIGINT)"
        ).alias("simhash16"),
    )


@register(
    "simhash_fingerprints",
    oracle=_SIMHASH_ORACLE,
    tags=("pipeline", "dedup", "simhash"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each bit majority-votes the top bit of
    one md5 nibble across distinct tokens. Near-dups share fingerprints with
    small Hamming distance (paired by simhash_neardup_pairs)."""
    return _simhash16(spark, sf_dir)


# buckets above this many docs take the re-banded path (simhash_neardup_pairs)
_SIMHASH_BUCKET_CAP = 256


@register(
    "simhash_neardup_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
bits AS (
  SELECT doc_id, t.b AS b,
         sum(CASE WHEN strpos('89abcdef', substr(md5(tok), t.b + 1, 1)) > 0
                  THEN 1 ELSE -1 END) AS s
  FROM toks CROSS JOIN range(0, 32) t(b)
  GROUP BY 1, 2
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS simhash32
  FROM bits GROUP BY 1
),
banded AS (
  SELECT doc_id, simhash32, t.band AS band,
         CASE t.band WHEN 0 THEN simhash32 & 2047
                     WHEN 1 THEN (simhash32 >> 11) & 2047
                     ELSE (simhash32 >> 22) & 1023 END AS band_val
  FROM fp CROSS JOIN range(0, 3) t(band)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash32, b.simhash32)) AS hamming
FROM banded a
JOIN banded b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash32, b.simhash32)) <= 2
""",
    tags=("pipeline", "dedup", "simhash"),
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate pairing — the dedup step the fingerprints feed:
    documents whose 32-bit TF-weighted SimHashes differ in ≤2 bits, found WITHOUT an
    all-pairs comparison. The 32 bits split into 3 bands of
    11/11/10; by pigeonhole, any pair within Hamming distance ≤2 agrees on
    at least one band, so every true pair comes out of an equi-join on
    (band, band_value). Fewer, WIDER bands are the selectivity lever: this
    synthetic corpus clusters hard, and 4×8-bit banding put 65% of docs in
    one bucket (7.5 M candidate pairs at sf0.1); 11-bit bands cut that to
    2.0 M with recall untouched — the same banding argument as MinHash-LSH
    (minhash_lsh_pairs), applied to bit fingerprints. (The registered
    fingerprint column stays 16-bit for compactness; pairing needs the
    wider, term-frequency-weighted hash: every occurrence votes, so two
    docs differ when their token *distributions* differ — unweighted
    distinct-token voting collapses on a small shared vocabulary.)

    Scale: one explode (3 rows/doc), one hash shuffle on the band key,
    per-bucket pairing bounded by bucket size, popcount verification inline
    (bit_count(simhash XOR simhash)) — sub-quadratic end to end, no UDF.

    Oversized-bucket guard (candidate pairs grow as Σ bucket², and a
    hard-clustering corpus can put most docs in one bucket — measured
    10.5 K → 4.0 M candidates at 64× data before this guard): buckets over
    _SIMHASH_BUCKET_CAP docs are RE-BANDED on the fingerprint bits the band
    does NOT cover. Recall stays exact by the same pigeonhole: a pair in the
    bucket already agrees on the band's bits, so its ≤2 differing bits all
    lie in the remaining 21-22 bits — split those into 3 sub-bands and at
    least one sub-band matches. Small buckets pair directly; the two paths
    union before the popcount filter, so the output (and the oracle) is
    unchanged. The per-bucket size comes from a count window over the SAME
    (band, band_val) key the join shuffles on — no extra exchange. A
    residual hot sub-bucket beyond AQE's skew split would take the salted
    replicate-join (operators/skew.py)."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = ensure_parallelism(docs).select(
        "doc_id",
        F.expr("transform(split(text, ' '), t -> md5(t))").alias("hs"),
    )
    fp = hashed.select(
        "doc_id",
        F.expr(
            "CAST(aggregate(sequence(0, 31), 0L, (acc, b) -> acc + "
            "  CASE WHEN aggregate(hs, 0, (s, h) -> s + "
            "    CASE WHEN instr('89abcdef', substring(h, b + 1, 1)) > 0 THEN 1 ELSE -1 END"
            "  ) > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0L END"
            ") AS BIGINT)"
        ).alias("simhash32"),
    )
    # materialize the fingerprints once: the self-join references fp on both
    # sides, and without materialization Spark re-executes the
    # (interpreted-lambda) hash computation twice. Columnar .cache() since
    # r7, not localCheckpoint: the checkpoint finalized its upstream stages
    # at plan-BUILD time (forcing the "eager" tag and a full index rebuild
    # into every bench pass — this entry was the 30.6 s in-sweep outlier),
    # and the lineage cut discards the AQE stats downstream joins plan by
    # (the tfidf lesson, similarity3.py).
    fp = fp.cache()
    banded = fp.select(
        "doc_id",
        "simhash32",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(
            "CASE band WHEN 0 THEN simhash32 & 2047 "
            "WHEN 1 THEN (simhash32 >> 11) & 2047 "
            "ELSE (simhash32 >> 22) & 1023 END"
        ),
    )
    banded = banded.withColumn(
        "bsize",
        F.count(F.lit(1)).over(Window.partitionBy("band", "band_val")),
    )
    small = banded.filter(F.col("bsize") <= _SIMHASH_BUCKET_CAP)
    # the band's complement bits, packed contiguously (21-22 bits), then
    # split 7/7/rest — any in-bucket pair's ≤2 differing bits hit ≥1 sub-band
    big = (
        banded.filter(F.col("bsize") > _SIMHASH_BUCKET_CAP)
        .withColumn(
            "rem",
            F.expr(
                "CASE band WHEN 0 THEN simhash32 >> 11 "
                "WHEN 1 THEN (simhash32 & 2047) | ((simhash32 >> 22) << 11) "
                "ELSE simhash32 & 4194303 END"
            ),
        )
        .withColumn("sub", F.explode(F.sequence(F.lit(0), F.lit(2))))
        .withColumn(
            "sub_val",
            F.expr(
                "CASE sub WHEN 0 THEN rem & 127 "
                "WHEN 1 THEN (rem >> 7) & 127 ELSE rem >> 14 END"
            ),
        )
        .drop("rem")
    )

    def _pairs(frame: DataFrame, keys: list[str]) -> DataFrame:
        a, b = frame.alias("a"), frame.alias("b")
        cond = F.col("a.doc_id") < F.col("b.doc_id")
        for k in keys:
            cond &= F.col(f"a.{k}") == F.col(f"b.{k}")
        return a.join(b, cond).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash32 ^ b.simhash32)").alias("hamming"),
        )

    return (
        _pairs(small, ["band", "band_val"])
        .unionAll(_pairs(big, ["band", "band_val", "sub", "sub_val"]))
        .filter(F.col("hamming") <= 2)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Text analysis: language guess, quality scores, token counts, fingerprints
# ---------------------------------------------------------------------------


@register(
    "text_quality_scores",
    oracle="""
WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       len(ws) AS n_tokens,
       len(list_distinct(ws)) AS n_uniq_tokens,
       round(CAST(n_chars - len(ws) + 1 AS DOUBLE) / len(ws), 4) AS avg_token_len,
       round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS uniq_ratio,
       round(CAST(len(list_filter(ws, t -> t IN ('the', 'a'))) AS DOUBLE) / len(ws), 4) AS stopword_ratio
FROM w
""",
    tags=("pipeline", "text"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: token count, vocabulary diversity,
    average token length, stopword density — the standard pre-training
    quality gates, all JVM-side column expressions (no UDFs)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_tokens = F.size(ws)
    n_uniq = F.size(F.array_distinct(ws))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.round(
            (F.col("n_chars") - n_tokens + 1).cast("double") / n_tokens, 4
        ).alias("avg_token_len"),
        F.round(n_uniq.cast("double") / n_tokens, 4).alias("uniq_ratio"),
        F.round(
            F.size(F.expr("filter(split(text, ' '), t -> t IN ('the', 'a'))")).cast(
                "double"
            )
            / n_tokens,
            4,
        ).alias("stopword_ratio"),
    )


@register(
    "doc_repetition_scores",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         len(ws) AS n_tokens,
         CASE WHEN len(ws) >= 2 THEN list_transform(
           generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1])
         ELSE [] END AS g2,
         CASE WHEN len(ws) >= 3 THEN list_transform(
           generate_series(1, len(ws)-2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         ELSE [] END AS g3
  FROM w
)
SELECT doc_id, n_tokens,
       len(g2) AS n_2grams,
       round(CASE WHEN len(g2) > 0
             THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
             ELSE 0.0 END, 4) AS dup_2gram_frac,
       round(CASE WHEN len(g3) > 0
             THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
             ELSE 0.0 END, 4) AS dup_3gram_frac
FROM g
""",
    tags=("pipeline", "text"),
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram fractions per document — the Gopher/RefinedWeb-style
    repetition filter (docs whose text loops the same phrases get culled
    before pre-training). dup_k_frac = 1 - distinct(k-grams)/count(k-grams).

    All higher-order-function column expressions (transform over sequence +
    array_distinct) — the n-gram lists never leave the JVM row, so this is a
    zero-shuffle projection that scales linearly; no explode, no UDF. The
    token and n-gram arrays are STAGED as real columns between projections:
    inlining them textually repeats the whole sub-expression at every
    reference (Spark does not CSE across higher-order-function lambda
    boundaries) — measured 13.2 s vs 1.0 s at sf0.1 for the same logic.
    Spark array subscripts are 0-based (the DuckDB oracle mirrors with
    1-based list indexing)."""
    docs = load_table(spark, sf_dir, "documents")
    staged = ensure_parallelism(docs).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    grams = staged.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        word_ngrams("ws", 2).alias("g2"),
        word_ngrams("ws", 3).alias("g3"),
    )
    return grams.select(
        "doc_id",
        "n_tokens",
        F.size("g2").alias("n_2grams"),
        F.expr(
            "round(CASE WHEN size(g2) > 0 THEN 1.0D - "
            "CAST(size(array_distinct(g2)) AS DOUBLE) / size(g2) "
            "ELSE 0.0D END, 4)"
        ).alias("dup_2gram_frac"),
        F.expr(
            "round(CASE WHEN size(g3) > 0 THEN 1.0D - "
            "CAST(size(array_distinct(g3)) AS DOUBLE) / size(g3) "
            "ELSE 0.0D END, 4)"
        ).alias("dup_3gram_frac"),
    )


@register(
    "lang_guess",
    oracle="""
SELECT doc_id, lang,
       CASE
         WHEN strpos(' ' || text || ' ', ' the ') > 0 THEN 'en'
         WHEN strpos(' ' || text || ' ', ' data ') > 0 THEN 'de'
         WHEN strpos(' ' || text || ' ', ' query ') > 0 THEN 'fr'
         WHEN strpos(' ' || text || ' ', ' spark ') > 0 THEN 'es'
         ELSE 'und'
       END AS lang_guess
FROM documents
""",
    tags=("pipeline", "text"),
)
def lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (n-gram-heuristic shape: first matching
    marker wins). Deterministic stand-in for a real char-n-gram classifier —
    the plumbing (scan → pure column expr → label) is the scale-relevant
    part."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    return docs.select(
        "doc_id",
        "lang",
        F.when(F.instr(padded, " the ") > 0, "en")
        .when(F.instr(padded, " data ") > 0, "de")
        .when(F.instr(padded, " query ") > 0, "fr")
        .when(F.instr(padded, " spark ") > 0, "es")
        .otherwise("und")
        .alias("lang_guess"),
    )


@register(
    "token_counts",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[aeiou]+')) AS n_vowel_groups,
       len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_bpe_chunks
FROM documents
""",
    tags=("pipeline", "text"),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish greedy-chunk count
    (≤4-char lowercase runs) via regexp — the cheap proxy used to budget
    LLM token costs at corpus scale. The BPE-chunk regex produces thousands
    of matches per document, so the projection is CPU-dense enough to need
    the parallelism guard on under-split inputs (measured at sf0.1:
    1.56 s single-task → 0.19 s)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[aeiou]+', 0)")).alias(
            "n_vowel_groups"
        ),
        F.size(F.expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).alias(
            "n_bpe_chunks"
        ),
    )


@register(
    "doc_fingerprints",
    oracle="""
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       substr(md5(text), 1, 16) AS content_fp,
       substr(md5(array_to_string(list_sort(ws), ' ')), 1, 16) AS bag_fp,
       len(text) AS n_chars_checked
FROM w
""",
    tags=("pipeline", "text"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content digest + word-order-insensitive
    bag digest (sorted-token md5) for shuffle-invariant dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring(F.md5("text"), 1, 16).alias("content_fp"),
        F.substring(
            F.md5(F.array_join(F.array_sort(F.split("text", " ")), " ")), 1, 16
        ).alias("bag_fp"),
        F.length("text").alias("n_chars_checked"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # window of w consecutive k-gram hashes (k = 3 tokens)
_WINNOW_SHIFT = 1 << 24  # position packing bound: per-DOC k-gram index < 16M

# CTE prefix shared with winnow_overlap_pairs (which appends an
# inverted-index self-join over the selected fingerprints).
_WINNOW_CTES = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id, j,
         ('0x' || substr(md5(ws[j + 1] || ' ' || ws[j + 2] || ' ' || ws[j + 3]), 1, 8))::BIGINT AS h,
         greatest(len(ws) - 2, 0) AS n
  FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 2, 0))) AS j FROM w)
),
o AS (
  SELECT doc_id, j, n, h * {_WINNOW_SHIFT} + ({_WINNOW_SHIFT} - 1 - j) AS o
  FROM g
),
sel AS (
  SELECT doc_id, j, n,
         min(o) OVER (PARTITION BY doc_id ORDER BY j
                      ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS m
  FROM o
),
fp AS (
  SELECT DISTINCT doc_id,
         CAST({_WINNOW_SHIFT} - 1 - (m % {_WINNOW_SHIFT}) AS BIGINT) AS fp_pos,
         CAST(m // {_WINNOW_SHIFT} AS BIGINT) AS fp_hash
  FROM sel
  WHERE j <= greatest(n - {_WINNOW_W}, 0)
)"""

_WINNOW_ORACLE = _WINNOW_CTES + """
SELECT doc_id, fp_pos, fp_hash FROM fp
"""


def _winnow_sel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared winnowing subtree: per-position window minima (doc_id, m)
    restricted to valid window starts — consumers project/distinct to
    their own shape so no redundant exchange forms between the
    fingerprint table and the overlap detector."""
    docs = load_table(spark, sf_dir, "documents")
    ws = ensure_parallelism(docs).select("doc_id", F.split("text", " ").alias("ws"))
    g = ws.select(
        "doc_id",
        F.expr("greatest(size(ws) - 2, 0)").alias("n"),
        F.posexplode(word_ngrams("ws", 3)).alias("j", "g"),
    )
    o = g.select(
        "doc_id",
        "j",
        "n",
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            * F.lit(_WINNOW_SHIFT)
            + (F.lit(_WINNOW_SHIFT - 1) - F.col("j").cast("long"))
        ).alias("o"),
    )
    win = Window.partitionBy("doc_id").orderBy("j").rowsBetween(0, _WINNOW_W - 1)
    return o.withColumn("m", F.min("o").over(win)).filter(
        F.col("j") <= F.greatest(F.col("n") - F.lit(_WINNOW_W), F.lit(0))
    )


@register(
    "winnow_fingerprints",
    oracle=_WINNOW_ORACLE,
    tags=("pipeline", "text", "dedup"),
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-gram (k=3 tokens),
    slide a window of w=4 consecutive hashes, and select each
    window's MINIMUM (rightmost on ties). Guarantees every exact match of
    length >= w+k-1 shares at least one selected fingerprint, while
    keeping ~2/(w+1) of all hashes — the robust middle ground between
    full k-gram inverted indexes (ngram_containment_pairs) and per-doc
    digests (doc_fingerprints).

    Cross-engine exactness: the u32 hash is the repo's md5-prefix draw
    (identical in Spark conv() and DuckDB '0x' cast); min-with-rightmost-
    tie packs (hash, position) into ONE BIGINT ordinal
    (h * 2^24 + (2^24-1-j), so smaller hash wins and larger j wins ties)
    and both engines evaluate the same ROWS-frame window minimum over
    integers — no floats anywhere.

    Scale: everything is keyed doc_id — the k-gram explode is map-side,
    the window min shuffles (doc_id)-partitioned positions once, and the
    DISTINCT is a map-side-combinable agg on the same key; no corpus-wide
    key ever forms. Window starts are full windows only (a doc with fewer
    than w k-grams contributes its global minimum), matching the paper's
    truncation semantics."""
    sel = _winnow_sel(spark, sf_dir)
    return sel.select(
        "doc_id",
        (F.lit(_WINNOW_SHIFT - 1) - F.col("m") % F.lit(_WINNOW_SHIFT)).alias(
            "fp_pos"
        ),
        F.expr(f"CAST(m DIV {_WINNOW_SHIFT} AS BIGINT)").alias("fp_hash"),
    ).distinct()


_WINNOW_DF_CAP = 50  # stop-fingerprints: a hash shared by >cap docs is noise

_WINNOW_PAIRS_ORACLE = _WINNOW_CTES + f"""
, d AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
df AS (
  SELECT doc_id, fp_hash,
         count(*) OVER (PARTITION BY fp_hash) AS df
  FROM d
),
keep AS (SELECT doc_id, fp_hash FROM df WHERE df <= {_WINNOW_DF_CAP})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM keep a JOIN keep b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@register(
    "winnow_overlap_pairs",
    oracle=_WINNOW_PAIRS_ORACLE,
    tags=("pipeline", "text", "dedup"),
)
def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate overlap pairs from winnowing fingerprints — the MOSS
    detection step: documents sharing >= 2 selected fingerprints (after
    dropping stop-fingerprints whose document frequency exceeds
    _WINNOW_DF_CAP=50 — boilerplate k-grams that would otherwise fan a
    single hot hash into df^2 pairs, the same df-cap guard as
    ngram_containment_pairs' prefix filter). By the winnowing guarantee,
    any pair sharing an exact token run >= w+k-1 inside non-stop regions
    surfaces here; pair count is bounded by sum(df^2) <= cap * |index|.

    Scale: one (doc_id)-keyed fingerprint derivation (the shared
    winnowing subtree), one fp_hash-keyed exchange carrying the df
    window AND the self-join (same key, one shuffle), then a
    map-side-combinable (doc_a, doc_b) count — never all-pairs, never a
    corpus-wide key."""
    fp = (
        _winnow_sel(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"CAST(m DIV {_WINNOW_SHIFT} AS BIGINT)").alias("fp_hash"),
        )
        .distinct()
    )
    dfw = fp.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("fp_hash"))
    )
    # NOT cached (r7, tried and reverted): the self-join's two sides
    # canonicalize identically, so the fp_hash exchange — and everything
    # upstream of it, the whole winnowing chain — is already shared at
    # runtime via ReusedExchange (pinned by tests/test_plan_quality.py::
    # test_winnow_overlap_reuses_fingerprint_exchange); a cache here only
    # replaces that reuse with an InMemoryTableScan. This is the
    # exception that proves the branch-reuse audit rule: reuse is free
    # exactly when the branches are byte-identical subtrees ending in the
    # same exchange.
    keep = dfw.filter(F.col("df") <= _WINNOW_DF_CAP).select("doc_id", "fp_hash")
    b = keep.select(
        F.col("doc_id").alias("doc_b"), F.col("fp_hash").alias("fp_hash")
    )
    return (
        keep.join(b, "fp_hash")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )

# Query set: vec_id % 50 == 0 AND vec_id < _COSINE_Q_CAP — a CONSTANT-size
# query panel (≤ _COSINE_Q_CAP/50 = 40 queries), not a fixed fraction of the
# corpus. The pre-r10 registered form used the bare % 50 predicate, making
# the query count grow linearly with N and the brute-force scan O(N²/50) —
# the r9 10× sweep measured 59 s / 102× growth (docs/scaling_r9.json). With
# the cap the scan is K·N (K constant): the honest linear-cost yardstick the
# IVF entries' recall is measured against (tests/test_ann_recall.py). The
# cap covers every vec_id at the shipped test SFs (sf0.1 has 2000 vectors),
# so rows are IDENTICAL there and only the asymptotics change.
_COSINE_Q_CAP = 2000

_COSINE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
  FROM e
),
p AS (
  SELECT q.vec_id AS q_id, d.vec_id AS vec_id,
         round(
           list_aggregate(list_transform(list_zip(q.v, d.v), s -> s[1] * s[2]), 'sum')
           / (q.nrm * d.nrm), 6) AS cos_sim
  FROM n q JOIN n d ON d.vec_id <> q.vec_id
  WHERE q.vec_id % 50 = 0 AND q.vec_id < {_COSINE_Q_CAP}
)
SELECT q_id, vec_id, cos_sim, rn FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM p
)
WHERE rn <= 5
"""


@register(
    "cosine_topk_bruteforce",
    oracle=_COSINE_ORACLE,
    tags=("pipeline", "similarity"),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for a CONSTANT-size query panel
    (vec_id % 50 == 0, vec_id < _COSINE_Q_CAP — see the cap note above).
    The query side is broadcast, the corpus streams through map-side —
    zero corpus shuffle, K·N total work; dot products are JVM-side
    zip_with/aggregate folds (no Python in the hot path). The exhaustive
    scan is the recall ground truth for ``ann_ivf_topk``; the IVF probe
    path is the registered scale form for production query volumes."""
    # No ensure_parallelism: the embeddings relation is narrow and the
    # vector math is cheap relative to a repartition round-trip (measured
    # at sf0.1: the extra shuffle costs ~0.25 s/query and saves nothing;
    # at scale the parquet scan has thousands of splits anyway).
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.expr("aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
        ),
    )
    q = e.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _COSINE_Q_CAP)
    ).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    pairs = (
        e.join(broadcast(q), F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos_sim",
            F.round(
                F.expr(
                    "aggregate(zip_with(qv, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
                )
                / (F.col("qn") * F.col("nrm")),
                6,
            ),
        )
        .select("q_id", "vec_id", "cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)


# ---------------------------------------------------------------------------
# Multimodal column plumbing (binary payloads + typed metadata)
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       octet_length(encode(text)) % 640 + 1 AS frame_width,
       octet_length(encode(text)) % 480 + 1 AS frame_height,
       octet_length(encode(text)) % 7 + 1 AS n_frames
FROM documents
""",
    tags=("pipeline", "multimodal"),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: payloads as opaque binary columns pushed
    through an Arrow-batched mapInPandas "decoder". Real image/audio codecs
    aren't in this container, so the decoder is a deterministic fake
    (dimensions derived from byte length) — the Spark-side schema, batch
    iteration, and binary transport are the real thing. Swap `_fake_decode`
    for PIL/ffmpeg on a real cluster."""
    import pandas as pd  # noqa: F401 (arrow batch path)

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def _fake_decode(batches):
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            yield type(pdf)(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "frame_width": n_bytes % 640 + 1,
                    "frame_height": n_bytes % 480 + 1,
                    "n_frames": n_bytes % 7 + 1,
                }
            )

    return payload.mapInPandas(
        _fake_decode,
        schema="doc_id long, n_bytes long, frame_width long, frame_height long, n_frames long",
    )


# ---------------------------------------------------------------------------
# IVF-style approximate nearest neighbor (the similarity-search scale path)
# ---------------------------------------------------------------------------

# codebook rows up to which the coarse assignment scores against a
# driver-side numpy codebook (else the distributed interpreted fold)
_IVF_DRIVER_CODEBOOK_CAP = 200_000
# bytes of the float64 (rows x centroids) score block the Arrow scorer holds
# at once: each pandas batch is scored in row slices that fit it
_IVF_SCORE_BLOCK_BYTES = 32 << 20

_IVF_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
  FROM e
),
c AS (
  SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n
  WHERE vec_id % (SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM e) = 0
),
ac AS (
  SELECT a.vec_id, c.c_id,
         round(list_aggregate(list_transform(list_zip(a.v, c.cv), s -> s[1] * s[2]), 'sum')
               / (a.nrm * c.cnrm), 6) AS cs
  FROM n a CROSS JOIN c
),
assign AS (
  SELECT vec_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
    FROM ac
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, c_id FROM (
    SELECT vec_id, c_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id) AS rn
    FROM ac WHERE vec_id % 50 = 0
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.q_id, a.vec_id FROM probes p
  JOIN assign a ON a.c_id = p.c_id AND a.vec_id <> p.q_id
),
scored AS (
  SELECT cand.q_id, cand.vec_id,
         round(list_aggregate(list_transform(list_zip(q.v, d.v), s -> s[1] * s[2]), 'sum')
               / (q.nrm * d.nrm), 6) AS cos_sim
  FROM cand
  JOIN n q ON q.vec_id = cand.q_id
  JOIN n d ON d.vec_id = cand.vec_id
)
SELECT q_id, vec_id, cos_sim, rn FROM (
  SELECT q_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


def parquet_num_rows(sf_dir: str, table: str) -> int:
    """Row count from parquet FOOTER metadata — a pure-Python read, no
    Spark job, so lazy entries can size plan constants at construction
    without violating the no-jobs-at-construction contract
    (tests/test_bench_guard.py)."""
    import os

    import pyarrow.dataset as pads
    import pyarrow.parquet as papq

    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    if os.path.isdir(path):
        return pads.dataset(path, format="parquet").count_rows()
    return papq.ParquetFile(path).metadata.num_rows


def _normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, v DOUBLE[], nrm) — the normed vector table every ANN
    consumer shares (label rides along for the mining consumers:
    hard_negative_mining filters positives/negatives by it)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.expr(
                "aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            )
        ),
    )


@register_artifact("ivf_index")
def _ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF index ONCE per embeddings state — the offline
    index-build job of every ANN deployment (an IVF index is built once
    and SERVED; no serving query re-assigns the corpus). Same
    corpus-index-artifact pattern as the dedup/BPE/postings/graph
    artifacts (operators/artifacts.py, VERDICT r8 task 1); the build cost
    is reported via artifact_build_sec. Tables:

      normed/    : (vec_id, label, v, nrm) — the normed corpus, shared by
                   the scoring side of every consumer (label feeds the
                   hard-negative mining consumer's pos/neg split)
      centroids/ : (c_id, cv, cnrm)   — the √N coarse quantizer subset
                   (see ``ivf_modulus``)
      assign/    : (vec_id, c_id)     — nearest-centroid assignment
                   (struct-MIN argmin: one row per vector on the wire;
                   ties break asc c_id, identical to the oracle's rank)"""
    from ..operators.artifacts import artifact_dir, write_artifact_table

    m = ivf_modulus(parquet_num_rows(sf_dir, "embeddings"))

    def _build(stage: str) -> None:
        # one-time sweep of the pre-r9 bespoke assign-cache root this
        # artifact replaced (ADVICE r9 low: nothing pruned it anymore)
        from ..operators.artifacts import purge_retired_roots

        purge_retired_roots()
        n = _normed_embeddings(spark, sf_dir).cache()
        write_artifact_table(n, stage, "normed")
        c = n.filter(F.col("vec_id") % m == 0).select(
            F.col("vec_id").alias("c_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
        write_artifact_table(c, stage, "centroids")
        # Coarse-assignment scores, Arrow-vectorized (r13, §4.2 — the last
        # interpreted zip_with/aggregate fold on a build path; the r12
        # cosine-family rewrite covered the registered entries but this
        # builder kept paying ~20 us per (vector, centroid) fold: N x √N
        # folds per build). The codebook is collected to the driver —
        # exactly how an IVF trainer holds it (√N x dim: ~16 MB at 1e9
        # vectors) — and each Arrow batch accumulates dot products
        # per-DIMENSION in ascending order, bit-identical to the
        # sequential fold it replaces; the raw doubles ride back to the
        # JVM where round(.,6) and the struct-argmin tie-break stay in
        # the exact oracle-mirrored expressions. Verified exceptAll-
        # identical on BOTH the score table and the final assignment;
        # isolated min-of-2 x2 alternating: 0.76/0.67 -> 0.44/0.34 s.
        # The distributed interpreted-fold branch is kept for codebooks
        # past _IVF_DRIVER_CODEBOOK_CAP (forced-branch parity in
        # tests/test_strategy_switches.py).
        if c.count() <= _IVF_DRIVER_CODEBOOK_CAP:
            import numpy as np

            crows = sorted(c.collect(), key=lambda r: r["c_id"])
            C = np.vstack([np.asarray(r["cv"]) for r in crows])
            CN = np.array([r["cnrm"] for r in crows])
            CID = np.array([r["c_id"] for r in crows], dtype=np.int64)
            S = len(CID)
            block_rows = max(1, _IVF_SCORE_BLOCK_BYTES // (8 * S))

            def _scores(it):
                import pandas as pd

                for pdf in it:
                    for lo in range(0, len(pdf), block_rows):
                        blk = pdf.iloc[lo : lo + block_rows]
                        n_ = len(blk)
                        V = np.vstack(blk["v"].to_numpy())
                        dot = np.zeros((n_, S))
                        term = np.empty((n_, S))
                        for i in range(V.shape[1]):  # ascending dims == fold order
                            np.multiply(V[:, i][:, None], C[:, i][None, :], out=term)
                            np.add(dot, term, out=dot)
                        cs_raw = dot / (blk["nrm"].to_numpy()[:, None] * CN[None, :])
                        yield pd.DataFrame(
                            {
                                "vec_id": np.repeat(
                                    blk["vec_id"].to_numpy(), S
                                ).astype("int64"),
                                "c_id": np.tile(CID, n_),
                                "cs_raw": cs_raw.reshape(-1),
                            }
                        )

            ac = n.select("vec_id", "v", "nrm").mapInPandas(
                _scores, "vec_id long, c_id long, cs_raw double"
            ).select(
                "vec_id", "c_id", F.round(F.col("cs_raw"), 6).alias("cs")
            )
        else:
            dot_vc = F.expr(
                "aggregate(zip_with(v, cv, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            )
            ac = n.crossJoin(broadcast(c)).select(
                "vec_id",
                "c_id",
                F.round(dot_vc / (F.col("nrm") * F.col("cnrm")), 6).alias("cs"),
            )
        assign = (
            ac.groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cs")).alias("ncs"), F.col("c_id").alias("c_id")
                    )
                ).alias("b")
            )
            .select("vec_id", F.col("b.c_id").alias("c_id"))
        )
        write_artifact_table(assign, stage, "assign")
        n.unpersist()

    return artifact_dir(
        spark,
        sf_dir,
        name="ivf_index",
        version="v2",  # v2: normed/ carries label (hard-negative mining)
        source_table="embeddings",
        build=_build,
    )


def ivf_modulus(n_vecs: int) -> int:
    """Centroid-subset modulus: vec_id % m == 0 picks ~N/m centroids, and
    m = floor(sqrt(N)) keeps nlist ≈ √N — the classic IVF sizing that holds
    assignment work to N·√N and inverted-list length to √N. A FIXED modulus
    (the pre-r9 ``% 97``) makes nlist grow linearly with the corpus, so the
    coarse assignment cross-join goes quadratic: the r9 10× scale sweep
    (docs/scaling_r9.json) measured 0.54 s → 27.1 s (50×) at 10× data.
    Both engines derive m from the same COUNT so they stay in lockstep at
    any SF (DuckDB: FLOOR(SQRT(COUNT(*))); IEEE sqrt of a perfect square is
    exact, so floor matches isqrt)."""
    import math

    return max(1, math.isqrt(max(n_vecs, 0)))


@register(
    "ann_ivf_topk",
    oracle=_IVF_ORACLE,
    tags=("pipeline", "similarity", "ann"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-5, SERVING the materialized index: a
    deterministic coarse-quantizer subset (nlist ≈ √N — ``ivf_modulus``)
    plays the centroid table; every vector is assigned to its nearest
    centroid OFFLINE (``_ivf_index_dir``: normed/centroids/assign tables,
    built once per corpus state, cost reported via artifact_build_sec —
    no ANN deployment re-assigns the corpus per query); queries probe
    their 2 nearest centroids and search only those inverted lists. At
    100 TB each query touches ~nprobe/nlist of the data — the classic IVF
    trade. The oracle reproduces index build + probe end-to-end, so
    recall-vs-bruteforce is measurable in tests."""
    adir = _ivf_index_dir(spark, sf_dir)
    n = read_artifact_table(spark, adir, "normed")
    c = read_artifact_table(spark, adir, "centroids").select(
        "c_id", "cv", "cnrm"
    )
    assign = read_artifact_table(spark, adir, "assign")
    # Probe selection runs only over the QUERY subset (2% of vectors) ×
    # nlist — the filter reaches the normed scan, the top-2 window ranks
    # Q·nlist rows, and the O(N·nlist) assignment pass stays offline.
    dot_vc = F.expr(
        "aggregate(zip_with(v, cv, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )
    qc = (
        n.filter(F.col("vec_id") % 50 == 0)
        .crossJoin(broadcast(c))
        .select(
            "vec_id",
            "c_id",
            F.round(dot_vc / (F.col("nrm") * F.col("cnrm")), 6).alias("cs"),
        )
    )
    w_vc = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("c_id"))
    probes = (
        qc.withColumn("rn", F.row_number().over(w_vc))
        .filter(F.col("rn") <= 2)
        .select(F.col("vec_id").alias("q_id"), "c_id")
    )
    cand = broadcast(probes).join(assign, "c_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    # only query vectors broadcast for the fine scoring (2% of the corpus)
    qv = n.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    dot_qd = F.expr(
        "aggregate(zip_with(qv, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    )
    scored = (
        cand.join(n, "vec_id")
        .join(broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(dot_qd / (F.col("qn") * F.col("nrm")), 6).alias("cos_sim"),
        )
    )
    w_q = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w_q)).filter(F.col("rn") <= 5)


# ---------------------------------------------------------------------------
# Embedding feature extraction: per-label centroids
# ---------------------------------------------------------------------------


@register(
    "label_centroids",
    oracle="""
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
x AS (
  SELECT label, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS val FROM e
)
SELECT label, pos,
       round(CAST(sum(CAST(val AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6) AS centroid,
       count(*) AS n_vecs
FROM x GROUP BY 1, 2
""",
    tags=("pipeline", "similarity", "feature"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid computation (the KMeans M-step / the thing that
    produces real IVF centroid tables): posexplode to (label, dim) and
    decimal-exact mean per dimension — one shuffle keyed (label, dim), no
    driver-side vectors."""
    # No ensure_parallelism: the embeddings relation is narrow and the
    # vector math is cheap relative to a repartition round-trip (measured
    # at sf0.1: the extra shuffle costs ~0.25 s/query and saves nothing;
    # at scale the parquet scan has thousands of splits anyway).
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    return x.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Vocabulary statistics
# ---------------------------------------------------------------------------


@register(
    "vocab_top_tokens",
    oracle="""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1)
SELECT tok, n, rnk FROM (
  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM c
) WHERE rnk <= 50
""",
    tags=("pipeline", "text", "topk"),
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-50 by frequency. The global rank runs on the
    already-aggregated vocabulary table (distinct tokens ≪ corpus), so the
    single-partition window sort is bounded by vocabulary size, not data
    size."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 50)
        .select("tok", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# Multimodal: per-frame extraction from binary payloads
# ---------------------------------------------------------------------------


@register(
    "multimodal_frame_extract",
    oracle="""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n_bytes FROM documents
)
SELECT doc_id,
       CAST(t.j AS INTEGER) AS frame_idx,
       md5(text || CAST(t.j AS VARCHAR)) AS frame_fp,
       n_bytes
FROM d CROSS JOIN range(0, 7) t(j)
WHERE t.j < n_bytes % 7 + 1
""",
    tags=("pipeline", "multimodal"),
)
def multimodal_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling from a binary media column: mapInPandas "decodes" the
    payload, emits one row per sampled frame with a content fingerprint —
    the exploding-decode shape (1 input row → N output rows through Arrow)
    a real video/audio pipeline needs. The decoder is a deterministic fake
    (frame count from byte length, fingerprint = md5(payload || idx));
    swap it for ffmpeg/PIL on a real cluster — the Spark-side schema,
    batching, and fan-out stay identical."""
    import hashlib

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    payload = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))

    def _decode_frames(batches):
        import pandas as pd

        for pdf in batches:
            out_id, out_idx, out_fp, out_nb = [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(buf)
                n_frames = len(data) % 7 + 1
                for j in range(n_frames):
                    out_id.append(doc_id)
                    out_idx.append(j)
                    out_fp.append(
                        hashlib.md5(data + str(j).encode("utf-8")).hexdigest()
                    )
                    out_nb.append(len(data))
            yield pd.DataFrame(
                {
                    "doc_id": out_id,
                    "frame_idx": out_idx,
                    "frame_fp": out_fp,
                    "n_bytes": out_nb,
                }
            )

    return payload.mapInPandas(
        _decode_frames,
        schema="doc_id long, frame_idx int, frame_fp string, n_bytes long",
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster formation: connected components over LSH candidate pairs
# ---------------------------------------------------------------------------

# CTE prefix shared between dedup_clusters and dedup_cluster_rewrite: the
# recursive reachability minimum over the MinHash-LSH candidate graph.
_CC_CTES = _MINHASH_CTES.replace("WITH w AS", "WITH RECURSIVE w AS") + """
, edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
)"""

_DEDUP_CLUSTERS_ORACLE = _CC_CTES + """
SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
"""


@register_artifact("dedup_clusters")
def _dedup_clusters_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the corpus near-dup CLUSTER MAP (doc_id → cluster_id)
    once per corpus state — the seventh corpus-index artifact
    (operators/artifacts.py). A production pipeline never recomputes
    connected components inside every consumer of the dedup verdicts: a
    clustering job labels the corpus once, and splits / rewrites /
    curation read the label table. The build runs banded LSH over the
    MinHash signature artifact (``requires``: resolved, and built if
    absent, before this build's timer starts, so the signature seconds
    are logged once under their own name) and then the iterative
    min-label CC (the engine's iterative-algorithm surface, exercised
    and TIMED on every bench sweep via artifact_build_sec); the
    consumers' DuckDB oracles still re-derive reachability fresh
    (recursive CTE), so serving from the map stays hash-gated against an
    independent derivation. This was
    VERDICT r9 "what's wrong" #4's root cause: leakage_safe_splits,
    dedup_cluster_rewrite, and dedup_clusters each re-ran signatures +
    candidate join + the CC loop per query."""
    from ..operators.artifacts import artifact_dir, write_artifact_table
    from ..operators.graph import connected_components

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        # candidate edges only — the jaccard-scoring joins of the full
        # minhash_lsh_pairs plan are dead weight for CC (r12 session 4:
        # 1.99 -> 1.48 s isolated; pair-set parity exact)
        pairs = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
        cc = connected_components(
            docs, pairs, vertex_col="doc_id", src_col="doc_a", dst_col="doc_b"
        ).select(F.col("id").alias("doc_id"), "cluster_id")
        write_artifact_table(cc, stage, "clusters")

    return artifact_dir(
        spark,
        sf_dir,
        name="dedup_clusters",
        version=f"v1-h{_N_HASHES}b{_BAND_ROWS}",  # signature spec pin
        source_table="documents",
        build=_build,
        requires=(_minhash_signatures_dir,),
    )


@register(
    "dedup_clusters",
    oracle=_DEDUP_CLUSTERS_ORACLE,
    tags=("pipeline", "dedup", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster ids via connected components over the MinHash-LSH
    candidate graph (operators/graph.py): every document labeled with the
    smallest doc_id it is near-duplicate-connected to (itself if unique),
    SERVED from the materialized cluster-map artifact (built once per
    corpus state by ``_dedup_clusters_dir``, where the iterative min-label
    loop actually runs; ``connected_components`` remains the registered
    live iterative entry). The oracle is a recursive CTE computing the
    same reachability minimum from scratch."""
    adir = _dedup_clusters_dir(spark, sf_dir)
    return read_artifact_table(spark, adir, "clusters")


_CC_REWRITE_ORACLE = _CC_CTES + """
, cc AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
m AS (
  SELECT c.cluster_id, count(*) AS n_members,
         CAST(sum(d.n_chars) AS BIGINT) AS cluster_chars
  FROM cc c JOIN documents d ON d.doc_id = c.doc_id
  GROUP BY 1
)
SELECT c.doc_id, d.lang, d.n_chars, m.n_members, m.cluster_chars
FROM cc c
JOIN documents d ON d.doc_id = c.doc_id
JOIN m ON m.cluster_id = c.cluster_id
WHERE c.doc_id = c.cluster_id
"""


@register(
    "dedup_cluster_rewrite",
    oracle=_CC_REWRITE_ORACLE,
    # lazy since r10: the CC loop runs inside the dedup_clusters artifact
    # build (priced via artifact_build_sec), not at plan construction
    tags=("pipeline", "dedup", "graph", "curation"),
)
def dedup_cluster_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rewrite from duplicate clusters: keep exactly ONE document per
    near-duplicate connected component (the min-doc_id representative — the
    cluster_id itself under the min-label convention), carrying cluster
    provenance (member count, total chars absorbed) so downstream mixing
    can up-weight consolidated documents. This is the end-to-end "what a
    user actually ships" form of ``dedup_clusters``: pair-local keep rules
    (``corpus_curation``'s NOT EXISTS) drop BOTH endpoints' transitive
    friends unevenly, while the component rewrite guarantees one survivor
    per equivalence class.

    Scale: the component relation comes from the bounded/iterative CC
    operator (operators/graph.py — distributed min-label with lineage
    cuts); the provenance aggregate is one shuffle keyed cluster_id whose
    cardinality only shrinks with dedup rate; the representative filter
    doc_id = cluster_id is a pushed predicate, not a join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    cc = dedup_clusters(spark, sf_dir)
    sized = cc.join(docs, "doc_id")
    m = sized.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").alias("cluster_chars"),
    )
    return (
        sized.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(m, "cluster_id")
        .select("doc_id", "lang", "n_chars", "n_members", "cluster_chars")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation: quality gates + exact dedup + near-dup pruning
# ---------------------------------------------------------------------------

_CURATION_ORACLE = _MINHASH_CTES + """
, quality AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS uniq_ratio,
         md5(text) AS content_md5
  FROM documents
),
canon AS (
  SELECT doc_id, n_tokens, uniq_ratio,
         min(doc_id) OVER (PARTITION BY content_md5) AS canonical_id
  FROM quality
)
SELECT c.doc_id, c.n_tokens, round(c.uniq_ratio, 4) AS uniq_ratio
FROM canon c
WHERE c.n_tokens >= 20
  AND c.uniq_ratio >= 0.5
  AND c.doc_id = c.canonical_id
  AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.doc_b = c.doc_id)
"""


@register(
    "corpus_curation",
    oracle=_CURATION_ORACLE,
    tags=("pipeline", "dedup", "text", "flagship"),
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pre-training curation pass, composed from the engine's
    own operators: quality gates (≥20 tokens, ≥0.5 vocabulary diversity) →
    exact dedup (md5 canonical, smallest id survives) → near-dup pruning
    (drop the larger id of every MinHash-LSH candidate pair). Returns the
    kept corpus. Every stage is the same plan shape as its standalone query,
    fused by Catalyst into one pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    quality = docs.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        (F.size(F.array_distinct(ws)).cast("double") / F.size(ws)).alias(
            "uniq_ratio"
        ),
        F.md5("text").alias("content_md5"),
    )
    w = Window.partitionBy("content_md5")
    canon = quality.withColumn("canonical_id", F.min("doc_id").over(w))
    # candidate edges only (doc_b side): the jaccard-scoring joins of the
    # full minhash_lsh_pairs plan are dead weight here (r12 session 4)
    dup_bs = _lsh_candidate_pairs(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    return (
        canon.filter(
            (F.col("n_tokens") >= 20)
            & (F.col("uniq_ratio") >= 0.5)
            & (F.col("doc_id") == F.col("canonical_id"))
        )
        .join(dup_bs, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", F.round("uniq_ratio", 4).alias("uniq_ratio"))
    )


# ---------------------------------------------------------------------------
# Deterministic dataset splitting (reproducible sampling at corpus scale)
# ---------------------------------------------------------------------------


@register(
    "deterministic_splits",
    oracle="""
WITH assigned AS (
  SELECT doc_id, lang,
         CASE
           WHEN strpos('0123456789ab', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) > 0 THEN 'train'
           WHEN strpos('cd', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) > 0 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n, min(doc_id) AS first_doc_id
FROM assigned GROUP BY 1, 2
""",
    tags=("pipeline", "sampling"),
)
def deterministic_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed train/val/test assignment (75/12.5/12.5 by the first
    md5 nibble of the id): pure function of the key — stable across runs,
    machines, and engines, no sampling state to coordinate at 100 TB.
    Returns per-(lang, split) counts as the verification surface."""
    docs = load_table(spark, sf_dir, "documents")
    nibble = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(F.instr(F.lit("0123456789ab"), nibble) > 0, "train")
        .when(F.instr(F.lit("cd"), nibble) > 0, "val")
        .otherwise("test")
    )
    return (
        docs.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("first_doc_id"))
    )


# ---------------------------------------------------------------------------
# Scalar quantization of embeddings (int8 storage compression)
# ---------------------------------------------------------------------------


@register(
    "scalar_quantize_embeddings",
    oracle="""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
  FROM e
),
q AS (
  SELECT vec_id, scale,
         list_transform(v, x -> CAST(round(x / scale, 0) AS INTEGER)) AS qv,
         v
  FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale_r,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_checksum,
       round(sqrt(list_aggregate(
         list_transform(list_zip(v, qv), z -> (z[1] - z[2] * scale) * (z[1] - z[2] * scale)),
         'sum')), 6) AS recon_err
FROM q
""",
    tags=("pipeline", "similarity", "quantization"),
)
def scalar_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (max-abs / 127 scale) — the 4×
    storage compression step before ANN indexing at scale. Emits the scale,
    a checksum of the quantized codes, and the L2 reconstruction error —
    all computed in one projection (no shuffle at all)."""
    # No ensure_parallelism: the embeddings relation is narrow and the
    # vector math is cheap relative to a repartition round-trip (measured
    # at sf0.1: the extra shuffle costs ~0.25 s/query and saves nothing;
    # at scale the parquet scan has thousands of splits anyway).
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "scale",
        F.expr("array_max(transform(v, x -> abs(x))) / 127.0"),
    )
    q = s.withColumn(
        "qv", F.expr("transform(v, x -> CAST(round(x / scale, 0) AS INT))")
    )
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.expr("CAST(aggregate(qv, 0L, (a, x) -> a + x) AS BIGINT)").alias(
            "q_checksum"
        ),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(zip_with(v, qv, (a, b) -> (a - b * scale) * (a - b * scale)), "
                    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
                )
            ),
            6,
        ).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# Signed-random-projection LSH (the hyperplane-bucket similarity variant)
# ---------------------------------------------------------------------------

_SRP_PLANES = 8  # → 256 buckets

_SRP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
-- deterministic pseudo-hyperplanes: plane p, dim d → md5 nibble − 7.5
planes AS (
  SELECT p.p AS p, d.d AS d,
         CAST(strpos('0123456789abcdef',
              substr(md5(CAST(p.p AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)), 1, 1)) - 8.5
              AS DOUBLE) AS w
  FROM range(0, {_SRP_PLANES}) p(p) CROSS JOIN range(0, 64) d(d)
),
dots AS (
  SELECT e.vec_id, e.label, pl.p, sum(e.v[pl.d + 1] * pl.w) AS dot
  FROM e CROSS JOIN planes pl
  GROUP BY 1, 2, 3
),
sigs AS (
  SELECT vec_id, label,
         CAST(sum(CASE WHEN dot > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY 1, 2
)
SELECT bucket, count(*) AS n_vecs,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
       min(vec_id) AS first_vec_id
FROM sigs GROUP BY 1
"""


@register(
    "srp_lsh_buckets",
    oracle=_SRP_ORACLE,
    tags=("pipeline", "similarity", "lsh"),
)
def srp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH: 8 deterministic pseudo-hyperplanes
    (md5-derived weights, so the oracle reproduces the exact matrix) hash
    each vector to a 256-bucket signature; candidate pairs only form inside
    a bucket. This is the cosine-LSH alternative to the IVF path — no
    training, one scan, bucket skew visible in the output histogram."""
    # No ensure_parallelism here: the kernel is a cheap vectorized matmul, so
    # scan-split parallelism is plenty, and repartitioning a small input to 32
    # pandas-UDF tasks costs more in Python-worker fan-out than it saves
    # (measured +0.33 s at sf0.1).
    emb = load_table(spark, sf_dir, "embeddings")
    # The plane weights depend only on (plane, dim) — 8×64 CONSTANTS,
    # md5-nibble-derived so the oracle reproduces the exact matrix. Three
    # measured strategies at sf0.1 (2 000 × 64-dim vectors):
    #   1. round-1: md5 recomputed per element inside nested interpreted
    #      aggregate() lambdas — 3.80 s (512 md5s/vector, no codegen);
    #   2. weights inlined as 512 literal terms of a flat SQL expression —
    #      1.10 s, but ~0.8 s of that is Catalyst re-optimizing the
    #      4 000-node tree on EVERY execution (plan-build cost, not I/O);
    #   3. this: one Arrow-batched pandas_udf doing a numpy (n×64)·(64×8)
    #      matmul — 0.38 s locally, and the per-batch cost at scale is a BLAS
    #      matmul, the genuinely right kernel for dense linear algebra
    #      (the documented exception to "stay JVM-side").
    import hashlib

    import numpy as np

    from ..operators.vectorized import make_srp_bucket

    hexdigits = "0123456789abcdef"
    w_mat = np.array(
        [
            [
                hexdigits.index(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0])
                + 1
                - 8.5
                for d in range(64)
            ]
            for p in range(_SRP_PLANES)
        ],
        dtype=np.float64,
    )
    pow2 = (1 << np.arange(_SRP_PLANES)).astype(np.int64)
    srp_bucket = make_srp_bucket(w_mat, pow2)
    sigs = emb.select("vec_id", "label", srp_bucket(F.col("embedding")).alias("bucket"))
    return sigs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.countDistinct("label").cast("long").alias("n_labels"),
        F.min("vec_id").alias("first_vec_id"),
    )


# ---------------------------------------------------------------------------
# Multimodal resize stub — binary → binary transform with updated metadata
# ---------------------------------------------------------------------------


@register(
    "multimodal_resize",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS orig_bytes,
       octet_length(encode(text)) // 2 AS resized_bytes,
       md5(substr(text, 1, octet_length(encode(text)) // 2)) AS resized_fp,
       octet_length(encode(text)) % 640 + 1 AS orig_width,
       (octet_length(encode(text)) % 640 + 1) // 2 AS resized_width
FROM documents
""",
    tags=("pipeline", "multimodal"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stub: binary-in → binary-out through mapInPandas (the real
    pipeline would call PIL/ffmpeg; the fake halves the payload), returning
    the new payload's fingerprint + updated typed metadata. Proves the
    binary→binary Arrow round trip, not just binary→scalar."""
    import hashlib

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    payload = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))

    def _resize(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [],
                "orig_bytes": [],
                "resized_bytes": [],
                "resized_fp": [],
                "orig_width": [],
                "resized_width": [],
            }
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(buf)
                half = data[: len(data) // 2]
                out["doc_id"].append(doc_id)
                out["orig_bytes"].append(len(data))
                out["resized_bytes"].append(len(half))
                out["resized_fp"].append(hashlib.md5(half).hexdigest())
                out["orig_width"].append(len(data) % 640 + 1)
                out["resized_width"].append((len(data) % 640 + 1) // 2)
            yield pd.DataFrame(out)

    return payload.mapInPandas(
        _resize,
        schema=(
            "doc_id long, orig_bytes long, resized_bytes long, "
            "resized_fp string, orig_width long, resized_width long"
        ),
    )


# ---------------------------------------------------------------------------
# Python UDTF: overlapping token chunking (context-window preparation)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 32
_CHUNK_STEP = 24  # 8-token overlap


@register(
    "doc_chunks_udtf",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
starts AS (
  SELECT doc_id, ws, unnest(range(0, len(ws), {_CHUNK_STEP})) AS st FROM w
)
SELECT doc_id,
       CAST(st // {_CHUNK_STEP} AS INTEGER) AS chunk_idx,
       CAST(least(len(ws) - st, {_CHUNK_SIZE}) AS INTEGER) AS n_tokens,
       md5(array_to_string(list_slice(ws, st + 1, least(st + {_CHUNK_SIZE}, len(ws))), ' ')) AS chunk_fp
FROM starts
""",
    tags=("pipeline", "text", "udtf"),
)
def doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, 8-token overlap) —
    the context-window preparation step of an LLM data pipeline — implemented
    as a Python UDTF consumed via LATERAL join: one input row fans out to one
    row per chunk, with the chunk's content fingerprint. Demonstrates the
    pluggable table-function surface the reference never had (§2.8)."""
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, n_tokens int, chunk_fp string")
    class ChunkDoc:
        def eval(self, doc_id, text):
            toks = text.split(" ")
            idx, i = 0, 0
            while i < len(toks):
                chunk = toks[i : i + _CHUNK_SIZE]
                yield (
                    int(doc_id),
                    idx,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode("utf-8")).hexdigest(),
                )
                idx += 1
                i += _CHUNK_STEP

    spark.udtf.register("chunk_doc", ChunkDoc)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("nx_docs")
    return spark.sql(
        "SELECT c.* FROM nx_docs d, LATERAL chunk_doc(d.doc_id, d.text) c"
    )


# ---------------------------------------------------------------------------
# Stratified sampling, distinctive terms, sequence packing
# ---------------------------------------------------------------------------


@register(
    "stratified_sample",
    oracle="""
WITH b AS (
  SELECT doc_id, lang,
         strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS hi,
         strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS lo
  FROM documents
),
s AS (
  SELECT doc_id, lang, hi * 16 + lo AS bucket FROM b
)
SELECT doc_id, lang, bucket
FROM s
WHERE bucket < CASE WHEN lang = 'en' THEN 64 ELSE 192 END
""",
    tags=("pipeline", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — the language-rebalancing step of
    a training-data mix (downsample the dominant language to 25%, keep 75%
    of the rest). The keep decision is a pure function of the key (two md5
    nibbles → a 0..255 bucket compared to the stratum's rate), so the sample
    is reproducible on any engine and any cluster size with zero coordination
    — no sampling state, no shuffle, filter evaluated in the scan stage.
    At 100 TB this composes with deterministic_splits: same key-hash idiom,
    different nibble positions, so the two decisions stay independent."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    nib = "0123456789abcdef"
    hi = F.instr(F.lit(nib), F.substring(h, 1, 1)) - 1
    lo = F.instr(F.lit(nib), F.substring(h, 2, 1)) - 1
    bucket = (hi * 16 + lo).alias("bucket")
    rate = F.when(F.col("lang") == "en", 64).otherwise(192)
    return (
        docs.select("doc_id", "lang", bucket)
        .filter(F.col("bucket") < rate)
    )


@register(
    "doc_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
),
df AS (
  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
)
SELECT doc_id, tok, tf, df, rn FROM (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS rn
  FROM tf JOIN df USING (tok)
) WHERE rn <= 3
""",
    tags=("pipeline", "text", "tfidf"),
)
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms — TF-IDF keyword extraction with the
    ranking done on the exact integer pair (tf DESC, df ASC) instead of
    tf*log(N/df): same ordering for any monotone idf, and integer-exact
    across engines (float log() is libm-dependent and can flip borderline
    ranks).

    Plan (r5, VERDICT r4 task 8): the (doc, tok) tf aggregation needs NO
    shuffle at all — a document's tokens are one array, so tf comes from a
    per-row run-length pass over the SORTED token array (array_sort +
    boundary indices, O(n log n) per row, all HOFs in one projection) that
    explodes directly to distinct (doc, tok, tf) rows. That deletes the
    corpus-sized (doc, tok) exchange the previous shape paid (3 shuffles →
    2: the df count window over tok and the top-3 rank window over doc,
    both over the already-aggregated distinct-token frame). Measured at
    sf0.1: 0.71 s → 0.64 s; at 100 TB the win is the removed corpus
    shuffle, and the per-row cost stays O(n log n) regardless of how
    repetitive the document is (a distinct×filter row-local tf would be
    O(distinct·n))."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = (
        docs.withColumn("s", F.expr("array_sort(split(text, ' '))"))
        .withColumn(
            "starts",
            F.expr(
                "filter(sequence(0, size(s) - 1), "
                "i -> i = 0 OR element_at(s, i + 1) != element_at(s, i))"
            ),
        )
        .select(
            "doc_id",
            F.expr(
                """
        explode(transform(sequence(0, size(starts) - 1),
          j -> struct(element_at(s, element_at(starts, j + 1) + 1) AS tok,
                      CAST((CASE WHEN j + 2 <= size(starts)
                            THEN element_at(starts, j + 2)
                            ELSE size(s) END)
                           - element_at(starts, j + 1) AS BIGINT) AS tf)))
        """
            ).alias("e"),
        )
        .select("doc_id", "e.tok", "e.tf")
    )
    wtok = Window.partitionBy("tok").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        toks.select("doc_id", "tok", "tf", F.count(F.lit(1)).over(wtok).alias("df"))
        .select("doc_id", "tok", "tf", "df", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "token_budget_packing",
    oracle="""
WITH sized AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1 AS pack_bucket
  FROM documents
),
placed AS (
  SELECT doc_id, n_tokens, pack_bucket,
         CAST(sum(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) // 512 AS bin_id
  FROM sized
)
SELECT pack_bucket, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS packed_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM placed
GROUP BY 1, 2
""",
    tags=("pipeline", "packing", "window"),
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents are hash-scattered
    into 16 independent pack streams (md5 nibble of the id), and within each
    stream a running token total assigns docs to consecutive 512-token bins
    (bin = floor(pre-sum/512) — the streaming analogue of next-fit bin
    packing, deterministic given the doc order). Exactly-sequential packing
    is inherently serial; bucketing first is what makes it scale — each of
    the 16 (thousands, at 100 TB) streams sorts and cumsums independently
    after ONE hash exchange, and waste stays bounded because bins close only
    at the budget boundary. Output is the per-bin packing manifest."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    nib = "0123456789abcdef"
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (
            F.instr(
                F.lit(nib),
                F.substring(F.md5(F.col("doc_id").cast("string")), 3, 1),
            )
            - 1
        ).alias("pack_bucket"),
    )
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn(
        "bin_id",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long") / F.lit(512))
        .cast("long"),
    )
    return placed.groupBy("pack_bucket", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("packed_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
