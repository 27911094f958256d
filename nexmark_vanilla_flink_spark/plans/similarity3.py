"""Exact all-pairs set-similarity operators, round 6 — the two classic
inverted-index similarity-join shapes the corpus tier still lacked (no
reference counterpart; the reference stops at Nexmark analytics):

  * ``prefix_filter_jaccard_pairs`` — EXACT corpus-wide shingle-set
    Jaccard join via prefix filtering (PPJoin-style): unlike the blocked
    (`ngram_jaccard_pairs`) and probabilistic (`minhash_lsh_pairs`)
    variants, this finds *every* pair with J >= tau across the whole
    corpus, and still never forms the quadratic pair space — candidates
    only arise from docs sharing a shingle inside their rarest-first
    prefix.
  * ``tfidf_cosine_topk`` — sparse lexical cosine top-k through an
    inverted index: postings weighted by integer-scaled inverse document
    frequency, stop tokens pruned by a document-frequency cap so no
    posting list (and hence no join group) exceeds df_cap, dot products
    accumulated relationally.

Both stay entirely in codegen'd built-ins (explode / groupBy / HOFs —
no Python UDFs) and follow registry.py's determinism discipline:
candidate *generation* may be engine-specific, but the emitted relation
is defined by exact integer counts, so the DuckDB brute-force oracles
match hash-for-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..operators.artifacts import read_artifact_table, register_artifact
from ..operators.shingles import word_ngrams
from .registry import register

# ---------------------------------------------------------------------------
# prefix_filter_jaccard_pairs — exact Jaccard >= 0.9 via prefix filtering
# ---------------------------------------------------------------------------
# tau = 9/10 keeps every bound in exact integer arithmetic (the driver
# corpus is heavily templated — at tau=0.5 three quarters of ALL pairs
# qualify and the filter prunes nothing, so the near-dup threshold sits
# where the distribution actually separates):
#   required overlap   : J(a,b) >= t  =>  |a∩b| >= t * max(|a|,|b|)
#   prefix length      : p = |T| - ceil(9*|T|/10) + 1 = |T| - (9*|T|+9) DIV 10 + 1
#   length filter      : min(|a|,|b|) >= t * max(|a|,|b|)  <=>  10*min >= 9*max
# Proof sketch (standard PPJoin argument): order all tokens by a single
# global total order (document frequency asc, token asc — rarest first).
# If |a∩b| >= ceil(t*|T|) for both sides, a and b cannot each avoid the
# other inside their first |T| - ceil(t*|T|) + 1 ordered tokens, so any
# qualifying pair shares at least one *prefix* token and survives the
# prefix equi-join. Verification on full token arrays is exact, so the
# result is identical to the brute-force oracle — the filter only prunes
# the candidate space, never the answer.

# The oracle computes intersections through the inverted index (a
# posting-list equi-join — work ∝ sum(df²), bounded because shingle df is
# tiny) instead of walking C(n,2): J >= 0.9 implies a shared shingle, so
# restricting to pairs with i > 0 loses nothing. Same exact result, an
# independently-structured computation.
_PFX_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT DISTINCT doc_id, ws[j + 1] || ' ' || ws[j + 2] || ' ' || ws[j + 3] AS g
  FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 2, 0))) AS j
        FROM w)
),
sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
i AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       CAST(i.i AS BIGINT) AS n_common,
       round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 4) AS jaccard
FROM i
JOIN sz sa ON sa.doc_id = i.doc_a
JOIN sz sb ON sb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= 0.9
"""


@register_artifact("doc_postings")
def _postings_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the corpus shingle index ONCE per corpus state — the
    `_corpus_index_dir`/`_bpe_vocab_dir` deployment shape generalized in
    operators/artifacts.py (VERDICT r8 task 1): a production similarity
    service builds its inverted index in an indexing job and every
    consumer reads it as a table; re-deriving the posting relation, the
    global rarest-first prefix order, AND the idf-weighted index inside
    every query (the r7/r8 shape — plan `.cache()`s whose population was
    re-paid per timed run) put `prefix_filter_jaccard_pairs` at 18.5 s vs
    a 0.47 s oracle. Four tables, one corpus scan:

      postings/ : (doc_id, tok)      — distinct word-3-gram shingles
      sizes/    : (doc_id, sz)       — per-doc distinct-shingle count
      prefix/   : (doc_id, sz, tok)  — the tau=0.9 rarest-first prefix
      tfidf/    : (doc_id, tok, w)   — integer-idf-weighted postings,
                                       stop shingles (df > N/10) pruned

    Shingles, not unigrams: the driver corpus is built from a ~31-word
    template vocabulary, so unigram sets make every token a stop token
    (df ≈ n) and the prefix filter degenerates toward C(n,2) — measured
    48 s at sf0.1. The shingle vocabulary is ~27k with max df 25 at
    sf0.1: postings are short, the rarest-first prefix actually prunes,
    and the same feature space feeds the MinHash tier (pipeline.py).

    The version string pins the feature + filter spec (3-gram shingles,
    tau = 9/10, idf scale 1000, df cap N/10) — bump it if any of those
    change (ADVICE r8 medium)."""
    from ..operators.artifacts import artifact_dir, write_artifact_table

    def _build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        ws = docs.select("doc_id", F.split("text", " ").alias("ws"))
        tf_expr = (
            ws.select(
                "doc_id",
                F.explode(word_ngrams("ws", 3)).alias("tok"),
            )
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        # Materialize the shared tf relation ONCE as scratch parquet inside
        # the stage dir (r12; was a plan `.cache()` whose population paid
        # the row-to-InMemoryRelation conversion on top of the corpus
        # scan — this builder is the build-phase wall limiter, and the
        # scratch-parquet form measured 8.2 -> 3.8 s cold / 3.0 -> 2.7 s
        # warm with all four published tables exceptAll-identical). All
        # FOUR outputs then derive from the scratch scan as concurrent
        # jobs; the scratch is deleted before publication.
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        tf_dir = f"{stage}/_tf"
        tf_expr.write.mode("overwrite").parquet(tf_dir)
        tf = spark.read.parquet(tf_dir)
        toks = tf.select("doc_id", "tok")
        sizes = tf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        # Two-wave schedule (r13, VERDICT r12 task 4 — §1.2 don't recompute
        # what a sibling already materialized): prefix and tfidf each
        # RE-AGGREGATED dfreq (and prefix also sizes) from the tf scan
        # inside their own plans — two extra full passes + hash aggs of the
        # 260 K-row tf relation per build. Wave 1 writes postings + sizes
        # (published) + dfreq (vocab-bounded scratch, deleted before
        # publication); wave 2's prefix/tfidf then read those small tables
        # back with REAL on-disk size stats, so the planner broadcasts them
        # from actual bytes instead of agg estimates. Isolated min-of-3
        # A/B: prefix 1.35 -> 0.68 s, tfidf 1.03 -> 0.32 s, plans lose the
        # in-plan re-aggregation exchanges (10 -> 6 / 8 -> 6), both tables
        # exceptAll-identical both directions.
        dfreq_dir = f"{stage}/_dfreq"
        with ThreadPoolExecutor(max_workers=3) as ex:
            for fut in [
                ex.submit(write_artifact_table, toks, stage, "postings"),
                ex.submit(write_artifact_table, sizes, stage, "sizes"),
                ex.submit(
                    tf.groupBy("tok")
                    .agg(F.count(F.lit(1)).alias("df"))
                    .write.mode("overwrite")
                    .parquet,
                    dfreq_dir,
                ),
            ]:
                fut.result()
        dfreq = spark.read.parquet(dfreq_dir)
        sizes_m = read_artifact_table(spark, stage, "sizes")
        # one global total order: (df asc, tok asc). Per-doc prefix = one
        # row_number window over the doc's postings in that order — a
        # single doc_id exchange whose partitions are posting-list-sized.
        # |doc| comes from joining the published sizes table (shares the
        # window's doc_id clustering; at corpus scale the optimizer picks
        # broadcast/SMJ by size) instead of a second count-over-partition
        # Window exec (r12: prefix was the slowest dependent, 1.74 s).
        w_rank = Window.partitionBy("doc_id").orderBy("df", "tok")
        prefix = (
            toks.join(dfreq, "tok")
            .join(sizes_m, "doc_id")
            .withColumn("rn", F.row_number().over(w_rank))
            .filter(
                F.col("rn")
                <= F.col("sz") - F.expr("(9 * sz + 9) DIV 10") + F.lit(1)
            )
            .select("doc_id", "sz", "tok")
        )
        n1 = docs.agg(F.count("*").alias("n_docs"))
        tfidf = (
            tf.join(dfreq, "tok")
            .crossJoin(F.broadcast(n1))
            .filter(F.col("df") <= F.expr("n_docs DIV 10"))
            # true integer DIV (not double-divide-then-truncate: a 0.5-ulp
            # round-up across an integer boundary would break exactness)
            .withColumn("w", F.expr("tf * ((n_docs * 1000) DIV df)"))
            .select("doc_id", "tok", "w")
        )
        with ThreadPoolExecutor(max_workers=2) as ex:
            for fut in [
                ex.submit(write_artifact_table, prefix, stage, "prefix"),
                ex.submit(write_artifact_table, tfidf, stage, "tfidf"),
            ]:
                fut.result()
        shutil.rmtree(tf_dir, ignore_errors=True)
        shutil.rmtree(dfreq_dir, ignore_errors=True)

    return artifact_dir(
        spark,
        sf_dir,
        name="doc_postings",
        version="v1-g3-t90-s1000-c10",
        source_table="documents",
        build=_build,
    )


def _doc_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skinny (doc_id, shingle) posting relation, read from the
    materialized per-corpus index (`_postings_index_dir`)."""
    return read_artifact_table(
        spark, _postings_index_dir(spark, sf_dir), "postings"
    )


def _doc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_artifact_table(
        spark, _postings_index_dir(spark, sf_dir), "sizes"
    )


def _prefix_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from the rarest-token prefix join —
    a provable superset of every pair with J >= 0.9, and the relation
    whose size (<< C(n,2)) is the point of the filter
    (tests/test_similarity_quality.py pins the pruning). The prefix
    relation itself comes from the materialized index."""
    pref = read_artifact_table(
        spark, _postings_index_dir(spark, sf_dir), "prefix"
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "tok"
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "tok"
    )
    return (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: a true pair needs 10*min(|a|,|b|) >= 9*max(|a|,|b|)
        .filter(
            F.lit(10) * F.least("sz_a", "sz_b")
            >= F.lit(9) * F.greatest("sz_a", "sz_b")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


@register(
    "prefix_filter_jaccard_pairs",
    oracle=_PFX_ORACLE,
    tags=("pipeline", "dedup", "jaccard", "prefix-filter"),
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide shingle-set Jaccard pairs (J >= 0.9) with PPJoin-style
    prefix filtering. The oracle recomputes every intersection through the
    inverted index; this plan additionally prefix-prunes: candidates
    come from an equi-join of rarest-shingle
    prefixes (plus the 10*min>=9*max length filter), then only candidates
    are verified with exact intersections — computed RELATIONALLY from the
    materialized posting table (candidate ⋈ postings_a ⋈ postings_b on
    shingle), so verification work is candidate-tokens, stays
    skinny/codegen, and never materializes per-doc arrays twice. Every
    stage is linear in the posting lists — the quadratic blowup of a naive
    self-join is structurally impossible, and unlike LSH there are no
    false negatives. Postings/prefix/sizes come from the once-per-corpus
    index artifact (`_postings_index_dir`) — the indexing-job deployment
    shape; the steady-state query never re-derives them."""
    toks = _doc_postings(spark, sf_dir)
    sz = _doc_sizes(spark, sf_dir)
    cand = _prefix_candidates(spark, sf_dir)
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    u = F.col("sz_a") + F.col("sz_b") - F.col("i")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.col("i").cast("long"))
        .withColumn("jac_exact", F.col("i").cast("double") / u)
        # filter on the EXACT ratio (identical rationals in both engines),
        # round only for display — rounding before the filter would admit
        # J in [0.89995, 0.9) pairs the prefix bound does not guarantee.
        .filter(F.col("jac_exact") >= 0.9)
        .select(
            "doc_a", "doc_b", "n_common", F.round("jac_exact", 4).alias("jaccard")
        )
    )


# ---------------------------------------------------------------------------
# tfidf_cosine_topk — inverted-index sparse cosine, integer-exact weights
# ---------------------------------------------------------------------------
# Weights are integer-scaled inverse document frequency:
#   idf_s = (N * 1000) DIV df        (BIGINT — no libm, no cross-engine ulp)
#   w     = tf * idf_s               (tf = raw term count in the doc)
# Stop tokens (df > N DIV 10) are pruned from the index — the standard
# posting-list cap that bounds every join group (same role as winnow's
# stop-fingerprint df cap). Dot products and squared norms are sums of
# integer products accumulated exactly — decimal(38,0) in Spark, HUGEINT
# in the oracle — so they cannot drift or overflow at any corpus size;
# only the final ratio is a double.

_TFIDF_ORACLE = """
WITH n AS (SELECT count(*) AS n_docs FROM documents),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (
    SELECT doc_id, ws[j + 1] || ' ' || ws[j + 2] || ' ' || ws[j + 3] AS tok
    FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 2, 0))) AS j
          FROM w)
  )
  GROUP BY 1, 2
),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
post AS (
  SELECT t.doc_id, t.tok,
         t.tf * ((n.n_docs * 1000) // d.df) AS w
  FROM tf t, dfreq d, n
  WHERE t.tok = d.tok AND d.df <= n.n_docs // 10
),
nrm AS (
  SELECT doc_id, sqrt(CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm
  FROM post GROUP BY 1
),
dot AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(CAST(a.w AS HUGEINT) * b.w) AS DOUBLE) AS dot
  FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT d.doc_a, d.doc_b,
         round(d.dot / (na.nrm * nb.nrm), 4) AS cos_sim,
         row_number() OVER (
           PARTITION BY d.doc_a
           ORDER BY d.dot / (na.nrm * nb.nrm) DESC, d.doc_b
         ) AS rn
  FROM dot d
  JOIN nrm na ON na.doc_id = d.doc_a
  JOIN nrm nb ON nb.doc_id = d.doc_b
)
SELECT doc_a, doc_b, cos_sim, CAST(rn AS BIGINT) AS rn
FROM scored WHERE rn <= 3
"""


@register(
    "tfidf_cosine_topk",
    oracle=_TFIDF_ORACLE,
    tags=("pipeline", "similarity", "tfidf"),
)
def tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical cosine top-3 per document through an inverted index
    over word-3-gram shingle features: integer-scaled idf weights (exact —
    no transcendental functions to disagree across engines), stop shingles
    dropped by the df cap so the widest posting list is df_cap entries,
    pairwise dot products built by a posting-list self-join. Complements the dense-embedding cosine ops
    (`cosine_topk_bruteforce`, `ann_ivf_topk`): same contract, lexical
    feature space. DECIMAL(38,0) accumulators keep sums exact at any
    scale; the per-doc_a top-k window runs over candidate pairs (already
    sub-quadratic thanks to the df cap), not the corpus.

    The weighted inverted index (doc_id, tok, w) is read from the
    once-per-corpus index artifact (`_postings_index_dir`) — its three
    consumers here (norms + both sides of the dot-product join) scan a
    skinny parquet table instead of re-deriving the shingle tf + idf
    weighting per consumer (the r7/r8 plan-cache shape whose population
    was re-paid inside every timed run: 4.4 s vs a 1.0 s oracle)."""
    post = read_artifact_table(
        spark, _postings_index_dir(spark, sf_dir), "tfidf"
    )
    # products via decimal(19,0) factors -> exact decimal(38,0) sums (the
    # oracle uses HUGEINT for the same exactness); DOUBLE only at the end
    wd = F.col("w").cast("decimal(19,0)")
    nrm = post.groupBy("doc_id").agg(
        F.sqrt(F.sum(wd * wd).cast("double")).alias("nrm")
    )
    pa = post.select(F.col("doc_id").alias("doc_a"), "tok", F.col("w").alias("wa"))
    pb = post.select(F.col("doc_id").alias("doc_b"), "tok", F.col("w").alias("wb"))
    # SHUFFLE_HASH over the default sort-merge: both sides are the same
    # posting relation hash-sharded by tok, the per-partition build side
    # is postings/parts (bounded by the df cap x sized partitions — the
    # standard posting-join shape at any scale), and skipping the two
    # 260k-row string sorts is worth ~0.6 s at sf0.1 (measured min-of-3:
    # SMJ 1.97 s, shuffle-hash 1.33 s).
    # ONE exchange serves both the pair aggregation and the top-k window:
    # hash-partitioning on doc_a alone satisfies the groupBy's clustered
    # distribution on (doc_a, doc_b) — equal pairs share a doc_a — and the
    # downstream Window.partitionBy(doc_a) then needs no second shuffle of
    # the ~n_pairs scored rows (measured min-of-2 x3 alternating: 2.11 vs
    # 1.48 s at sf0.1, plan 8 -> 7 Exchanges, exceptAll-identical).
    dot = (
        pa.join(pb.hint("shuffle_hash"), "tok")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .repartition("doc_a")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.col("wa").cast("decimal(19,0)") * F.col("wb").cast("decimal(19,0)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    scored = (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("score", F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")))
    )
    w = Window.partitionBy("doc_a").orderBy(F.desc("score"), F.asc("doc_b"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("doc_a", "doc_b", F.round("score", 4).alias("cos_sim"), "rn")
    )
