"""Round-3 curation/similarity additions (no reference counterpart —
BASELINE.json north-star operators for the 100 TB training-data pipeline):

* asymmetric n-gram CONTAINMENT dedup (embedded duplicates symmetric
  Jaccard misses) with a df-capped inverted index;
* product-quantization codes + k-means refine step — the memory and
  training halves of the ANN path (`ann_ivf_topk` is the query half);
* audio-style windowed feature extraction over binary payloads
  (Arrow + numpy reduceat);
* exact mergeable HISTOGRAM quantiles and a count-min sketch AS DATA —
  the two deterministic, cross-engine-exact sketch patterns;
* sampling: exact-k bottom-k per group, mixture-rebalanced corpus
  sampling, leakage-safe train/val splits hashed from dedup cluster ids;
* telemetry: cross-source duplication matrix, per-gate curation funnel;
* text normalization with before/after fingerprints.

Determinism discipline matches `plans/pipeline.py`: md5 digests, doubles
only through fixed-order folds or DECIMAL-exact sums, round(…, 6) at the
end, counts as BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..operators.parallelism import ensure_parallelism
from ..operators.shingles import _N_HASHES, word_ngrams
from ..sources.tables import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Asymmetric containment near-dup (inverted-index candidate generation)
# ---------------------------------------------------------------------------

_CONT_N = 3  # 3-word shingles
_CONT_DF_CAP = 100  # drop shingles in >100 docs: non-discriminative
_CONT_MIN = 0.8  # emit pairs where either direction's containment ≥ 0.8

_CONTAIN_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
         md5(ws[j + 1] || ' ' || ws[j + 2] || ' ' || ws[j + 3]) AS h
  FROM (SELECT doc_id, ws,
               unnest(range(0, greatest(len(ws) - {_CONT_N - 1}, 0))) AS j
        FROM w)
),
df AS (SELECT h, count(*) AS df FROM g GROUP BY h),
gk AS (SELECT g.doc_id, g.h FROM g JOIN df ON g.h = df.h
       WHERE df.df <= {_CONT_DF_CAP}),
sizes AS (SELECT doc_id, count(*) AS n FROM gk GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT co.doc_a, co.doc_b,
       CAST(co.n_shared AS BIGINT) AS n_shared,
       round(co.n_shared / CAST(sa.n AS DOUBLE), 6) AS cont_a,
       round(co.n_shared / CAST(sb.n AS DOUBLE), 6) AS cont_b
FROM co
JOIN sizes sa ON sa.doc_id = co.doc_a
JOIN sizes sb ON sb.doc_id = co.doc_b
WHERE co.n_shared >= {_CONT_MIN} * least(sa.n, sb.n)
"""


@register(
    "ngram_containment_pairs",
    oracle=_CONTAIN_ORACLE,
    tags=("pipeline", "dedup", "text"),
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: pairs where ≥80% of the SMALLER document's
    distinct 3-word shingles appear in the other document — the
    embedded-duplicate signal (quotes, concatenations, page chrome around a
    repost) that symmetric Jaccard misses when the host is much larger.
    Returns both directions' containments so the curation policy can pick
    subset-of vs superset-of handling.

    Scale: inverted-index candidate generation SERVED from the
    materialized corpus shingle index (the ``doc_postings`` artifact,
    plans/similarity3.py — identical 3-word-shingle feature space, built
    once per corpus state, cost in artifact_build_sec): this entry used
    to re-derive the explode+digest+df stage from the raw corpus per run
    (1.66 s at sf0.1 vs a 0.46 s oracle — VERDICT r9 "what's wrong" #2's
    artifact-miss cohort). The md5 in the oracle is only a compact join
    key; the raw shingle string keys the same posting relation, so the
    emitted pairs are unchanged. Shingles in more than {df_cap} documents
    are dropped before the join (prefix-filtering: a shingle shared by
    thousands of docs identifies nothing and its posting list is the
    quadratic hazard). The pair count + two size joins are uniform-key
    hash joins off the artifact."""
    from .similarity3 import _doc_postings

    g = _doc_postings(spark, sf_dir).select("doc_id", F.col("tok").alias("h"))
    # df on the posting relation (count window), then the cap filter —
    # per-doc contributions are 0/1 because the artifact stores DISTINCT
    # shingles per doc
    whf = Window.partitionBy("h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gk = (
        g.select("doc_id", "h", F.count(F.lit(1)).over(whf).alias("df"))
        .filter(F.col("df") <= _CONT_DF_CAP)
        .drop("df")
        .cache()
    )
    sizes = gk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    co = (
        gk.select("doc_id", "h")
        .join(
            gk.select(F.col("doc_id").alias("doc_b"), "h"),
            "h",
        )
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        co.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("n_shared")
            >= F.lit(_CONT_MIN) * F.least(F.col("na"), F.col("nb"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("na").cast("double"), 6).alias(
                "cont_a"
            ),
            F.round(F.col("n_shared") / F.col("nb").cast("double"), 6).alias(
                "cont_b"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: 64-dim float vectors → 4 codebook ids (+ error)
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (4 × 16 = 64)
_PQ_K = 16  # centroids per subspace: the subvectors of vec_id 0..15

_PQ_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
sub AS (
  SELECT vec_id, t.s AS s,
         list_slice(v, t.s * {_PQ_SUB} + 1, (t.s + 1) * {_PQ_SUB}) AS sv
  FROM e CROSS JOIN range(0, {_PQ_M}) t(s)
),
cent AS (
  SELECT vec_id AS k, s, sv AS cv FROM sub WHERE vec_id < {_PQ_K}
),
d AS (
  SELECT sub.vec_id, sub.s, cent.k,
         list_aggregate(
           list_transform(list_zip(sub.sv, cent.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum') AS d2,
         row_number() OVER (PARTITION BY sub.vec_id, sub.s
                            ORDER BY list_aggregate(
                              list_transform(list_zip(sub.sv, cent.cv),
                                             p -> (p[1] - p[2]) * (p[1] - p[2])),
                              'sum'), cent.k) AS rn
  FROM sub JOIN cent ON cent.s = sub.s
)
SELECT vec_id,
       CAST(max(CASE WHEN s = 0 THEN k END) AS BIGINT) AS c0,
       CAST(max(CASE WHEN s = 1 THEN k END) AS BIGINT) AS c1,
       CAST(max(CASE WHEN s = 2 THEN k END) AS BIGINT) AS c2,
       CAST(max(CASE WHEN s = 3 THEN k END) AS BIGINT) AS c3,
       round(max(CASE WHEN s = 0 THEN d2 END)
             + max(CASE WHEN s = 1 THEN d2 END)
             + max(CASE WHEN s = 2 THEN d2 END)
             + max(CASE WHEN s = 3 THEN d2 END), 6) AS recon_err
FROM d WHERE rn = 1
GROUP BY vec_id
"""


@register(
    "pq_codes",
    oracle=_PQ_ORACLE,
    tags=("pipeline", "similarity", "quantization"),
)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization assignment — the memory half of the ANN scale
    path: each 64-dim vector splits into 4 subvectors of 16 dims, each
    assigned to its nearest of 16 deterministic codebook centroids (the
    subvectors of vec_id 0..15 — a seeded stand-in for trained k-means
    codebooks; assignment is the scale-critical operator, training is a
    bounded offline step). Output: 4 code ids (4 bytes replaces 256 bytes
    of float32 — 64× compression) plus the exact reconstruction error.

    Scale: the codebook is 64 tiny rows — BROADCAST; the corpus streams
    through one map-side join (16 distance folds per subvector, all
    zip_with/aggregate JVM expressions), then ONE fused argmin+pivot
    aggregate on vec_id (conditional struct-mins, partial map-side).
    Distances fold in fixed subvector order on both engines, so the
    doubles compare exactly. A 100 TB embedding table is one scan + one
    uniform exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    sub = e.select(
        "vec_id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("s"),
    ).select(
        "vec_id",
        "s",
        F.expr(f"slice(v, s * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv"),
    )
    cent = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("k"), "s", F.col("sv").alias("cv")
    )
    d2 = F.expr(
        "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    d = sub.join(broadcast(cent), "s").select(
        "vec_id", "s", "k", d2.alias("d2")
    )
    # Per-subspace argmin AND the per-vector pivot fused into ONE
    # groupBy(vec_id): min(when(s == i, struct(d2, k))) is a conditional
    # struct-MIN (nulls ignored) that partial-aggregates map-side under the
    # broadcast join — one exchange of one row per vector, replacing the
    # former row_number window (vec_id×s×K rows shuffled) plus a second
    # pivot exchange. Tie-break (d2, k) matches the oracle's row_number.

    def _b(i: int):
        return F.min(
            F.when(
                F.col("s") == i,
                F.struct(F.col("d2").alias("d2"), F.col("k").alias("k")),
            )
        ).alias(f"b{i}")

    best = d.groupBy("vec_id").agg(_b(0), _b(1), _b(2), _b(3))
    return best.select(
        "vec_id",
        F.col("b0.k").alias("c0"),
        F.col("b1.k").alias("c1"),
        F.col("b2.k").alias("c2"),
        F.col("b3.k").alias("c3"),
        F.round(
            F.col("b0.d2") + F.col("b1.d2") + F.col("b2.d2") + F.col("b3.d2"), 6
        ).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# Multimodal: audio-style windowed feature extraction over binary payloads
# ---------------------------------------------------------------------------

_PCM_WIN = 64  # samples per analysis window


_PCM_ORACLE = f"""
WITH s AS (
  SELECT doc_id, j // {_PCM_WIN} AS win,
         ord(substr(text, CAST(j AS INT) + 1, 1)) AS v
  FROM (SELECT doc_id, text, unnest(range(0, length(text))) AS j
        FROM documents)
)
SELECT doc_id, win,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(v * v) AS BIGINT) AS energy,
       CAST(max(v) AS BIGINT) AS peak
FROM s GROUP BY doc_id, win
"""


@register(
    "multimodal_audio_windows",
    oracle=_PCM_ORACLE,
    tags=("pipeline", "multimodal"),
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction plumbing: opaque binary payloads decoded as
    unsigned-8-bit PCM and reduced to per-window energy/peak features — the
    exact shape of a real audio pipeline (frombuffer → vectorized windowed
    reductions), with the codec step a deterministic stand-in (payload =
    the document's utf-8 bytes; swap for a real PCM/ffmpeg decode on a
    cluster with codecs; the corpus is ASCII so byte values equal the
    oracle's codepoints). All features are INTEGER-exact (sum of squares,
    max), so the DuckDB oracle hash-matches bit-for-bit.

    Scale: Arrow-batched mapInPandas; inside each batch the windowed
    reductions are numpy reduceat calls (no per-window Python loop).
    Payloads never shuffle — the feature rows (5 small ints per window) are
    the only thing leaving the scan stage."""
    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    payload = ensure_parallelism(docs).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def _pcm_windows(batches):
        for pdf in batches:
            out = {"doc_id": [], "win": [], "n_samples": [], "energy": [], "peak": []}
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                a = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.int64)
                if len(a) == 0:
                    continue
                idx = np.arange(0, len(a), _PCM_WIN)
                energy = np.add.reduceat(a * a, idx)
                peak = np.maximum.reduceat(a, idx)
                n = np.diff(np.append(idx, len(a)))
                k = len(idx)
                out["doc_id"].extend([doc_id] * k)
                out["win"].extend(range(k))
                out["n_samples"].extend(n.tolist())
                out["energy"].extend(energy.tolist())
                out["peak"].extend(peak.tolist())
            yield pd.DataFrame(out)

    return payload.mapInPandas(
        _pcm_windows,
        schema="doc_id long, win long, n_samples long, energy long, peak long",
    )


# ---------------------------------------------------------------------------
# Histogram quantiles: the EXACT, mergeable quantile pattern for 100 TB
# ---------------------------------------------------------------------------

_HQ_BINS = 1000
_HQ_LO, _HQ_HI = 0.0, 500.0  # events.value domain (generator emits 0..~490)


_HQ_ORACLE = f"""
WITH b AS (
  SELECT event_type,
         least(CAST(floor((value - {_HQ_LO}) / (({_HQ_HI} - {_HQ_LO}) / {_HQ_BINS})) AS BIGINT),
               {_HQ_BINS - 1}) AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS total
  FROM b
)
SELECT event_type,
       CAST(min(CASE WHEN cum >= 0.50 * total THEN bin END) AS BIGINT) AS p50_bin,
       CAST(min(CASE WHEN cum >= 0.95 * total THEN bin END) AS BIGINT) AS p95_bin,
       CAST(min(CASE WHEN cum >= 0.99 * total THEN bin END) AS BIGINT) AS p99_bin,
       CAST(sum(n) AS BIGINT) AS n_rows
FROM c GROUP BY event_type
"""


@register(
    "histogram_quantiles",
    oracle=_HQ_ORACLE,
    tags=("analytics", "quantile"),
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram quantiles — the DETERMINISTIC scale pattern for
    percentiles over 100 TB (the exact complement to `approx_user_stats`'
    sketches): bin the value domain into 1000 fixed buckets, one map-side
    combinable groupBy, then read p50/p95/p99 off the cumulative counts of
    the (tiny) per-group histogram. Unlike exact sort-based percentiles
    (global sort = the anti-pattern) or engine-specific sketches
    (un-oracle-able), the histogram is mergeable, one-pass, and
    bit-reproducible across engines — resolution is the bin width, chosen
    by the domain.

    Scale: ONE corpus-sized shuffle of ((event_type, bin), partial count);
    the quantile windows run over ≤1000 rows per group."""
    ev = load_table(spark, sf_dir, "events")
    width = (_HQ_HI - _HQ_LO) / _HQ_BINS
    b = ev.groupBy(
        "event_type",
        F.least(
            F.floor((F.col("value") - _HQ_LO) / width).cast("long"),
            F.lit(_HQ_BINS - 1),
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    c = b.select(
        "event_type",
        "bin",
        "n",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wtot).alias("total"),
    )

    def _q(p: float, name: str):
        return F.min(
            F.when(F.col("cum") >= F.lit(p) * F.col("total"), F.col("bin"))
        ).alias(name)

    return c.groupBy("event_type").agg(
        _q(0.50, "p50_bin"),
        _q(0.95, "p95_bin"),
        _q(0.99, "p99_bin"),
        F.sum("n").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Consistent bottom-k sampling per group (exact-k, coordination-free)
# ---------------------------------------------------------------------------

_BK_K = 5


_BK_ORACLE = f"""
SELECT lang, doc_id, rk
FROM (
  SELECT lang, doc_id,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
              AS BIGINT) AS rk
  FROM documents
)
WHERE rk <= {_BK_K}
"""


@register(
    "bottomk_consistent_sample",
    oracle=_BK_ORACLE,
    tags=("pipeline", "sampling"),
)
def bottomk_consistent_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k consistent sampling per group: the k documents per language
    with the smallest md5(doc_id) — the distributed bottom-k sketch. Unlike
    rand()-based sampling it is deterministic, replayable across engines
    and retries, and STABLE UNDER GROWTH: a doc stays sampled until k
    smaller hashes arrive, so daily re-runs overlap maximally (the property
    eval-set construction and A/B slicing need). Complements
    `stratified_sample` (hash-threshold = fractional rate, no exact k) and
    `deterministic_splits` (partition assignment).

    Scale: the rank rides ONE exchange on the group key, and
    WindowGroupLimit pushes the k-cutoff below the shuffle (each map task
    forwards only its local bottom-k) — the classic bottom-k merge, for
    free from the optimizer."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= _BK_K)
    )


# ---------------------------------------------------------------------------
# Dedup telemetry: cross-source duplication matrix
# ---------------------------------------------------------------------------


def _source_matrix_oracle() -> str:
    from .pipeline import _MINHASH_CTES

    return _MINHASH_CTES + """
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = pairs.doc_a
JOIN documents db ON db.doc_id = pairs.doc_b
GROUP BY 1, 2
"""


@register(
    "source_dup_matrix",
    oracle=_source_matrix_oracle(),
    tags=("pipeline", "dedup", "analytics"),
)
def source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup TELEMETRY — which source pairs leak into each other: MinHash
    near-dup candidate pairs joined back to document metadata and counted
    per unordered (source, source) pair. The numbers a curation team reads
    before deciding what to crawl less of and which pipelines re-ingest
    each other's output; diagonal entries (same source twice) measure
    intra-source redundancy. Shares the `minhash_lsh_pairs` plan verbatim,
    so telemetry counts exactly what the dedup pass would drop.

    Scale: the pair frame is tiny relative to the corpus (candidates, not
    documents); the two metadata joins hash on doc_id (broadcast when the
    doc dimension fits) and the matrix aggregate has |sources|² keys."""
    from .pipeline import _lsh_candidate_pairs

    # candidate edges only: the jaccard-scoring joins of the full
    # minhash_lsh_pairs plan are dead weight here (r12 session 4)
    pairs = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ma = meta.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    mb = meta.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Mixture-rebalanced sampling: domain weights applied as a deterministic
# per-document sampling decision
# ---------------------------------------------------------------------------

_MIX_HEX = 8  # uniform draw = first 8 md5 hex chars / 16^8


_MIX_SAMPLE_ORACLE = f"""
WITH per_src AS (
  SELECT lang, source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
),
rates AS (
  SELECT lang, source,
         least(CAST(sum(n_tokens) OVER () AS DOUBLE)
               / (count(*) OVER () * n_tokens), 1.0) AS rate
  FROM per_src
)
SELECT d.doc_id, d.lang, d.source,
       round(r.rate, 6) AS rate
FROM documents d
JOIN rates r ON r.lang = d.lang AND r.source = d.source
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, {_MIX_HEX}))
           AS BIGINT) < r.rate * 4294967296
"""


@register(
    "mixture_rebalanced_sample",
    oracle=_MIX_SAMPLE_ORACLE,
    tags=("pipeline", "sampling", "text"),
)
def mixture_rebalanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZATION step after `domain_mixing_weights`: apply each
    domain's uniform-target weight as a per-document keep probability
    (capped at 1 — upsampled domains keep everything; repetition factors
    are the training loader's job) and draw deterministically from
    md5(doc_id), so the same corpus always yields the same rebalanced
    sample and a retry can never double-sample. Returns the kept docs with
    their domain rate — what a data-mixture sweep actually feeds the
    tokenizer.

    Scale: the per-domain rate frame is tens-to-hundreds of rows (the
    global windows run over the aggregated frame only) and BROADCASTS back
    onto the corpus scan; the keep decision is one md5 per row, map-side,
    zero extra shuffles beyond the domain aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    w = Window.partitionBy()
    rates = per_src.select(
        "lang",
        "source",
        F.least(
            F.sum("n_tokens").over(w).cast("double")
            / (F.count(F.lit(1)).over(w) * F.col("n_tokens")),
            F.lit(1.0),
        ).alias("rate"),
    )
    draw = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, _MIX_HEX), 16, 10
    ).cast("long")
    return (
        docs.select("doc_id", "lang", "source")
        .join(broadcast(rates), ["lang", "source"])
        .filter(draw < F.col("rate") * F.lit(4294967296))
        .select("doc_id", "lang", "source", F.round("rate", 6).alias("rate"))
    )


# ---------------------------------------------------------------------------
# Text normalization with before/after fingerprints
# ---------------------------------------------------------------------------

_NORM_ORACLE = """
WITH n AS (
  SELECT doc_id,
         md5(text) AS fp_raw,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, fp_raw, md5(norm) AS fp_norm,
       CAST(length(norm) AS BIGINT) AS n_chars_norm,
       md5(norm) <> fp_raw AS changed
FROM n
"""


@register(
    "text_normalize_fingerprints",
    oracle=_NORM_ORACLE,
    tags=("pipeline", "text"),
)
def text_normalize_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization pass every dedup pipeline runs FIRST: lowercase,
    strip non-alphanumerics, collapse whitespace — with md5 fingerprints of
    the raw and normalized forms so exact dedup can run on either
    representation and the `changed` flag measures how much the corpus
    needed normalizing. Pure column expressions (regexp_replace chains stay
    in codegen); zero shuffles — a 100 TB corpus normalizes at scan
    speed."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return ensure_parallelism(docs).select(
        "doc_id",
        F.md5("text").alias("fp_raw"),
        F.md5(norm).alias("fp_norm"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (F.md5(norm) != F.md5("text")).alias("changed"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch as DATA: deterministic, mergeable, oracle-able
# ---------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 256


_CMS_ORACLE = f"""
WITH h AS (
  SELECT t.d AS depth,
         CAST(('0x' || substr(md5(CAST(t.d AS VARCHAR) || ':' ||
                                  CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % {_CM_WIDTH} AS bucket
  FROM events CROSS JOIN range(0, {_CM_DEPTH}) t(d)
)
SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM h GROUP BY depth, bucket
"""


@register(
    "countmin_sketch_table",
    oracle=_CMS_ORACLE,
    tags=("analytics", "sketch"),
)
def countmin_sketch_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A count-min sketch built AS A TABLE — the production heavy-hitter
    sketch with none of the engine-specific opacity that makes
    `approx_user_stats` un-oracle-able: 4 rows (depth) × 256 buckets, each
    cell the count of events whose md5-derived hash lands there. Point
    estimates (min over the 4 cells of a key) upper-bound the true count —
    pinned by the invariants test. Because the sketch is plain rows from a
    deterministic hash, it is mergeable across partitions, comparable
    across engines, and diffable across days.

    Scale: ONE map-side-combinable shuffle with at most depth×width = 1024
    output groups, independent of cardinality — the whole point of the
    sketch. The explode multiplies rows ×4 before the partial aggregate but
    the combine collapses them within each task."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(_CM_DEPTH - 1))).alias("depth"),
        "user_id",
    ).select(
        "depth",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("depth").cast("string"),
                            F.lit(":"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CM_WIDTH
        ).alias("bucket"),
    )
    return h.groupBy("depth", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Leakage-safe train/val splits: near-dup clusters never straddle a split
# ---------------------------------------------------------------------------

_SPLIT_MOD = 10
_VAL_SLOT = 0  # slot 0 → val (10% target)


def _leakage_split_oracle() -> str:
    from .pipeline import _DEDUP_CLUSTERS_ORACLE

    return f"""
SELECT doc_id, cluster_id,
       CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))
                      AS BIGINT) % {_SPLIT_MOD} = {_VAL_SLOT}
            THEN 'val' ELSE 'train' END AS split
FROM ({_DEDUP_CLUSTERS_ORACLE}) c
"""


@register(
    "leakage_safe_splits",
    oracle=_leakage_split_oracle(),
    # lazy since r10: the CC loop runs inside the dedup_clusters artifact
    # build (priced via artifact_build_sec), not at plan construction —
    # this entry's r9 1.36→2.13 s regression was re-deriving that subtree
    tags=("pipeline", "dedup", "sampling"),
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val assignment that CANNOT leak near-duplicates across the
    boundary: the split is hashed from the document's dedup CLUSTER id
    (`dedup_clusters` — connected components over the MinHash candidate
    graph), so every member of a near-dup clique lands on the same side.
    Splitting on doc_id — what `deterministic_splits` does, correctly, for
    i.i.d. data — silently puts near-copies of training documents into val
    and inflates eval; this is the curation-grade variant. ~10% val via
    md5(cluster_id) slot, deterministic and growth-stable.

    Scale: reads the materialized cluster-map artifact (`dedup_clusters`'
    build posture: banded candidates, bounded driver union-find fast path
    with distributed min-label fallback, built once per corpus state); the
    split itself is one md5 per row, zero additional shuffles."""
    from .pipeline import dedup_clusters

    clusters = dedup_clusters(spark, sf_dir)
    slot = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % _SPLIT_MOD
    )
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(slot == _VAL_SLOT, "val").otherwise("train").alias("split"),
    )


# ---------------------------------------------------------------------------
# Curation funnel: per-gate survival counts for the corpus_curation pipeline
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    from .pipeline import _MINHASH_CTES

    return _MINHASH_CTES + """
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
),
flags AS (
  SELECT doc_id,
         (n_tokens >= 20 AND uniq_ratio >= 0.5) AS q,
         doc_id = canonical_id AS e,
         NOT EXISTS (SELECT 1 FROM pairs p WHERE p.doc_b = doc_id) AS nd
  FROM canon
)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'ingest' AS stage,
       CAST(count(*) AS BIGINT) AS n_docs FROM flags
UNION ALL
SELECT 1, 'quality', CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) FROM flags
UNION ALL
SELECT 2, 'exact_dedup',
       CAST(sum(CASE WHEN q AND e THEN 1 ELSE 0 END) AS BIGINT) FROM flags
UNION ALL
SELECT 3, 'near_dedup',
       CAST(sum(CASE WHEN q AND e AND nd THEN 1 ELSE 0 END) AS BIGINT) FROM flags
"""


@register(
    "curation_funnel",
    oracle=_funnel_oracle(),
    tags=("pipeline", "dedup", "analytics"),
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ablation table a curation team reads before shipping a corpus:
    how many documents survive each gate of the `corpus_curation` pipeline
    (ingest → quality → exact dedup → near-dup prune), with the SAME gate
    definitions (thresholds, canonical rule, MinHash candidate pairs), so
    the funnel always reconciles with the kept corpus.

    Scale: the per-doc flags ride the same plans as the pipeline itself;
    the funnel collapses to ONE aggregation row unpivoted to 4 — counting
    adds nothing beyond the stages it measures."""
    from .pipeline import _lsh_candidate_pairs

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
    canon = quality.withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("content_md5"))
    )
    # candidate edges only: the jaccard-scoring joins of the full
    # minhash_lsh_pairs plan are dead weight here (r12 session 4)
    dup_b = (
        _lsh_candidate_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    flags = canon.join(dup_b, "doc_id", "left").select(
        ((F.col("n_tokens") >= 20) & (F.col("uniq_ratio") >= 0.5)).alias("q"),
        (F.col("doc_id") == F.col("canonical_id")).alias("e"),
        F.col("is_dup").isNull().alias("nd"),
    )
    row = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("q"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("q") & F.col("e"), 1).otherwise(0)).alias("n2"),
        F.sum(
            F.when(F.col("q") & F.col("e") & F.col("nd"), 1).otherwise(0)
        ).alias("n3"),
    )
    return row.selectExpr(
        "stack(4, CAST(0 AS BIGINT), 'ingest', n0,"
        " CAST(1 AS BIGINT), 'quality', n1,"
        " CAST(2 AS BIGINT), 'exact_dedup', n2,"
        " CAST(3 AS BIGINT), 'near_dedup', n3) AS (stage_idx, stage, n_docs)"
    )


# ---------------------------------------------------------------------------
# K-means refinement step: one Lloyd iteration as a declarative plan
# ---------------------------------------------------------------------------

_KM_K = 8  # centroids = the vectors of vec_id 0..7


_KM_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (SELECT vec_id AS k, v AS cv FROM e WHERE vec_id < {_KM_K}),
d AS (
  SELECT e.vec_id, cent.k,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_aggregate(list_transform(list_zip(e.v, cent.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'),
           cent.k) AS rn
  FROM e CROSS JOIN cent
),
assigned AS (
  SELECT e.vec_id, d.k AS cluster_id, e.v
  FROM e JOIN d ON d.vec_id = e.vec_id AND d.rn = 1
),
comp AS (
  SELECT cluster_id, t.dim AS dim, v[t.dim + 1] AS x
  FROM assigned CROSS JOIN range(0, 64) t(dim)
)
SELECT cluster_id, dim,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(round(sum(CAST(x AS DECIMAL(38, 12))) / count(*), 6) AS DOUBLE)
           AS centroid_val
FROM comp GROUP BY cluster_id, dim
"""


@register(
    "kmeans_refine_once",
    oracle=_KM_ORACLE,
    # not tagged "iterative": ONE refine step is a single pure-lazy plan
    # (the full loop would be; see docstring)
    tags=("pipeline", "similarity"),
)
def kmeans_refine_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration — the TRAINING half of the IVF/PQ path
    (`ann_ivf_topk` assigns, `pq_codes` encodes; this refines the
    codebook): every vector joins the broadcast seed centroids (vec_id
    0..{k}), takes the L2-argmin cluster (id tie-break), and the new
    centroids come back as per-(cluster, dim) means over DECIMAL-exact
    component sums — order-insensitive, so both engines agree bit-for-bit.
    A full k-means is this plan in a loop with a convergence aggregate
    (the connected-components pattern, operators/graph.py).

    Scale: centroids broadcast; ONE corpus-sized exchange on (cluster, dim)
    with map-side partial sums; the argmin is a struct-MIN aggregate that
    partial-aggregates under the broadcast join (one row per vector crosses
    the wire, not one per vector×centroid)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cent = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("k"), F.col("v").alias("cv")
    )
    d2 = F.expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    # Struct-min argmin (same rewrite as kmeans_train): partial-aggregates
    # map-side, so the exchange carries one row per vector, not one per
    # (vector, centroid). Tie-break (d2, k) matches the oracle's row_number.
    assigned = (
        e.crossJoin(broadcast(cent))
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(d2.alias("d2"), F.col("k").alias("k"), F.col("v").alias("v"))
            ).alias("best")
        )
        .select(
            "vec_id", F.col("best.k").alias("cluster_id"), F.col("best.v").alias("v")
        )
    )
    comp = assigned.select(
        "cluster_id", F.posexplode("v").alias("dim", "x")
    )
    return comp.groupBy("cluster_id", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.col("x").cast("decimal(38,12)")) / F.count(F.lit(1)), 6
        )
        .cast("double")
        .alias("centroid_val"),
    )


# ---------------------------------------------------------------------------
# Iterative k-means training: three Lloyd iterations, one lazy plan
# ---------------------------------------------------------------------------

_KMT_ITERS = 3
_KMT_DIMS = 64


def _kmt_oracle() -> str:
    """Chained-CTE oracle: each iteration assigns by L2-argmin against the
    previous centroids and rebuilds centroids as round-6 per-dim decimal
    means — the SAME rounded handoff the Spark plan uses, so the engines
    agree bit-for-bit at every iteration boundary."""
    d2 = (
        "list_aggregate(list_transform(list_zip(e.v, c.cv), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )

    def assign(src_cent: str, out: str) -> str:
        return f"""{out} AS (
  SELECT e.vec_id, e.v, d.k AS cluster_id
  FROM e JOIN (
    SELECT e.vec_id, c.k,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.k) AS rn
    FROM e CROSS JOIN {src_cent} c
  ) d ON d.vec_id = e.vec_id AND d.rn = 1
)"""

    def cents(src_assign: str, out: str) -> str:
        return f"""{out} AS (
  SELECT cluster_id AS k, list(cval ORDER BY dim) AS cv FROM (
    SELECT cluster_id, t.dim AS dim,
           CAST(round(sum(CAST(v[t.dim + 1] AS DECIMAL(38, 12))) / count(*), 6)
                AS DOUBLE) AS cval
    FROM {src_assign} CROSS JOIN range(0, {_KMT_DIMS}) t(dim)
    GROUP BY cluster_id, t.dim
  ) GROUP BY cluster_id
)"""

    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS k, v AS cv FROM e WHERE vec_id < {_KM_K})",
    ]
    for t in range(1, _KMT_ITERS + 1):
        parts.append(assign(f"c{t - 1}", f"a{t}"))
        if t < _KMT_ITERS:
            parts.append(cents(f"a{t}", f"c{t}"))
    body = ",\n".join(parts)
    return f"""{body},
comp AS (
  SELECT cluster_id, t.dim AS dim, v[t.dim + 1] AS x
  FROM a{_KMT_ITERS} CROSS JOIN range(0, {_KMT_DIMS}) t(dim)
)
SELECT cluster_id, dim,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(round(sum(CAST(x AS DECIMAL(38, 12))) / count(*), 6) AS DOUBLE)
           AS centroid_val
FROM comp GROUP BY cluster_id, dim
"""


@register(
    "kmeans_train",
    oracle=_kmt_oracle(),
    # still ONE pure-lazy plan: the iteration count is fixed, so the loop
    # unrolls declaratively at construction — no driver-side actions, no
    # checkpoint (cf. kmeans_refine_once's note; the UNBOUNDED-iteration
    # form with a convergence test is the operators/graph.py pattern)
    tags=("pipeline", "similarity", "ml"),
)
def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd iterations of k-means — the codebook TRAINING loop the
    IVF/PQ serving path consumes (`kmeans_refine_once` is one step; this
    chains three in a single lazy plan). Centroids hand off between
    iterations as round-6 per-dim DECIMAL means cast to double — exact and
    order-insensitive, so the DuckDB oracle replays every iteration
    bit-for-bit (a raw float mean would diverge in the 3rd iteration's
    argmin ties).

    The ASSIGNMENT step is an Arrow-vectorized ``applyInPandas`` argmin
    (r11, VERDICT r10 task 3): each vector crosses to Python ONCE per
    iteration (hash-bucketed on vec_id), the K centroids replicate to
    every bucket (K x B tiny rows, broadcast union), and numpy computes
    all K distances per vector with a per-DIMENSION accumulation loop —
    ``acc = acc + (A[:,i]-C[:,i])^2`` in ascending-dim order, which is
    bit-identical to the previous ``aggregate(zip_with(...))`` left fold
    and to the oracle's ``list_aggregate 'sum'`` (IEEE ops in the same
    order), so the (d2, k) argmin the DuckDB row_number replays is
    preserved exactly; ties keep the lowest k via strict-< updates. The
    interpreted-HOF form this replaces paid ~20 us per (vector, centroid)
    fold — the whole 4.6x-vs-oracle gap at the 10x replica
    (docs/adjudication_r10.json): measured 10.5 s HOF vs 4.4 s vectorized
    at 10x (duck 2.0 s), identical output. Assigned vectors ride BACK
    from Python with their cluster ids, so the centroid rebuild needs no
    corpus re-join.

    Scale: per iteration the corpus makes one Arrow pass (in + out) and
    one bucket exchange; centroids are a K-row aggregate replicated
    B-fold (bytes ~ K x B x dims — trivial). That is the MLlib-style
    scalable k-means shape: no K-wide corpus blowup ever crosses the
    wire, no driver-side loop (3 fixed iterations unroll into one lazy
    plan). Empty clusters drop out of the next iteration's centroid
    table identically in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cent = e.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("k"), F.col("v").alias("cv")
    )
    # assignment buckets: derived, not hardcoded (ADVICE r11) — ride the
    # session's shuffle-partition count at scale (a cluster sized to
    # state/data volume raises it, shrinking each bucket's pandas frame),
    # floored at local core count so toy-SF runs keep full parallelism
    _B = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
    )

    def _argmin_fn(pdf):
        import numpy as np
        import pandas as pd

        cm = pdf["side"].to_numpy() == 0
        ks = pdf["rid"][cm].to_numpy()
        order = np.argsort(ks, kind="stable")
        ks = ks[order]
        C = np.vstack(pdf["vec"][cm].to_numpy())[order]
        vecs_ser = pdf["vec"][~cm]
        vids = pdf["rid"][~cm].to_numpy()
        if not len(vids):
            return pd.DataFrame(
                {"vec_id": vids, "cluster_id": vids, "v": vecs_ser}
            )
        A = np.vstack(vecs_ser.to_numpy())
        n, K = len(A), len(C)
        # ascending-dim accumulation == the oracle's sequential list fold
        acc = np.zeros((n, K))
        for i in range(A.shape[1]):
            d = A[:, i][:, None] - C[:, i][None, :]
            acc = acc + d * d
        best = acc[:, 0].copy()
        bk = np.full(n, ks[0])
        for j in range(1, K):  # strict < keeps the lowest k on exact ties
            better = acc[:, j] < best
            best = np.where(better, acc[:, j], best)
            bk = np.where(better, ks[j], bk)
        return pd.DataFrame(
            {"vec_id": vids, "cluster_id": bk, "v": vecs_ser.to_numpy()}
        )

    def assign(cent_df: DataFrame) -> DataFrame:
        vecs = e.select(
            F.pmod("vec_id", F.lit(_B)).cast("int").alias("bkt"),
            F.lit(1).alias("side"),
            F.col("vec_id").alias("rid"),
            F.col("v").alias("vec"),
        )
        cents_rep = cent_df.select(
            F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("bkt"),
            F.lit(0).alias("side"),
            F.col("k").alias("rid"),
            F.col("cv").alias("vec"),
        )
        return (
            vecs.unionByName(broadcast(cents_rep))
            .groupBy("bkt")
            .applyInPandas(
                _argmin_fn, "vec_id long, cluster_id long, v array<double>"
            )
        )

    def cents(assigned: DataFrame) -> DataFrame:
        # Centroid rebuild via posexplode + (cluster, dim) partial means,
        # re-assembled with an order-pinned collect_list — NOT 64 parallel
        # decimal aggregates: the wide-agg form compiled a 64-column
        # codegen unit per iteration that dominated wall at toy scale
        # (r6 A/B: 2.5 s -> 1.7 s total, bit-identical). Data volume is
        # the same either way (explode feeds a map-side partial agg that
        # collapses to K x 64 rows); the extra (cluster_id) exchange
        # carries K rows.
        per_dim = (
            assigned.select("cluster_id", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster_id", "dim")
            .agg(
                F.expr(
                    "CAST(round(sum(CAST(x AS decimal(38,12))) / count(1), 6)"
                    " AS DOUBLE)"
                ).alias("cval")
            )
        )
        return (
            per_dim.groupBy("cluster_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, cval))),"
                    " s -> s.cval)"
                ).alias("cv")
            )
            .select(F.col("cluster_id").alias("k"), "cv")
        )

    assigned = assign(cent)
    for _ in range(_KMT_ITERS - 1):
        assigned = assign(cents(assigned))
    comp = assigned.select("cluster_id", F.posexplode("v").alias("dim", "x"))
    return comp.groupBy("cluster_id", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum(F.col("x").cast("decimal(38,12)")) / F.count(F.lit(1)), 6
        )
        .cast("double")
        .alias("centroid_val"),
    )


# ---------------------------------------------------------------------------
# Sketch-quality telemetry: MinHash estimate error vs exact Jaccard
# ---------------------------------------------------------------------------


def _minhash_error_oracle() -> str:
    from .pipeline import _MINHASH_CTES

    return _MINHASH_CTES + f"""
, hd AS (SELECT DISTINCT doc_id, h FROM h),
sizes AS (SELECT doc_id, count(*) AS n FROM hd GROUP BY 1),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS co
  FROM pairs p
  JOIN hd a ON a.doc_id = p.doc_a
  JOIN hd b ON b.doc_id = p.doc_b AND b.h = a.h
  GROUP BY 1, 2
),
err AS (
  SELECT round(abs(
           round(len(list_filter(list_zip(sa.arr, sb.arr), z -> z[1] = z[2]))
                 / {_N_HASHES}.0, 4)
           - round(i.co / CAST(na.n + nb.n - i.co AS DOUBLE), 6)), 6) AS e
  FROM pairs p
  JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sizes na ON na.doc_id = p.doc_a
  JOIN sizes nb ON nb.doc_id = p.doc_b
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(round(sum(CAST(e AS DECIMAL(38, 6))) / count(*), 6) AS DOUBLE)
           AS mean_abs_err,
       max(e) AS max_abs_err
FROM err
"""


@register(
    "minhash_estimate_error",
    oracle=_minhash_error_oracle(),
    tags=("pipeline", "dedup", "lsh", "telemetry"),
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality telemetry: for every MinHash-LSH candidate pair,
    compare the 12-hash Jaccard ESTIMATE against the EXACT shingle-set
    Jaccard and report pair count + mean/max absolute error — the number
    that justifies (or indicts) the sketch width before anyone trusts the
    dedup threshold at 100 TB. Exact Jaccard is computed only on the
    CANDIDATE pairs (per-pair array_intersect over the two docs' 3-gram
    digest arrays), never all-pairs.

    Scale (r5 rewrite): the LSH candidate subtree derives exactly once;
    candidates join the raw text of both sides, and the digest arrays are
    built on the MATCHED rows only — shingle compute scales with the
    candidate count, not the corpus. The remaining corpus-sized work is
    two pruned (doc_id, text) scans. Error rows sum through DECIMAL so the
    mean is order-insensitive; the candidate-pair frame gets NO broadcast
    hint (it scales with corpus size — a hint would ship an unbounded
    frame to every executor at 100 TB): AQE picks broadcast at small SF
    and a shuffled hash join once the frame outgrows the threshold."""
    from .pipeline import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    # The LSH candidate subtree is derived exactly ONCE (r5 — the previous
    # shape consumed `pairs` three times: candidate-doc semi-join, co-count
    # gate, and the estimate join, re-deriving the whole LSH pipeline each
    # time; a lineage-cut checkpoint was measured slower, see git history).
    # Exact Jaccard now comes from per-pair array_intersect: candidates
    # join the raw text of both sides and the 3-gram digest arrays are
    # computed on the MATCHED rows only — shingle work scales with the
    # candidate count, not the corpus, and the only corpus-sized work left
    # is two pruned (doc_id, text) scans that AQE joins against the small
    # candidate frame (no broadcast hint: candidates grow with the corpus).
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard_est"
    )

    txt = ensure_parallelism(docs).select("doc_id", "text")
    a = txt.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = txt.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    joined = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        # tokens staged once per side, not re-split per shingle position
        .withColumn("ws_a", F.split("text_a", " "))
        .withColumn("ws_b", F.split("text_b", " "))
        .withColumn("ha", F.array_distinct(word_ngrams("ws_a", 3, digest=True)))
        .withColumn("hb", F.array_distinct(word_ngrams("ws_b", 3, digest=True)))
        .withColumn("co", F.size(F.array_intersect("ha", "hb")))
    )
    exact = joined.select(
        F.round(
            F.abs(
                F.col("jaccard_est")
                - F.round(
                    F.col("co")
                    / (F.size("ha") + F.size("hb") - F.col("co")).cast("double"),
                    6,
                )
            ),
            6,
        ).alias("e")
    )
    return exact.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("e").cast("decimal(38,6)")) / F.count(F.lit(1)), 6
        )
        .cast("double")
        .alias("mean_abs_err"),
        F.max("e").alias("max_abs_err"),
    )
