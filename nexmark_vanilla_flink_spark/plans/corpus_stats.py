"""Corpus-statistics operators: association mining (phrase detection),
statistical quality control, and per-key sequence assembly — the
descriptive-statistics layer a training-data pipeline runs between
ingestion and curation (no reference counterpart; extends the
BASELINE.json north star the same way plans/pipeline.py does).

  * ``bigram_pmi_lift``       — pointwise-mutual-information lift for
    adjacent token pairs (the word2vec/Gensim phrase-mining statistic);
  * ``value_outliers``        — per-group z-score outliers over exact
    decimal moments (statistical QC / anomaly flagging);
  * ``user_history_sequences`` — per-user event-type sequences in strict
    event-time order (the sequence-assembly step for behavioral-model
    training data).

Float discipline: every division is IEEE double over exactly-representable
integer-valued operands (correctly rounded, engine-identical), multiplied
left-associated in the same order in both engines, `round()`ed before
output; sqrt is IEEE-exact; no decimal division anywhere (Spark and DuckDB
derive different decimal quotient scales).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.exact import dec
from ..operators.parallelism import ensure_parallelism
from ..sources.tables import load_table
from ..operators.artifacts import read_artifact_table, register_artifact
from .registry import register

# ---------------------------------------------------------------------------
# bigram_pmi_lift — association mining over adjacent token pairs
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5


@register_artifact("bigram_tables")
def _bigram_tables_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the corpus n-gram model tables ONCE per corpus state —
    the shared corpus-index-artifact pattern (operators/artifacts.py,
    VERDICT r8 task 1). An LM/collocation pipeline writes its frequency
    tables in a counting job and every consumer (PMI scoring, perplexity
    filtering) reads them as tables; re-deriving them per query was the
    plan-cache shape that put both bigram entries at ~1.2–1.4 s vs
    0.07–0.17 s oracles. Four tables, two corpus scans (one per explode
    shape), all vocab-bounded:

      uni/   : (t, n_t)                — unigram counts (PMI marginals)
      big/   : (tok_x, tok_y, n_xy)    — adjacent-pair counts (PMI joint
                                         AND the LM's c_big table)
      ctx/   : (prev, c_prev)          — context counts (LM denominator)
      vocab/ : (v)                     — distinct-token count (LM add-one)
    """
    from ..operators.artifacts import artifact_dir, write_artifact_table

    def _build(stage: str) -> None:
        from concurrent.futures import ThreadPoolExecutor

        docs = load_table(spark, sf_dir, "documents")
        w = docs.select(F.split("text", " ").alias("ws"))
        tok = w.select(F.explode("ws").alias("t"))
        tr = (
            w.filter(F.size("ws") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(ws) - 2), "
                        "i -> struct(ws[i] AS x, ws[i+1] AS y))"
                    )
                ).alias("b")
            )
            .select(F.col("b.x").alias("tok_x"), F.col("b.y").alias("tok_y"))
        )
        big = tr.groupBy("tok_x", "tok_y").agg(
            F.count(F.lit(1)).alias("n_xy")
        )
        # uni (its own corpus scan) and big (scan + pair agg) run as
        # concurrent jobs; ctx and vocab then derive from the PUBLISHED
        # vocab²-bounded big table — ctx's per-prev count is sum(n_xy)
        # and vocab's distinct-token set is tok_x ∪ tok_y of big — so the
        # raw corpus-sized pair stream is scanned exactly once and never
        # cached (r12: the `.cache()` of the raw pair rows paid a
        # millions-of-rows InMemoryRelation population inside the
        # build-phase wall; counts are identical by construction,
        # exceptAll-verified).
        def _big_chain() -> None:
            write_artifact_table(big, stage, "big")
            bigt = spark.read.parquet(f"{stage}/big")
            with ThreadPoolExecutor(max_workers=2) as ex2:
                for fut2 in [
                    ex2.submit(
                        write_artifact_table,
                        bigt.groupBy(F.col("tok_x").alias("prev")).agg(
                            F.sum("n_xy").alias("c_prev")
                        ),
                        stage,
                        "ctx",
                    ),
                    ex2.submit(
                        write_artifact_table,
                        bigt.select(F.col("tok_x").alias("t"))
                        .unionAll(bigt.select(F.col("tok_y").alias("t")))
                        .agg(F.countDistinct("t").alias("v")),
                        stage,
                        "vocab",
                    ),
                ]:
                    fut2.result()

        with ThreadPoolExecutor(max_workers=2) as ex:
            for fut in [
                ex.submit(
                    write_artifact_table,
                    tok.groupBy("t").agg(F.count(F.lit(1)).alias("n_t")),
                    stage,
                    "uni",
                ),
                ex.submit(_big_chain),
            ]:
                fut.result()

    return artifact_dir(
        spark,
        sf_dir,
        name="bigram_tables",
        version="v1",
        source_table="documents",
        build=_build,
    )

_PMI_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (SELECT unnest(ws) AS t FROM w),
uni AS (SELECT t, count(*) AS n_t FROM tok GROUP BY 1),
nn AS (SELECT count(*) AS n FROM tok),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> struct_pack(x := ws[i], y := ws[i+1]))) AS b
  FROM w WHERE len(ws) >= 2
),
big AS (SELECT b.x AS tok_x, b.y AS tok_y, count(*) AS n_xy FROM bg GROUP BY 1, 2),
n2 AS (SELECT count(*) AS n2 FROM bg)
SELECT big.tok_x, big.tok_y,
       CAST(big.n_xy AS BIGINT) AS n_xy,
       round(
         ((CAST(big.n_xy AS DOUBLE) / ux.n_t)
          * (CAST(nn.n AS DOUBLE) / n2.n2))
         * (CAST(nn.n AS DOUBLE) / uy.n_t), 6) AS lift
FROM big
JOIN uni ux ON ux.t = big.tok_x
JOIN uni uy ON uy.t = big.tok_y
CROSS JOIN nn CROSS JOIN n2
WHERE big.n_xy >= {_PMI_MIN_COUNT}
"""


@register(
    "bigram_pmi_lift",
    oracle=_PMI_ORACLE,
    tags=("corpus-stats", "text", "association"),
)
def bigram_pmi_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI lift for adjacent token pairs — the phrase-detection statistic
    (Mikolov et al. 2013's word2phrase score is this with a discount):
    lift(x,y) = p(xy) / (p(x)·p(y)) with p(xy) = n_xy/N2, p(x) = n_x/N.
    Pairs with lift >> 1 co-occur far more than independence predicts —
    collocation candidates worth merging into single tokens before
    training.

    Cross-engine exactness: counts are exact; the lift is three IEEE
    divisions of exactly-representable integers multiplied
    left-associated — staged as (n_xy/n_x)·(N/N2)·(N/n_y) so no
    intermediate product can leave the 2^53-exact integer range even at
    large corpus scale, then rounded to 6 places.

    Scale: ZERO corpus scans in the steady-state query — the unigram and
    bigram frequency tables come from the once-per-corpus model-table
    artifact (`_bigram_tables_dir`; the "write the term-frequency table
    once" step every corpus-statistics pipeline shares — re-deriving
    them per query re-paid the corpus explode inside every timed run,
    VERDICT r8 "What's wrong" #2). Unigram counts join back by BROADCAST
    (vocabulary ≪ corpus at any scale); the scalar totals are vocab-sized
    sums over the artifact tables (N = Σ n_t, N2 = Σ n_xy over the
    unfiltered pair table). Both stay broadcast scalars cross-joined in
    (the q11/q15 de-funnel pattern — only partial-agg/vocab rows ever
    cross a SinglePartition exchange)."""
    idx = _bigram_tables_dir(spark, sf_dir)
    uni = read_artifact_table(spark, idx, "uni")
    big = read_artifact_table(spark, idx, "big")
    nn = uni.agg(F.sum("n_t").alias("n"))
    n2 = big.agg(F.sum("n_xy").alias("n2"))
    ux = uni.select(F.col("t").alias("tok_x"), F.col("n_t").alias("n_x"))
    uy = uni.select(F.col("t").alias("tok_y"), F.col("n_t").alias("n_y"))
    lift = F.round(
        (
            (F.col("n_xy").cast("double") / F.col("n_x"))
            * (F.col("n").cast("double") / F.col("n2"))
        )
        * (F.col("n").cast("double") / F.col("n_y")),
        6,
    )
    return (
        big.filter(F.col("n_xy") >= _PMI_MIN_COUNT)
        .join(broadcast(ux), "tok_x")
        .join(broadcast(uy), "tok_y")
        .crossJoin(broadcast(nn))
        .crossJoin(broadcast(n2))
        .select(
            "tok_x",
            "tok_y",
            F.col("n_xy").cast("long").alias("n_xy"),
            lift.alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# value_outliers — per-group z-score statistical QC
# ---------------------------------------------------------------------------

_OUTLIER_SIGMA = 3.0

_OUTLIER_ORACLE = f"""
WITH m AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
              AS DOUBLE) AS sq
  FROM events GROUP BY 1
),
st AS (
  SELECT event_type, n, s / n AS mean,
         sqrt(sq / n - (s / n) * (s / n)) AS std
  FROM m
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - st.mean) / st.std, 6) AS z_score
FROM events e JOIN st ON e.event_type = st.event_type
WHERE abs(e.value - st.mean) > {_OUTLIER_SIGMA} * st.std
"""


@register(
    "value_outliers",
    oracle=_OUTLIER_ORACLE,
    tags=("corpus-stats", "qc", "anomaly"),
)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flags (|value − μ| > 3σ within each
    event_type) — the statistical-QC pass that catches corrupted numeric
    fields before they poison training statistics.

    Cross-engine exactness: μ and σ derive from EXACT decimal sums (the
    registry sum discipline — the shipped values carry 2 decimals, so
    DECIMAL(18,4) totals are exact and cast to double identically); the
    divisions, the multiply, and sqrt are all IEEE correctly-rounded, so
    the 3σ boundary compare lands identically in both engines; z is
    rounded only at output.

    Scale: the moment table is one map-side-combinable shuffle with
    |groups| rows (5 here; bounded by type cardinality at any corpus
    size), then BROADCAST back onto a single fact scan — the fact table
    itself never shuffles (plan-asserted). The textbook two-pass
    mean/variance, which is also the numerically honest one (a single
    Welford pass isn't expressible declaratively AND exactly)."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    vd = dec("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).cast("double").alias("s"),
        F.sum(vd * vd).cast("double").alias("sq"),
    )
    st = m.select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            F.col("sq") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
        ).alias("std"),
    )
    return (
        ev.join(broadcast(st), "event_type")
        .filter(
            F.abs(F.col("value") - F.col("mean"))
            > F.lit(_OUTLIER_SIGMA) * F.col("std")
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                (F.col("value") - F.col("mean")) / F.col("std"), 6
            ).alias("z_score"),
        )
    )


# ---------------------------------------------------------------------------
# user_history_sequences — ordered per-key sequence assembly
# ---------------------------------------------------------------------------

_HISTORY_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       string_agg(event_type, '>' ORDER BY epoch_ns(ts), event_id) AS history
FROM events
GROUP BY 1
"""


@register(
    "user_history_sequences",
    oracle=_HISTORY_ORACLE,
    tags=("corpus-stats", "sequence", "ordered-agg"),
)
def user_history_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered sequence assembly: each user's full event-type history as a
    '>'-joined string in strict (event-time, event_id) order — the step
    that turns an event log into behavioral-model training sequences
    (and, on documents, token streams into packed training rows).

    Spark has no ORDER BY inside an aggregate; the exact equivalent is
    sort_array over (ts, event_id, type) structs — struct comparison is
    lexicographic by field position and (ts, event_id) is a unique key,
    so the order (and hence the string) is fully deterministic and
    matches DuckDB's string_agg(... ORDER BY) byte-for-byte.

    Scale: ONE user_id shuffle with map-side partial collect. The
    operator inherently materializes a key's history in one row — fine
    while histories are bounded (the training-data case: sequences are
    capped at model context length anyway); unbounded keys would take a
    slice() cap or windowed chunking, not a different plan."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(ts_ns, event_id, event_type))), s -> s.event_type)"
                ),
                ">",
            ).alias("history"),
        )
    )


# ---------------------------------------------------------------------------
# user_value_resample_ffill — time-series regularization (gap fill)
# ---------------------------------------------------------------------------

_RESAMPLE_BUCKET_S = 21_600  # 6-hour grid

_RESAMPLE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value,
         (epoch_ns(ts) // 1000) // {_RESAMPLE_BUCKET_S * 1_000_000} AS bk
  FROM events
),
lastv AS (
  SELECT user_id, bk, value FROM (
    SELECT user_id, bk, value,
           row_number() OVER (PARTITION BY user_id, bk
                              ORDER BY us DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1
),
bounds AS (
  SELECT user_id, min(bk) AS bk_lo, max(bk) AS bk_hi FROM e GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(generate_series(bk_lo, bk_hi)) AS bk FROM bounds
)
SELECT g.user_id,
       CAST(g.bk * {_RESAMPLE_BUCKET_S} AS BIGINT) AS bucket_start_s,
       last_value(l.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bk
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value,
       (l.user_id IS NOT NULL) AS is_observed
FROM grid g LEFT JOIN lastv l ON g.user_id = l.user_id AND g.bk = l.bk
"""


@register(
    "user_value_resample_ffill",
    oracle=_RESAMPLE_ORACLE,
    tags=("corpus-stats", "timeseries", "gap-fill"),
)
def user_value_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample each user's irregular event
    values onto a fixed 6-hour grid (last observation per bucket wins,
    (event-time, event_id)-tie-broken) and forward-fill gaps with
    last_value IGNORE NULLS — the densification step that turns event
    logs into fixed-step model inputs (and the SQL twin of a hypertable
    continuous aggregate with gap fill).

    Cross-engine exactness: bucket indices are integer division on epoch
    micros; the per-bucket survivor is a deterministic row_number; the
    fill value is a STORED double carried, never recomputed. Cells before
    a user's first observation stay NULL with is_observed = false.

    Scale: everything keys on user_id — the per-bucket survivor window,
    the bounds aggregate, the grid explode, the left join, and the fill
    window share one partitioning (Catalyst reuses the exchange); grid
    size is span/bucket per user (bounded by retention policy, not by
    event volume), and the explode is map-side from the tiny bounds
    frame."""
    # NOT cached (the branch-reuse audit boundary): the survivor window
    # and the bounds aggregate are separate branches, but this frame is a
    # raw FACT projection — at 100 TB you re-scan with pushdown rather
    # than cache the fact table, and locally the second scan is cheap
    ev = ensure_parallelism(load_table(spark, sf_dir, "events")).select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("us"),
        "value",
        F.expr(
            f"(ts_ns DIV 1000) DIV {_RESAMPLE_BUCKET_S * 1_000_000}"
        ).alias("bk"),
    )
    from pyspark.sql import Window as W

    w_last = W.partitionBy("user_id", "bk").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    lastv = (
        ev.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "bk", "value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("bk").alias("bk_lo"), F.max("bk").alias("bk_hi")
    )
    grid = bounds.select(
        "user_id", F.explode(F.expr("sequence(bk_lo, bk_hi)")).alias("bk")
    )
    w_fill = (
        W.partitionBy("user_id")
        .orderBy("bk")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    joined = grid.join(
        lastv.withColumnRenamed("user_id", "l_user").withColumnRenamed(
            "bk", "l_bk"
        ),
        (F.col("user_id") == F.col("l_user")) & (F.col("bk") == F.col("l_bk")),
        "left",
    )
    return joined.select(
        "user_id",
        (F.col("bk") * F.lit(_RESAMPLE_BUCKET_S))
        .cast("long")
        .alias("bucket_start_s"),
        F.last("value", ignorenulls=True).over(w_fill).alias("value"),
        F.col("l_user").isNotNull().alias("is_observed"),
    )


# ---------------------------------------------------------------------------
# bloom_membership_audit — Bloom filter as data + membership probe
# ---------------------------------------------------------------------------

_BLOOM_M = 2048  # bits
_BLOOM_K = 3  # hash draws per key

_BLOOM_ORACLE = f"""
WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
bits AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(digest || ':' || j), 1, 8)) AS BIGINT)
      % {_BLOOM_M} AS pos
  FROM d, (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j)
),
probes AS (
  SELECT doc_id AS probe_id, digest AS key, TRUE AS truly_present
  FROM d WHERE doc_id % 10 = 0
  UNION ALL
  SELECT 1000000 + i AS probe_id, 'absent:' || i AS key, FALSE
  FROM (SELECT unnest(generate_series(0, 49)) AS i)
),
pp AS (
  SELECT probe_id, truly_present,
         CAST(('0x' || substr(md5(key || ':' || j), 1, 8)) AS BIGINT)
           % {_BLOOM_M} AS pos
  FROM probes, (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j)
)
SELECT pp.probe_id, pp.truly_present,
       bool_and(bits.pos IS NOT NULL) AS bloom_hit
FROM pp LEFT JOIN bits ON pp.pos = bits.pos
GROUP BY 1, 2
"""


@register(
    "bloom_membership_audit",
    oracle=_BLOOM_ORACLE,
    tags=("corpus-stats", "sketch", "membership"),
)
def bloom_membership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter AS DATA (m=2048 bits, k=3 md5-derived positions) over
    the corpus content digests, plus a membership audit: every 10th doc's
    digest probes as a known-present key and 50 synthetic keys probe as
    known-absent — the filter's no-false-negative guarantee and its
    realized false-positive rate both land in the output. The mergeable
    distributed-set-membership sketch beside countmin (frequency) and
    KMV (cardinality): at 100 TB you'd broadcast these bit positions to
    prune a shuffle's probe side.

    Cross-engine exactness: positions are the md5-prefix u32 draw mod m —
    pure integers; membership is bool_and over a left join; no floats at
    all.

    Scale: the bit table is DISTINCT over ≤ m rows regardless of corpus
    size (one map-side-combinable exchange); probes join it broadcast;
    the per-probe verdict is a k-row bool_and. Filter build is ONE
    corpus scan: the skinny (doc_id, digest) table is cached because two
    branches consume it (the bit build and the present-probe side) and
    Spark does not share subtrees across branches — uncached, each
    branch re-ran the full-text md5 over the fat corpus (r7: 1.10 s vs
    the oracle's 0.02 s; the digest table is the thing a production
    pipeline persists anyway)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    d = docs.select("doc_id", F.md5("text").alias("digest")).cache()
    j = F.explode(F.expr(f"sequence(0, {_BLOOM_K - 1})")).alias("j")
    pos_of = lambda key: (  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat(key, F.lit(":"), F.col("j"))), 1, 8),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )
    bits = (
        d.select(F.col("digest"), j)
        .select(pos_of(F.col("digest")).alias("pos"))
        .distinct()
    )
    present = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.col("digest").alias("key"),
        F.lit(True).alias("truly_present"),
    )
    absent = spark.range(50).select(
        (F.col("id") + 1_000_000).alias("probe_id"),
        F.concat(F.lit("absent:"), F.col("id").cast("string")).alias("key"),
        F.lit(False).alias("truly_present"),
    )
    pp = (
        present.unionByName(absent)
        .select("probe_id", "truly_present", F.col("key"), j)
        .select("probe_id", "truly_present", pos_of(F.col("key")).alias("pos"))
    )
    return (
        pp.join(
            broadcast(bits.withColumnRenamed("pos", "b_pos")),
            pp.pos == F.col("b_pos"),
            "left",
        )
        .groupBy("probe_id", "truly_present")
        .agg(F.bool_and(F.col("b_pos").isNotNull()).alias("bloom_hit"))
    )


# ---------------------------------------------------------------------------
# user_lag_features — windowed feature engineering for model training
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, value FROM events
)
SELECT user_id, event_id,
       CAST(row_number() OVER w AS INT) AS rn,
       value,
       lag(value) OVER w AS lag1_value,
       lag(value, 2) OVER w AS lag2_value,
       round(value - lag(value) OVER w, 6) AS delta1,
       round(
         CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / count(*) OVER (
            PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS roll_mean5
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
"""


@register(
    "user_lag_features",
    oracle=_LAG_ORACLE,
    tags=("corpus-stats", "features", "window"),
)
def user_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed feature engineering: per user in strict event order, the
    lag-1/lag-2 values, the first difference, and a 5-event rolling mean
    — the feature-table construction step for sequence/tabular model
    training (the Spark-side of a feature store's point-in-time-correct
    backfill).

    Cross-engine exactness: lags carry STORED doubles; the difference is
    one IEEE subtraction (exactly rounded identically); the rolling mean
    divides an exact DECIMAL window sum (cast to double) by the window
    count — the registry's sum discipline applied to a moving frame.

    Scale: one user_id exchange; every window (lags, rolling sum/count,
    row_number) shares the same partitioning and sort, so Catalyst plans
    a single Sort + one Window chain — features at 100 TB are a scan, one
    shuffle, one sort."""
    e = ensure_parallelism(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_id", F.expr("ts_ns DIV 1000").alias("us"), "value"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wr = w.rowsBetween(-4, 0)
    vd = dec("value")
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("int").alias("rn"),
        "value",
        F.lag("value").over(w).alias("lag1_value"),
        F.lag("value", 2).over(w).alias("lag2_value"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta1"),
        F.round(
            F.sum(vd).over(wr).cast("double") / F.count(F.lit(1)).over(wr), 6
        ).alias("roll_mean5"),
    )


# ---------------------------------------------------------------------------
# user_value_ewma — fixed-point exponential decay over event sequences
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
         CAST(round(value * 1000) AS BIGINT) AS v_fp
  FROM events
),
s AS (SELECT user_id, list(v_fp ORDER BY us, event_id) AS vs FROM e GROUP BY 1)
SELECT user_id,
       CAST(len(vs) AS INT) AS n_events,
       list_reduce(list_prepend(CAST(0 AS BIGINT), vs),
                   (a, x) -> (a + x) // 2) AS ewma_fp,
       vs[-1] AS last_v_fp
FROM s
"""


@register(
    "user_value_ewma",
    oracle=_EWMA_ORACLE,
    tags=("features", "sequence", "training"),
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed per-user value feature — the classic
    "recent behavior weighs more" recommender/fraud feature, as a
    QUANTIZED EWMA (alpha = 1/2): values fix-point at 1e-3, and the
    recursion acc = (acc + x) DIV 2 runs in pure BIGINT, so the result
    is bit-identical across engines and partitionings (a float EWMA
    would drift per summation order). The zero seed is prepended in
    both engines, making the folds element-for-element identical.

    Scale: one (user_id) exchange assembles the ordered sequence
    (bounded by per-user history, the user_history_sequences contract);
    the fold is a JVM array aggregate over that row — no window
    recursion, no Python. EWMA-style decay is exactly the shape SQL
    windows cannot express (each output depends on the previous
    OUTPUT, not the previous input), which is why it folds over the
    collected sequence instead."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("us"),
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("v_fp"),
    )
    seq = ev.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(us, event_id, v_fp))),"
            " s -> s.v_fp)"
        ).alias("vs")
    )
    return seq.select(
        "user_id",
        F.size("vs").alias("n_events"),
        F.expr(
            "aggregate(vs, CAST(0 AS BIGINT), (a, x) -> (a + x) DIV 2)"
        ).alias("ewma_fp"),
        F.expr("element_at(vs, -1)").alias("last_v_fp"),
    )


# ---------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transition statistics
# ---------------------------------------------------------------------------

_TRANS_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
  FROM events
),
t AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY us, event_id
         ) AS to_type
  FROM e
),
c AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n FROM c GROUP BY 1)
SELECT c.from_type, c.to_type, c.n,
       CAST(c.n * 1000000 // t.row_n AS BIGINT) AS p_ppm
FROM c JOIN tot t ON c.from_type = t.from_type
"""


@register(
    "event_transition_matrix",
    oracle=_TRANS_ORACLE,
    tags=("corpus-stats", "sequence", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences —
    P(next event type | event type), the session-model statistic behind
    next-action prediction features, anomaly scoring (improbable
    transitions), and synthetic-sequence generators. Probabilities are
    fixed-point parts-per-million via integer division, so the matrix
    is bit-identical across engines (row totals and counts are exact
    BIGINTs; no float division in the plan).

    Scale: ONE user_id exchange + sort feeds the lead() window (the
    user_lag_features partitioning); the transition pairs then collapse
    to a |types|² frame — effectively scalar — so the count aggregation
    is map-side-combined down to a handful of rows per mapper, and the
    row-total join is a broadcast of a tiny frame. At 100 TB this is a
    scan, one shuffle, one sort, and a broadcast join on a 25-row
    matrix."""
    e = ensure_parallelism(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_id", "event_type", F.expr("ts_ns DIV 1000").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    # cached: the row totals derive from this tiny count table, and
    # uncached the tot branch re-ran the scan + lead window + groupBy
    c = (
        t.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    tot = c.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        c.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000 DIV row_n").alias("p_ppm"),
        )
    )


@register(
    "user_value_ewma_stream_replay",
    oracle=_EWMA_ORACLE,  # identical output contract to the batch fold
    tags=("streaming", "features", "sequence", "stateful"),
)
def user_value_ewma_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The quantized EWMA feature UNDER STREAMING EXECUTION — the
    continuously-maintained feature-store shape: the fixed-point
    recursion advances per user as each event is watermark-finalized
    (streaming/stateful.py::EWMA_SPEC), instead of a nightly batch
    re-fold of full history. Keyed state is three BIGINTs plus the
    watermark-lag pending buffer; the end-of-input sentinel triggers the
    final fold-and-emit in the data batch (bucketed_stateful's r11 fast
    path), so the replay shares the batch oracle verbatim."""

    from ..streaming.runner import run_available_now
    from ..streaming.stateful import EWMA_SPEC, bucketed_stateful
    from .linkage import _sentinel_event_stream

    stream, flush_ms = _sentinel_event_stream(spark, sf_dir, with_value=True)
    return run_available_now(
        # bucketed state (r9): flush-only emission — parity with the
        # per-key form (n_buckets=None) pinned by
        # tests/test_bucketed_stateful.py
        bucketed_stateful(stream, flush_ms, EWMA_SPEC),
        output_mode="append",
        # sentinel end-of-input fast path: flush in the data batch, skip
        # the trailing no-data batch (streaming/stateful.py, r11)
        no_data_batch=False,
        # state partitions: replay_state_partitions() default (8 local
        # since r11, env-overridable) — the old explicit pin duplicated it
    )


# ---------------------------------------------------------------------------
# bigram_lm_doc_scores — exact-arithmetic LM quality filtering (CCNet-style)
# ---------------------------------------------------------------------------
# The perplexity-filter class (score each document under a corpus language
# model, curate on the score) with every probability kept RATIONAL so both
# engines agree bit-for-bit: add-one-smoothed conditional probability
#   P(tok | prev) = (c(prev,tok) + 1) / (c(prev) + V)
# and the per-transition "surprise" is the SCALED INVERSE probability
#   inv_p = ((c(prev) + V) * 1000) DIV (c(prev,tok) + 1)     (BIGINT, exact)
# The document score is the mean of inv_p over its transitions, kept as
# the exact scaled integer (sum*10) DIV n — surprise x 10^4, zero floats
# anywhere in the plan. No logarithms: log-space
# perplexity would drag in libm (cross-engine ulp drift); the arithmetic
# mean of inverse probabilities ranks documents the same way for the
# curation gate (high = improbable under the corpus LM = OCR noise or
# gibberish; low = templated boilerplate).

_LM_SCALE = 1000

_LM_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tr AS (
  SELECT doc_id, ws[j + 1] AS prev, ws[j + 2] AS tok
  FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 1, 0))) AS j
        FROM w)
),
vocab AS (
  SELECT count(DISTINCT t) AS v FROM (
    SELECT prev AS t FROM tr UNION SELECT tok AS t FROM tr
  )
),
ctx AS (SELECT prev, count(*) AS c_prev FROM tr GROUP BY 1),
big AS (SELECT prev, tok, count(*) AS c_big FROM tr GROUP BY 1, 2),
scored AS (
  SELECT t.doc_id,
         ((c.c_prev + v.v) * {_LM_SCALE}) // (b.c_big + 1) AS inv_p
  FROM tr t
  JOIN big b ON b.prev = t.prev AND b.tok = t.tok
  JOIN ctx c ON c.prev = t.prev
  CROSS JOIN vocab v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST((sum(inv_p) * 10) // count(*) AS BIGINT) AS avg_surprise_e4
FROM scored GROUP BY 1
"""


@register(
    "bigram_lm_doc_scores",
    oracle=_LM_ORACLE,
    tags=("pipeline", "text", "curation"),
)
def bigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under an add-one-smoothed corpus bigram LM —
    the perplexity-filtering step of a curation pipeline (CCNet-style),
    in exact integer arithmetic (see the scaled-inverse-probability note
    above; no libm, so the oracle replays bit-for-bit).

    Scale: the model tables (context counts, bigram counts, vocabulary
    size) come from the once-per-corpus artifact (`_bigram_tables_dir`)
    — a trained LM ships its count tables; re-deriving them inside every
    scoring run re-paid the corpus explode per consumer (r7/r8:
    1.3 s vs the oracle's 0.16 s). The steady-state query scans the
    corpus ONCE (the per-doc transition explode that scoring
    irreducibly needs) and joins the model back per transition — all
    equi-joins that partial-combine map-side; the vocabulary size is a
    broadcast scalar, never a collect. At 100 TB the model tables shard
    by (prev[, tok]) hash like any aggregation; nothing is quadratic
    and nothing sits on the driver."""
    idx = _bigram_tables_dir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    ws = ensure_parallelism(docs).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    tr = ws.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2), "
                "j -> struct(ws[j] AS prev, ws[j+1] AS tok)) "
                "ELSE CAST(array() AS ARRAY<STRUCT<prev STRING, tok STRING>>) END"
            )
        ).alias("t"),
    ).select(
        "doc_id", F.col("t.prev").alias("prev"), F.col("t.tok").alias("tok")
    )
    vocab = read_artifact_table(spark, idx, "vocab")
    ctx = read_artifact_table(spark, idx, "ctx")
    big = read_artifact_table(spark, idx, "big").select(
        F.col("tok_x").alias("prev"),
        F.col("tok_y").alias("tok"),
        F.col("n_xy").alias("c_big"),
    )
    scored = (
        tr.join(big, ["prev", "tok"])
        .join(ctx, "prev")
        .crossJoin(broadcast(vocab))
        .withColumn(
            "inv_p", F.expr(f"((c_prev + v) * {_LM_SCALE}) DIV (c_big + 1)")
        )
    )
    # the mean stays a SCALED INTEGER (surprise x 10^4): sum is already in
    # 1/_LM_SCALE units, so (sum*10) DIV n is exact — emitting a rounded
    # double here hit the cross-engine round-half trap (the n*_LM_SCALE
    # denominators make exact 4-decimal ties common, and Java BigDecimal
    # HALF_UP vs C libm disagree on them)
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.expr("CAST((sum(inv_p) * 10) DIV count(1) AS BIGINT)").alias(
            "avg_surprise_e4"
        ),
    )
