"""Sequential-pattern, CDC, record-linkage, and model-filter operators —
the operator classes a production training-data platform layers on top of
the dedup/similarity core (no reference counterpart; the reference's only
sequential operator is the Q8/QX state machine, `NexmarkQuery8.java` /
`NexmarkQueryX.java`, which plans/nexmark.py already covers):

  * ``funnel_conversion``  — ordered multi-stage pattern matching over an
    event stream (the MATCH_RECOGNIZE / Flink-CEP class);
  * ``scd2_user_state``    — CDC changelog → slowly-changing-dimension
    type-2 validity intervals (the MERGE/upsert class);
  * ``entity_resolution_pairs`` — multi-pass blocked record linkage with
    edit-distance scoring (the entity-dedup class);
  * ``kmv_distinct_estimate``   — K-Minimum-Values cardinality sketch
    (Bar-Yossef et al. 2002), the deterministic, exactly-oracle-able
    counterpart to the no-oracle HLL in ``approx_user_stats``;
  * ``quality_classifier_scores`` — fixed-weight linear quality model
    (the fastText-classifier filtering stage of CCNet/FineWeb-style
    curation), decision margin + keep flag.

Determinism discipline follows registry.py: integer epoch-micros for all
times, md5-prefix u32 draws for hashes, IEEE double division only between
exact integers (correctly rounded, hence engine-identical), `round()`
before any float leaves the plan, and identical aliases in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.parallelism import ensure_parallelism
from ..sources.tables import load_table
from .registry import register

# ---------------------------------------------------------------------------
# funnel_conversion — ordered pattern matching (MATCH_RECOGNIZE class)
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_US = 7 * 86400 * 1_000_000  # purchase must land <= 7d after view

_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
),
v AS (
  SELECT user_id, min(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, v.v_us, min(e.us) AS c_us
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.us >= v.v_us
  GROUP BY 1, 2
),
p AS (
  SELECT e.user_id, min(e.us) AS p_us
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.us >= c.c_us AND e.us <= c.v_us + {_FUNNEL_WINDOW_US}
  GROUP BY 1
)
SELECT v.user_id,
       CAST(v.v_us AS BIGINT) AS view_us,
       CAST(c.c_us AS BIGINT) AS click_us,
       CAST(p.p_us AS BIGINT) AS purchase_us,
       CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS INT)
         AS funnel_stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


@register(
    "funnel_conversion",
    oracle=_FUNNEL_ORACLE,
    tags=("linkage", "pattern", "funnel"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel: per user, the first `view`, the first `click`
    at-or-after that view, and the first `purchase` at-or-after that click
    landing within 7 days of the view — the sequential pattern
    `A ->> B ->> C within T` that SQL spells MATCH_RECOGNIZE and Flink
    spells CEP. Spark-first form: a chain of min-aggregations, each
    stage's earliest-match joined forward as the next stage's lower
    bound (earliest-match semantics make the chained min exact).

    Scale: the funnel-relevant events are shuffled on user_id ONCE — an
    explicit repartition whose identical subtree every stage consumes, so
    Catalyst plans ReusedExchange and all three min-aggregations, both
    forward joins, and the final left joins run CO-LOCATED on that single
    partitioning (hash(user_id) satisfies every ClusteredDistribution in
    the chain; r6 EXPLAINS: 1 event-volume exchange, down from 6 — the
    per-stage type filters used to sit below each exchange, which broke
    canonical-plan equality and with it the docstring's old reuse claim).
    No per-user event array is ever collected (the collect_list/HOF
    alternative assumes a user's history fits one row — a hot user with
    10^8 events breaks it; the chained-agg form never does)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.expr("ts_ns DIV 1000").alias("us"))
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .repartition("user_id")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") >= F.col("v_us"))
        .groupBy("user_id", "v_us")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("us") >= F.col("c_us"))
            & (F.col("us") <= F.col("v_us") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    return (
        v.join(c.select("user_id", "c_us"), "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("v_us").cast("long").alias("view_us"),
            F.col("c_us").cast("long").alias("click_us"),
            F.col("p_us").cast("long").alias("purchase_us"),
            (
                F.lit(1)
                + F.col("c_us").isNotNull().cast("int")
                + F.col("p_us").isNotNull().cast("int")
            ).cast("int").alias("funnel_stage"),
        )
    )


# ---------------------------------------------------------------------------
# scd2_user_state — CDC changelog to SCD type-2 intervals (MERGE class)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
  FROM events
),
seq AS (
  SELECT user_id, us, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS prev_state
  FROM e
),
chg AS (
  SELECT user_id, us, event_id, event_type
  FROM seq
  WHERE prev_state IS NULL OR event_type <> prev_state
)
SELECT user_id,
       CAST(us AS BIGINT) AS valid_from_us,
       CAST(lead(us) OVER w AS BIGINT) AS valid_to_us,
       event_type AS state_value,
       CAST(row_number() OVER w AS INT) AS version,
       (lead(us) OVER w IS NULL) AS is_current
FROM chg
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
"""


@register(
    "scd2_user_state",
    oracle=_SCD2_ORACLE,
    tags=("linkage", "cdc", "scd2"),
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog → slowly-changing-dimension type 2: treat each event
    as an upsert of the user's tracked attribute (event_type — the user's
    current activity state), compress no-op updates (consecutive
    identical states — the CDC dedup step; ~1/5 of updates here, so the
    branch is exercised), and emit validity intervals
    `[valid_from, valid_to)` with a version counter and an is_current
    flag — the batch equivalent of MERGE-maintaining a SCD2 dimension
    from a Debezium-style stream.

    Cross-engine exactness: pure integer epoch-micros, `lag`/`lead`/
    `row_number` over the identical (us, event_id) total order, and the
    no-op compression compares stored strings — no arithmetic anywhere.

    Scale: both window passes and the compression filter key on user_id —
    one hash exchange total (Catalyst stacks the lag-window, filter, and
    lead/row_number-window into one sort within the same partitioning);
    per-partition sort spills gracefully, and nothing is corpus-global."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("us"),
        "event_type",
    )
    e = ensure_parallelism(e)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    chg = (
        e.withColumn("prev_state", F.lag("event_type").over(w))
        .filter(
            F.col("prev_state").isNull()
            | (F.col("event_type") != F.col("prev_state"))
        )
        .drop("prev_state")
    )
    return chg.select(
        "user_id",
        F.col("us").cast("long").alias("valid_from_us"),
        F.lead("us").over(w).cast("long").alias("valid_to_us"),
        F.col("event_type").alias("state_value"),
        F.row_number().over(w).cast("int").alias("version"),
        F.lead("us").over(w).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# entity_resolution_pairs — multi-pass blocked record linkage
# ---------------------------------------------------------------------------

# Deterministic "dirty registry": a perturbed copy of customer where 2/3 of
# names carry one synthetic typo (deletion or substitution inside the digit
# run of "Customer#NNNNNN..."). Same expression in Spark and SQL so the
# fixture is part of the oracle-checked plan, not test scaffolding — the
# pii_scrub injection pattern (plans/curation.py).
_ER_LEV_MAX = 2
_ER_BLOCK_CAP = 64  # pass-2 blocks larger than this are skipped (oversized-
# block guard — the standard linkage "skip big blocks" rule; quadratic
# pair-gen is only ever paid inside a bounded block)

_ER_DIRTY_SQL = """
  SELECT c_custkey AS b_key, c_nationkey AS b_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS b_cents,
         c_mktsegment AS b_segment,
         CASE
           WHEN c_custkey % 3 = 0 THEN
             substr(c_name, 1, 9 + c_custkey % 6)
             || substr(c_name, 11 + c_custkey % 6)
           WHEN c_custkey % 3 = 1 THEN
             substr(c_name, 1, 9 + c_custkey % 6) || 'x'
             || substr(c_name, 11 + c_custkey % 6)
           ELSE c_name
         END AS b_name
  FROM customer
"""

_ER_ORACLE = f"""
WITH a AS (
  SELECT c_custkey AS a_key, c_nationkey AS a_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS a_cents,
         c_mktsegment AS a_segment, c_name AS a_name
  FROM customer
),
b AS ({_ER_DIRTY_SQL}),
pass1 AS (
  SELECT a.a_key, b.b_key, a.a_name, b.b_name
  FROM a JOIN b ON a.a_nationkey = b.b_nationkey AND a.a_cents = b.b_cents
),
b2 AS (
  SELECT *, count(*) OVER (PARTITION BY b_segment, substr(b_name, -3))
              AS blk_n
  FROM b
),
pass2 AS (
  SELECT a.a_key, b2.b_key, a.a_name, b2.b_name
  FROM a JOIN b2 ON a.a_segment = b2.b_segment
                AND substr(a.a_name, -3) = substr(b2.b_name, -3)
  WHERE b2.blk_n <= {_ER_BLOCK_CAP}
),
cand AS (
  SELECT DISTINCT a_key, b_key, a_name, b_name
  FROM (SELECT * FROM pass1 UNION ALL SELECT * FROM pass2)
)
SELECT CAST(a_key AS BIGINT) AS a_key,
       CAST(b_key AS BIGINT) AS b_key,
       CAST(levenshtein(a_name, b_name) AS INT) AS lev
FROM cand
WHERE levenshtein(a_name, b_name) <= {_ER_LEV_MAX}
"""


def _er_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    # cached: the clean side, the dirty side, and (downstream) both
    # blocking passes and the pass-2 block-size window each hang off this
    # one frame, and Spark re-runs the scan + ensure_parallelism exchange
    # per branch otherwise (r7: 5 customer scans in the ER plan, 1.06 s vs
    # the oracle's 0.14 s)
    cust = ensure_parallelism(load_table(spark, sf_dir, "customer")).cache()
    return _er_sides_from(cust)


def _er_sides_from(cust: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Clean side A + deterministically dirtied side B from a customer-shaped
    frame (factored out so the scaling probe can feed a replicated corpus)."""
    a = cust.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_nationkey").alias("a_nationkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("a_cents"),
        F.col("c_mktsegment").alias("a_segment"),
        F.col("c_name").alias("a_name"),
    )
    head = F.expr("substr(c_name, 1, 9 + c_custkey % 6)")
    tail = F.expr("substr(c_name, 11 + c_custkey % 6)")
    b = cust.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_nationkey").alias("b_nationkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("b_cents"),
        F.col("c_mktsegment").alias("b_segment"),
        F.when(F.col("c_custkey") % 3 == 0, F.concat(head, tail))
        .when(F.col("c_custkey") % 3 == 1, F.concat(head, F.lit("x"), tail))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
    )
    return a, b


@register(
    "entity_resolution_pairs",
    oracle=_ER_ORACLE,
    tags=("linkage", "entity-resolution", "dedup"),
)
def entity_resolution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage between a clean registry and a deterministically
    dirtied copy of it (2/3 of names carry one injected typo): the
    classic multi-pass BLOCKING + edit-distance pipeline — pass 1 blocks
    on reliable attributes (nationkey, exact balance cents), pass 2 on a
    redundant key (segment, name 3-suffix) to catch records pass 1
    misses, candidates are unioned/deduped, and only candidates pay
    `levenshtein() <= 2`. Never all-pairs: pair generation is confined
    to blocks, and pass-2 blocks larger than _ER_BLOCK_CAP are skipped
    (the standard oversized-block rule — same guard class as
    simhash_neardup_pairs' re-banding and embedding_neardup_pairs'
    block split).

    Scale: pass-1 block sizes are O(duplicates-per-entity) — constant in
    corpus size, so candidates grow LINEARLY with data (measured: 15k →
    243k candidates for 15k → 240k entities, docs/scaling_r5_linkage.json);
    pass-2 blocks grow with data, but each A-row meets at most CAP
    surviving B-rows, so capped candidates are <= cap * |A| — linear
    (measured 8.2M <= 64 * 240k at x16 vs 14.5M uncapped and rising
    quadratically; once every block of a saturating key exceeds the cap,
    pass 2 contributes nothing and recall rests on pass 1 — the standard
    fate of a low-cardinality blocking key). Both joins are plain
    hash-equi-joins on the block key (one shuffle each); levenshtein runs
    JVM-side inside codegen."""
    a, b = _er_sides(spark, sf_dir)
    p1 = a.join(
        b,
        (F.col("a_nationkey") == F.col("b_nationkey"))
        & (F.col("a_cents") == F.col("b_cents")),
    ).select("a_key", "b_key", "a_name", "b_name")
    bw = Window.partitionBy("b_segment", F.expr("substr(b_name, -3, 3)"))
    b2 = b.withColumn("blk_n", F.count(F.lit(1)).over(bw)).filter(
        F.col("blk_n") <= _ER_BLOCK_CAP
    )
    p2 = a.join(
        b2,
        (F.col("a_segment") == F.col("b_segment"))
        & (
            F.expr("substr(a_name, -3, 3)")
            == F.expr("substr(b_name, -3, 3)")
        ),
    ).select("a_key", "b_key", "a_name", "b_name")
    cand = p1.unionByName(p2).distinct()
    lev = F.levenshtein("a_name", "b_name")
    return cand.filter(lev <= _ER_LEV_MAX).select(
        F.col("a_key").cast("long").alias("a_key"),
        F.col("b_key").cast("long").alias("b_key"),
        lev.cast("int").alias("lev"),
    )


# ---------------------------------------------------------------------------
# golden_record_merge — survivorship over the linked entity clusters
# ---------------------------------------------------------------------------

# MATERIALIZED CTEs throughout: DuckDB inlines plain CTEs per consumer,
# and `b` feeds both blocking passes while `m` (the levenshtein-verified
# candidate set) feeds the aggregate — uninlined, the dirty-side projection
# and the capped pass-2 block join re-ran per reference and this oracle was
# the comparator's slowest query (10-36 s at sf0.1 -> 1.7 s, same rows).
_GOLDEN_ORACLE = f"""
WITH a AS MATERIALIZED (
  SELECT c_custkey AS a_key, c_nationkey AS a_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS a_cents,
         c_mktsegment AS a_segment, c_name AS a_name
  FROM customer
),
b AS MATERIALIZED ({_ER_DIRTY_SQL}),
pass1 AS MATERIALIZED (
  SELECT a.a_key, a.a_name, a.a_cents, b.b_key, b.b_name, b.b_cents
  FROM a JOIN b ON a.a_nationkey = b.b_nationkey AND a.a_cents = b.b_cents
),
b2 AS MATERIALIZED (
  SELECT *, count(*) OVER (PARTITION BY b_segment, substr(b_name, -3))
              AS blk_n
  FROM b
),
pass2 AS MATERIALIZED (
  SELECT a.a_key, a.a_name, a.a_cents, b2.b_key, b2.b_name, b2.b_cents
  FROM a JOIN b2 ON a.a_segment = b2.b_segment
                AND substr(a.a_name, -3) = substr(b2.b_name, -3)
  WHERE b2.blk_n <= {_ER_BLOCK_CAP}
),
m AS MATERIALIZED (
  SELECT *, levenshtein(a_name, b_name) AS lev
  FROM (
    SELECT DISTINCT a_key, a_name, a_cents, b_key, b_name, b_cents
    FROM (SELECT * FROM pass1 UNION ALL SELECT * FROM pass2)
  )
  WHERE levenshtein(a_name, b_name) <= {_ER_LEV_MAX}
),
g AS (
  SELECT a_key, a_name, a_cents,
         count(*) AS n_matches,
         min(lev) AS min_lev,
         min(struct_pack(l := lev, bk := b_key, bn := b_name)) AS best,
         max(b_cents) AS max_b_cents
  FROM m GROUP BY 1, 2, 3
)
SELECT CAST(a_key AS BIGINT) AS a_key,
       CAST(n_matches AS INT) AS n_matches,
       CAST(min_lev AS INT) AS min_lev,
       CAST(best.bk AS BIGINT) AS best_b_key,
       CASE WHEN length(best.bn) > length(a_name) THEN best.bn
            ELSE a_name END AS golden_name,
       CAST(greatest(a_cents, max_b_cents) AS BIGINT) AS golden_cents
FROM g
"""


@register(
    "golden_record_merge",
    oracle=_GOLDEN_ORACLE,
    tags=("linkage", "entity-resolution", "mdm"),
)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the step AFTER record linkage in an MDM/golden-
    record pipeline: for every clean entity, merge its matched dirty
    records into one golden row by deterministic survivorship rules
    (best match = lowest (edit-distance, key); longest-name-wins with
    the clean name preferred on ties; balance = greatest observed).
    Consumes the same two-pass blocked candidate relation as
    ``entity_resolution_pairs`` with the source attributes carried
    through to the merge.

    Scale: inherits the linear-candidate argument of the blocking
    passes (pass-1 blocks O(dups/entity), pass-2 capped at
    _ER_BLOCK_CAP rows per A-row); the survivorship itself is ONE
    hash aggregation on a_key with min(struct(lev, b_key, b_name)) —
    the map-side-combining argmin (registry discipline: never a
    row_number window), so the exchange carries one partial golden row
    per entity per mapper, not the match pairs. String survivorship
    (longest/lex) is pure codegen CASE/length."""
    a, b = _er_sides(spark, sf_dir)
    attrs = ["a_key", "a_name", "a_cents", "b_key", "b_name", "b_cents"]
    p1 = a.join(
        b,
        (F.col("a_nationkey") == F.col("b_nationkey"))
        & (F.col("a_cents") == F.col("b_cents")),
    ).select(*attrs)
    bw = Window.partitionBy("b_segment", F.expr("substr(b_name, -3, 3)"))
    b2 = b.withColumn("blk_n", F.count(F.lit(1)).over(bw)).filter(
        F.col("blk_n") <= _ER_BLOCK_CAP
    )
    p2 = a.join(
        b2,
        (F.col("a_segment") == F.col("b_segment"))
        & (
            F.expr("substr(a_name, -3, 3)")
            == F.expr("substr(b_name, -3, 3)")
        ),
    ).select(*attrs)
    lev = F.levenshtein("a_name", "b_name")
    m = (
        p1.unionByName(p2)
        .distinct()
        .withColumn("lev", lev)
        .filter(F.col("lev") <= _ER_LEV_MAX)
    )
    g = m.groupBy("a_key", "a_name", "a_cents").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("lev").alias("min_lev"),
        F.min(
            F.struct(
                F.col("lev").alias("l"),
                F.col("b_key").alias("bk"),
                F.col("b_name").alias("bn"),
            )
        ).alias("best"),
        F.max("b_cents").alias("max_b_cents"),
    )
    return g.select(
        F.col("a_key").cast("long").alias("a_key"),
        F.col("n_matches").cast("int").alias("n_matches"),
        F.col("min_lev").cast("int").alias("min_lev"),
        F.col("best.bk").cast("long").alias("best_b_key"),
        F.when(
            F.length("best.bn") > F.length("a_name"), F.col("best.bn")
        )
        .otherwise(F.col("a_name"))
        .alias("golden_name"),
        F.greatest("a_cents", "max_b_cents").cast("long").alias("golden_cents"),
    )


# ---------------------------------------------------------------------------
# kmv_distinct_estimate — K-Minimum-Values cardinality sketch
# ---------------------------------------------------------------------------

_KMV_K = 64

_KMV_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || event_type),
                         1, 8)) AS BIGINT) AS h
  FROM events
),
kth AS (
  SELECT max(h) AS kth_hash FROM (
    SELECT h FROM h ORDER BY h LIMIT {_KMV_K}
  )
),
exact AS (
  SELECT count(DISTINCT CAST(user_id AS VARCHAR) || ':' || event_type)
           AS exact_distinct
  FROM events
)
SELECT CAST({_KMV_K} AS INT) AS k,
       CAST(kth.kth_hash AS BIGINT) AS kth_hash,
       CAST(round(CAST({_KMV_K - 1} * 4294967296 AS DOUBLE) / kth.kth_hash)
            AS BIGINT) AS est_distinct,
       CAST(exact.exact_distinct AS BIGINT) AS exact_distinct,
       round(
         (round(CAST({_KMV_K - 1} * 4294967296 AS DOUBLE) / kth.kth_hash)
          - exact.exact_distinct) / exact.exact_distinct, 6) AS rel_err
FROM kth, exact
"""


@register(
    "kmv_distinct_estimate",
    oracle=_KMV_ORACLE,
    tags=("linkage", "sketch", "cardinality"),
)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-count sketch (Bar-Yossef et al., RANDOM
    2002): hash every (user_id, event_type) entity to a u32, keep the K
    smallest distinct hashes, estimate |D| ≈ (K-1)·2^32 / h_(K) — the
    deterministic, mergeable cardinality sketch. approx_user_stats
    already pins Spark's native HLL surface but is structurally
    no_oracle (HLL internals are engine-specific); KMV is exactly
    reproducible cross-engine, so THIS entry carries the hash-gated
    sketch evidence, alongside the exact count and the realized relative
    error.

    Cross-engine exactness: the md5-prefix u32 draw (identical bytes both
    engines), integer k-th selection, and one IEEE double division of two
    exact integers (< 2^53 — correctly rounded identically).

    Scale: DISTINCT on the hash is one map-side-combinable exchange; the
    K-smallest selection is `ORDER BY h LIMIT K`, which Catalyst executes
    as TakeOrderedAndProject — per-partition top-K then a K-row merge, no
    global sort. Both sketch and exact sides partial-aggregate; the final
    single-row crossJoin is trivially broadcast. In a 1000-executor run
    the sketch side moves only K rows per partition."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    ent = F.concat(
        F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")
    )
    h = (
        ev.select(
            F.conv(F.substring(F.md5(ent), 1, 8), 16, 10)
            .cast("long")
            .alias("h")
        )
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").alias("kth_hash"))
    )
    exact = ev.select(ent.alias("e")).agg(
        F.count_distinct(F.col("e")).alias("exact_distinct")
    )
    est = F.round(
        F.lit(float(_KMV_K - 1) * 4294967296.0) / F.col("kth_hash")
    ).cast("long")
    return h.crossJoin(exact).select(
        F.lit(_KMV_K).cast("int").alias("k"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        est.alias("est_distinct"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.round(
            (est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# quality_classifier_scores — fixed-weight linear quality model
# ---------------------------------------------------------------------------

# Hand-fixed logistic-regression weights (a stand-in for a trained fastText/
# LR quality classifier — the weights are the model artifact a real pipeline
# would broadcast): z = w0 + w·features, keep = z > 0.
_QC_W0 = -1.85
_QC_W_NTOK = 0.004
_QC_W_UNIQ = 2.5
_QC_W_STOP = -3.0
_QC_W_LEN = 0.15

_QC_ORACLE = f"""
WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents),
f AS (
  SELECT doc_id,
         len(ws) AS n_tokens,
         round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS uniq_ratio,
         round(CAST(len(list_filter(ws, t -> t IN ('the', 'a'))) AS DOUBLE)
               / len(ws), 4) AS stopword_ratio,
         round(CAST(n_chars - len(ws) + 1 AS DOUBLE) / len(ws), 4) AS avg_token_len
  FROM w
)
SELECT doc_id,
       round(CAST({_QC_W0} AS DOUBLE) + CAST({_QC_W_NTOK} AS DOUBLE) * n_tokens
             + CAST({_QC_W_UNIQ} AS DOUBLE) * uniq_ratio
             + CAST({_QC_W_STOP} AS DOUBLE) * stopword_ratio
             + CAST({_QC_W_LEN} AS DOUBLE) * avg_token_len, 6) AS z_score,
       (round(CAST({_QC_W0} AS DOUBLE) + CAST({_QC_W_NTOK} AS DOUBLE) * n_tokens
              + CAST({_QC_W_UNIQ} AS DOUBLE) * uniq_ratio
              + CAST({_QC_W_STOP} AS DOUBLE) * stopword_ratio
              + CAST({_QC_W_LEN} AS DOUBLE) * avg_token_len, 6) > 0.0) AS keep
FROM f
"""


@register(
    "quality_classifier_scores",
    oracle=_QC_ORACLE,
    tags=("linkage", "text", "model-filter"),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a fixed-weight linear classifier over
    the text_quality_scores feature set (token count, vocabulary
    diversity, stopword density, mean token length) emitting the decision
    margin and a keep flag — the CCNet/FineWeb curation stage where a
    trained classifier (weights broadcast to every executor) gates
    documents. Weights are module constants standing in for the model
    artifact; swapping in trained ones changes no plan shape.

    Cross-engine exactness: each feature ratio is one IEEE division of
    exact integers rounded to 4 places (the proven text_quality_scores
    discipline); the margin is a left-associated double dot product of
    identical literals evaluated in the same order in both engines, then
    rounded to 6 places BEFORE the threshold compare — so keep flips
    identically on both sides.

    Scale: zero shuffles — a pure per-row projection over the scan
    (split/array HOFs all JVM codegen); at 100 TB this is scan-bound and
    embarrassingly parallel, exactly what a filter stage must be."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    ws = F.split("text", " ")
    n_tokens = F.size(ws)
    uniq = F.round(
        F.size(F.array_distinct(ws)).cast("double") / n_tokens, 4
    )
    stop = F.round(
        F.size(F.expr("filter(split(text, ' '), t -> t IN ('the', 'a'))")).cast(
            "double"
        )
        / n_tokens,
        4,
    )
    alen = F.round(
        (F.col("n_chars") - n_tokens + 1).cast("double") / n_tokens, 4
    )
    z = F.round(
        F.lit(_QC_W0)
        + F.lit(_QC_W_NTOK) * n_tokens
        + F.lit(_QC_W_UNIQ) * uniq
        + F.lit(_QC_W_STOP) * stop
        + F.lit(_QC_W_LEN) * alen,
        6,
    )
    return docs.select(
        "doc_id", z.alias("z_score"), (z > F.lit(0.0)).alias("keep")
    )


# ---------------------------------------------------------------------------
# Streaming twins — CEP pattern matching + CDC merge under streaming
# ---------------------------------------------------------------------------


# (max_ts_ns, sentinel dir) per events-file content fingerprint — the agg
# and the one-row parquet write cost ~0.7 s per replay otherwise, paid on
# every timed bench construction
_SENTINEL_CACHE: dict[tuple[int, str], tuple[int, str]] = {}


def _sentinel_event_stream(
    spark: SparkSession, sf_dir: str, with_value: bool = False
) -> tuple[DataFrame, int]:
    """The event stream plus a one-row flush sentinel (user_id -1,
    ts = max event time + 8 days): the bounded-replay analog of Flink's
    end-of-input watermark. Returns (stream, flush_ms) — the horizon
    every keyed flush timer registers at. Shared by the funnel and SCD2
    streaming twins.

    SINGLE-SOURCE form (r10): the sentinel is written as a RAW-schema
    parquet file (pyarrow, copying the events file's exact arrow schema)
    into a combined scratch dir beside a link to events.parquet, and the
    replay runs ONE file source over that dir. The pre-r10 two-source
    union paid a second source's listing + offset-log + getBatch on every
    micro-batch of every sentinel replay — machinery the stream floor
    probe (one source) never pays, i.e. pure net-of-floor overhead. The
    max-ts probe and the combined dir are cached per (session,
    events-file content) — the sentinel depends only on the source data,
    not on the consuming query. ``with_value`` adds the quantized value
    column ``v_fp`` (1e-3 fixed point, 0 on the sentinel row, whose raw
    value is written as 0) for value-folding consumers like the EWMA
    twin."""
    import os
    import shutil
    import uuid

    from ..streaming.runner import track_ephemeral_dir
    from ..streaming.sources import cached_parquet_schema, stream_events_dir

    ev_path = f"{sf_dir.rstrip('/')}/events.parquet"
    st = os.stat(ev_path)
    ck = (id(spark), f"{ev_path}:{st.st_mtime_ns}:{st.st_size}")
    cached = _SENTINEL_CACHE.get(ck)
    if cached is not None and os.path.isdir(cached[1]):
        max_ts_ns, comb_dir = cached
    else:
        import pyarrow as pa
        import pyarrow.parquet as papq

        max_ts_ns = (
            load_table(spark, sf_dir, "events")
            .agg(F.max("ts_ns").alias("m"))
            .collect()[0]["m"]
        )
        sent_us = max_ts_ns // 1000 + 8 * 86400 * 1_000_000
        comb_dir = track_ephemeral_dir(
            os.path.join(
                "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp",
                f"spark_graft_flush_combined_{uuid.uuid4().hex[:8]}",
            )
        )
        os.makedirs(comb_dir, exist_ok=True)
        # link (or copy) the events file(s) into the combined dir
        srcs = (
            [
                (os.path.join(ev_path, f), f"events_{i:02d}.parquet")
                for i, f in enumerate(sorted(os.listdir(ev_path)))
                if f.endswith(".parquet")
            ]
            if os.path.isdir(ev_path)
            else [(ev_path, "events.parquet")]
        )
        for src, dst_name in srcs:
            dst = os.path.join(comb_dir, dst_name)
            try:
                os.link(src, dst)
            except OSError:
                try:
                    os.symlink(src, dst)
                except OSError:
                    shutil.copy2(src, dst)
        # the sentinel row in the EXACT raw arrow schema of the events file
        raw_schema = papq.ParquetFile(srcs[0][0]).schema_arrow
        arrays = []
        for field in raw_schema:
            if field.name in ("user_id", "event_id"):
                arr = pa.array([-1], type=pa.int64()).cast(field.type)
            elif field.name == "event_type":
                arr = pa.array(["flush"]).cast(field.type)
            elif field.name == "ts":
                if pa.types.is_integer(field.type):
                    # nanos-as-long layout
                    v = max_ts_ns + 8 * 86400 * 1_000_000_000
                else:
                    unit = field.type.unit
                    mult = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[
                        unit
                    ]
                    v = sent_us * 1000 if unit == "ns" else sent_us // mult
                arr = pa.array([v], type=pa.int64()).cast(field.type)
            elif field.name == "value":
                arr = pa.array([0.0], type=pa.float64()).cast(field.type)
            elif field.name == "props":
                arr = pa.array([""]).cast(field.type)
            else:
                arr = pa.array([None], type=field.type)
            arrays.append(arr)
        papq.write_table(
            pa.Table.from_arrays(arrays, schema=raw_schema),
            os.path.join(comb_dir, "zz_sentinel.parquet"),
        )
        _SENTINEL_CACHE[ck] = (max_ts_ns, comb_dir)
    flush_ms = max_ts_ns // 1_000_000 + 1
    ev = stream_events_dir(
        spark, comb_dir, cached_parquet_schema(spark, ev_path)
    ).select(
        "user_id",
        "event_type",
        F.expr("ts_ns DIV 1000").alias("us"),
        "event_id",
        "ts",
        *(
            [F.expr("CAST(round(value * 1000) AS BIGINT)").alias("v_fp")]
            if with_value
            else []
        ),
    )
    return ev, flush_ms


@register(
    "funnel_conversion_stream_replay",
    oracle=_FUNNEL_ORACLE,  # identical output contract to the batch funnel
    tags=("streaming", "linkage", "pattern", "stateful"),
)
def funnel_conversion_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The funnel pattern matcher UNDER STREAMING EXECUTION — the CEP
    deployment shape (match `view ->> click ->> purchase within 7d` as
    events arrive). This bounded-replay entry runs
    ``funnel_spec(window_us)`` on the bucketed watermark-fold driver
    (streaming/stateful.py::bucketed_stateful): ``funnel_fold`` over
    watermark-finalized prefixes, state coarsened into hash buckets of
    user_id, one row per matched user at the flush horizon — emission
    timing is unobservable under the batch oracle, and the per-key Python
    group-call machinery was the replay's dominant cost. The PER-KEY-TIMER
    form (``funnel_stateful`` — the reference's timer-per-auction pattern,
    NexmarkQueryX.java:465: each key emits and frees its state the moment
    the watermark proves its row immutable) is the continuous deployment
    form, with its incremental pre-horizon emission pinned live by
    tests/test_continuous_cep.py and its row-set parity with this replay
    pinned by tests/test_bucketed_stateful.py. The one-row flush sentinel
    (ts = max event time + 8 days, the bounded-replay analog of Flink's
    end-of-input watermark) settles the open-ended keys, which is what
    lets this replay share the batch funnel oracle verbatim.

    Scale: matched state is three BIGINTs per user plus a pending buffer
    bounded by the watermark lag, hash-partitioned on user_id (bucket
    count rides the shuffle-partition count at real scale); the per-key
    timer form frees state continuously instead of accumulating every
    key to a global flush."""

    from ..streaming.runner import run_available_now
    from ..streaming.stateful import bucketed_stateful, funnel_spec

    stream, flush_ms = _sentinel_event_stream(spark, sf_dir)
    # JVM-side pre-filter (r10): the funnel fold only reads
    # view/click/purchase rows — signup/error (~40% of the stream) used to
    # ride the full shuffle + state-buffer + Arrow + pickle machinery just
    # to be skipped inside Python. The sentinel row (user_id < 0) must
    # pass: it advances the watermark to the flush horizon.
    stream = stream.filter(
        (F.col("user_id") < 0)
        | F.col("event_type").isin("view", "click", "purchase")
    )
    out = run_available_now(
        # bucketed state: one row per matched user at the flush horizon —
        # per-key parity pinned by tests/test_bucketed_stateful.py
        bucketed_stateful(stream, flush_ms, funnel_spec(_FUNNEL_WINDOW_US)),
        output_mode="append",
        # the sentinel end-of-input fast path flushes in the data batch
        # (streaming/stateful.py::bucketed_stateful, r11) — no timers
        # remain armed, so the trailing no-data batch is pure cost
        no_data_batch=False,
        # state partitions: replay_state_partitions() default (8 local
        # since r11, env-overridable) — the old explicit pin duplicated it
    )
    return out.select(
        "user_id",
        "view_us",
        "click_us",
        "purchase_us",
        F.col("funnel_stage").cast("int").alias("funnel_stage"),
    )


@register(
    "scd2_stream_replay",
    oracle=_SCD2_ORACLE,  # identical output contract to the batch SCD2
    tags=("streaming", "linkage", "cdc", "stateful"),
)
def scd2_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC→SCD2 merge UNDER STREAMING EXECUTION — maintain the
    type-2 dimension incrementally as the changelog arrives: closed
    validity intervals emit append-mode the moment the watermark
    finalizes their successor (immutable-on-emit, so a downstream table
    can be queried mid-stream), and the open intervals emit
    is_current = true at the flush horizon. Output ≡ the batch
    `scd2_user_state`, so the streaming MERGE sits under the same hash
    gate.

    Scale: durable state is one (state, from, version) triple per key
    plus the watermark-lag-bounded pending buffer, coarsened into hash
    buckets (streaming/stateful.py::bucketed_stateful with ``SCD2_SPEC``,
    r9: per-key state paid ~2 s of group-call machinery at sf0.1; parity
    with the per-key form, ``n_buckets=None``, pinned by
    tests/test_bucketed_stateful.py);
    everything keys on user_id. The flush sentinel is the bounded-replay
    analog of Flink's end-of-input watermark (shared helper with the
    funnel twin)."""

    from ..streaming.runner import run_available_now
    from ..streaming.stateful import SCD2_SPEC, bucketed_stateful

    stream, flush_ms = _sentinel_event_stream(spark, sf_dir)
    out = run_available_now(
        bucketed_stateful(stream, flush_ms, SCD2_SPEC),
        output_mode="append",
        # sentinel end-of-input fast path: flush in the data batch, skip
        # the trailing no-data batch (streaming/stateful.py, r11)
        no_data_batch=False,
        # state partitions: replay_state_partitions() default (8 local
        # since r11, env-overridable) — the old explicit pin duplicated it
    )
    return out.select(
        "user_id",
        "valid_from_us",
        "valid_to_us",
        "state_value",
        F.col("version").cast("int").alias("version"),
        "is_current",
    )


# ---------------------------------------------------------------------------
# events_upsert_snapshot — changelog compaction to a current snapshot
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type, value
  FROM events
),
ranked AS (
  SELECT user_id, us, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC)
           AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_ops
  FROM e
)
SELECT user_id,
       CAST(us AS BIGINT) AS last_us,
       value AS last_value,
       event_type AS last_type,
       CAST(n_ops AS BIGINT) AS n_ops
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


@register(
    "events_upsert_snapshot",
    oracle=_UPSERT_ORACLE,
    tags=("linkage", "cdc", "merge-compaction"),
)
def events_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog → current-snapshot compaction, the lakehouse MERGE
    materialization (Delta/Iceberg merge-on-read compaction semantics):
    each event upserts its user's row; an `error` event is the tombstone
    (DELETE marker) — a user whose LAST operation is a tombstone is
    absent from the snapshot. Complements scd2_user_state: SCD2 keeps
    full history with validity intervals, this keeps only the live row
    set plus an n_ops compaction statistic.

    Scale: one user_id exchange carrying both the arg-latest window and
    the op count (same partitioning, one sort); the tombstone filter
    applies after rank so a delete genuinely removes the key rather than
    resurrecting the previous version — MERGE semantics, not max()."""
    e = ensure_parallelism(load_table(spark, sf_dir, "events")).select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("us"),
        "event_type",
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    wc = Window.partitionBy("user_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_ops", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("us").cast("long").alias("last_us"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_type"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
    )


# ---------------------------------------------------------------------------
# cdc_snapshot_delta — the diff between two snapshot points of the changelog
# ---------------------------------------------------------------------------
# Completes the CDC story: events_upsert_snapshot materializes ONE point;
# this operator diffs the snapshot as-of the 70% time cut against the final
# snapshot — exactly what an incremental consumer (reverse ETL, cache
# invalidation, downstream MERGE) needs from a lakehouse table between two
# commits. change_type: 'added' (key live only in the new snapshot),
# 'removed' (tombstoned since the cut), 'changed' (live in both, payload
# differs); unchanged keys are not emitted.

_DELTA_PCT = 70

_CDC_DELTA_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type, value
  FROM events
),
bounds AS (SELECT min(us) AS mn, max(us) AS mx FROM e),
cut AS (SELECT mn + (mx - mn) * {_DELTA_PCT} // 100 AS t1 FROM bounds),
snap1 AS (
  SELECT user_id, us AS last_us, value AS last_value FROM (
    SELECT e.user_id, e.us, e.value, e.event_type,
           row_number() OVER (PARTITION BY e.user_id
                              ORDER BY e.us DESC, e.event_id DESC) AS rn
    FROM e, cut c WHERE e.us <= c.t1
  ) WHERE rn = 1 AND event_type <> 'error'
),
snap2 AS (
  SELECT user_id, us AS last_us, value AS last_value FROM (
    SELECT user_id, us, value, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY us DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1 AND event_type <> 'error'
)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       CASE WHEN a.user_id IS NULL THEN 'added'
            WHEN b.user_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type,
       a.last_us AS old_last_us, a.last_value AS old_value,
       b.last_us AS new_last_us, b.last_value AS new_value
FROM snap1 a FULL OUTER JOIN snap2 b ON a.user_id = b.user_id
WHERE a.user_id IS NULL OR b.user_id IS NULL
   OR a.last_us <> b.last_us OR a.last_value <> b.last_value
"""


def _snapshot_at(e: DataFrame, upto: object) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    src = e if upto is None else e.filter(F.col("us") <= upto)
    return (
        src.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select("user_id", F.col("us").alias("last_us"), F.col("value").alias("last_value"))
    )


@register(
    "cdc_snapshot_delta",
    oracle=_CDC_DELTA_ORACLE,
    tags=("linkage", "cdc", "delta"),
)
def cdc_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot CDC delta (added / removed / changed keys
    between the 70%-time-cut snapshot and the final snapshot), the
    incremental-consumer contract of a lakehouse table.

    Scale: the cut is a broadcast scalar agg (exact integer-micros
    arithmetic, no collect); each snapshot is one user_id exchange with
    an arg-latest window; the diff is a single full-outer equi-join on
    the snapshot key — every stage is key-partitioned and the emitted
    relation is only the changed keys, which is the point of shipping a
    delta instead of the snapshot."""
    e = ensure_parallelism(load_table(spark, sf_dir, "events")).select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("us"),
        "event_type",
        "value",
    )
    bounds = e.agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    ).select(F.expr(f"mn + (mx - mn) * {_DELTA_PCT} DIV 100").alias("t1"))
    e1 = e.crossJoin(F.broadcast(bounds))
    snap1 = _snapshot_at(e1.filter(F.col("us") <= F.col("t1")), None).select(
        F.col("user_id"),
        F.col("last_us").alias("old_last_us"),
        F.col("last_value").alias("old_value"),
    )
    snap2 = _snapshot_at(e, None).select(
        F.col("user_id"),
        F.col("last_us").alias("new_last_us"),
        F.col("last_value").alias("new_value"),
    )
    j = snap1.join(snap2, "user_id", "full_outer")
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("old_last_us").isNull(), F.lit("added"))
            .when(F.col("new_last_us").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed")),
        )
        .filter(
            F.col("old_last_us").isNull()
            | F.col("new_last_us").isNull()
            | (F.col("old_last_us") != F.col("new_last_us"))
            | (F.col("old_value") != F.col("new_value"))
        )
        .select(
            "user_id",
            "change_type",
            "old_last_us",
            "old_value",
            "new_last_us",
            "new_value",
        )
    )
