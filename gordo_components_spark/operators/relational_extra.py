"""Relational breadth addendum: correlated subqueries, grouping sets,
cube, unpivot/reshape, and three-valued-logic null operators — the SQL
surface a reference user's ad-hoc queries hit beyond the §2 core.
The subquery/grouping/null entries, the Benford screen and the Gini
skew screen are one SQL text that Spark runs and DuckDB checks
(``register_sql``), exercising the SQL front-end; the rest
keep a Spark body, each for the reason given at its registration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.caches import persist_tracked
from gordo_components_spark.operators.relational import _osum_cents
from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table


register_sql(
    "join_correlated_scalar",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
    doc="""Correlated scalar subquery (decorrelates to an aggregate + join in
    Catalyst — verify no per-row re-execution survives in the plan).""",
)


register_sql(
    "agg_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n,
           {_osum_cents('o_totalprice', 'revenue_cents')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="""Explicit GROUPING SETS through the SQL front-end.""",
)


register_sql(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="""CUBE: all 2^k grouping combinations in one Expand pass.""",
)


# Two bodies: Spark unpivots with one ``stack`` pass; the oracle is a 3-scan UNION ALL.
@register(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    """,
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot via ``stack`` (the melt of the reference's
    MultiIndex→long conversions); oracle is the explicit UNION ALL form."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, val)"
        ),
    )


register_sql(
    "scalar_null_ops",
    """
    WITH t AS (
      SELECT event_id, value,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id,
           COALESCE(v, -1.0) AS v_filled,
           NULLIF(value, 0.0) AS v_nullif,
           (v IS NULL) AS v_missing,
           (v IS DISTINCT FROM value) AS v_differs
    FROM t
    """,
    doc="""Three-valued-logic surface: COALESCE / NULLIF / IS [NOT] NULL /
    IS DISTINCT FROM — identical semantics both engines.""",
)


@register("agg_hll_sketch_merge", oracle=None)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (rows-only; the bound vs exact
    is pytest-asserted in tests/test_approx_tolerance.py): per-day
    Datasketches HLL sketches of active users, merged with
    ``hll_union_agg`` into weekly estimates.

    This is THE 100 TB pattern for distinct counts: per-partition/day
    sketches are tiny (≤ KBs), mergeable across any regrouping
    (day→week→month reuses the same sketches, no rescan), and the merge
    is associative so partial aggregation applies — an exact
    COUNT(DISTINCT) would reshuffle the raw keys every time the rollup
    level changes."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    weekly = (
        daily.groupBy(F.date_trunc("week", "day").alias("week"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"),
            F.count(F.lit(1)).alias("n_days_merged"),
        )
    )
    return weekly.select("week", "approx_users", "n_days_merged")


# Two bodies: the Spark body cross-joins three step counts; the oracle
# folds them as scalar subqueries, a different plan.
@register(
    "agg_funnel_steps",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'signup'
      GROUP BY user_id
    ), s2 AS (
      SELECT ev.user_id, MIN(ev.ts) AS t2
      FROM ev JOIN s1 ON ev.user_id = s1.user_id
      WHERE ev.event_type = 'click' AND ev.ts >= s1.t1
      GROUP BY ev.user_id
    ), s3 AS (
      SELECT ev.user_id, MIN(ev.ts) AS t3
      FROM ev JOIN s2 ON ev.user_id = s2.user_id
      WHERE ev.event_type = 'purchase' AND ev.ts >= s2.t2
      GROUP BY ev.user_id
    )
    SELECT
      (SELECT COUNT(*) FROM s1) AS n_signup,
      (SELECT COUNT(*) FROM s2) AS n_click_after,
      (SELECT COUNT(*) FROM s3) AS n_purchase_after
    """,
)
def agg_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup → click → purchase): a user
    advances a step only with an event AT OR AFTER their previous step's
    first completion — the sequential-dependency aggregation every
    product-analytics engine ships (and plain per-type MIN gets wrong:
    a click before signup must not count).

    Plan: three per-user conditional min-aggregations chained by
    equi-joins on user_id — every shuffle is on the same key, so the
    exchanges co-locate and AQE reuses the partitioning; step frames
    shrink monotonically (each is a subset of the previous step's
    users).  Counts are integers — oracle-exact."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


# Two bodies: the oracle's ``epoch()`` does not parse on Spark.
@register(
    "agg_retention_cohorts",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT) AS week
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
    ), active AS (
      SELECT DISTINCT ev.user_id, cohort.cohort_week,
             ev.week - cohort.cohort_week AS week_offset
      FROM ev JOIN cohort ON ev.user_id = cohort.user_id
    )
    SELECT cohort_week, week_offset,
           COUNT(*) AS n_active_users
    FROM active
    GROUP BY cohort_week, week_offset
    """,
)
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle — users grouped by first-activity week,
    counted once per subsequent active week offset (the other half of
    product analytics next to ``agg_funnel_steps``).

    Week index is integer epoch arithmetic (``unix_seconds div 604800``)
    rather than ``date_trunc('week', …)`` — engines disagree on week
    boundaries/starts, integer division cannot (CLAUDE.md's ≤1-day
    alignment rule).  Both shuffles key on user_id, then one distinct on
    the (cohort, offset, user) triple; all outputs are integers."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_timestamp(ts) div 604800").cast("bigint").alias("week"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = (
        ev.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return active.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


# Two bodies: the oracle's ``epoch()`` does not parse on Spark.
@register(
    "reshape_pivot",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
             event_type
      FROM events
    )
    SELECT day,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
               for t in _PIVOT_TYPES
           )}
    FROM ev GROUP BY day
    """,
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot (the dual of ``reshape_unpivot``): daily event
    counts spread into one column per event type via ``groupBy().pivot()``
    with an EXPLICIT value list — the open-ended form needs a first pass
    to discover distinct values (a hidden collect at scale) and produces
    nondeterministic column sets; pinning the list keeps the plan
    single-pass and the schema stable.  Day index is integer epoch
    arithmetic (same cross-engine rule as the cohort face); counts are
    integers — oracle-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("unix_timestamp(ts) div 86400").cast("bigint").alias("day"),
        "event_type",
    )
    wide = ev.groupBy("day").pivot("event_type", list(_PIVOT_TYPES)).count()
    return wide.select(
        "day",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in _PIVOT_TYPES],
    )


# Two bodies: the Spark body persists the incidence list once for its four
# uses and broadcasts the tag counts, a different plan from the text's.
@register(
    "agg_cooccurrence_lift",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), tc AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM ut GROUP BY 1
    ), total AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut
    ), pc AS (
      SELECT a.event_type AS tag_a, b.event_type AS tag_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ut a JOIN ut b ON b.user_id = a.user_id
                         AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT pc.tag_a, pc.tag_b, ta.n_t AS n_a, tb.n_t AS n_b, pc.n_ab,
           CAST(pc.n_ab AS DOUBLE) / total.n_users AS support,
           CAST(pc.n_ab AS DOUBLE) / ta.n_t AS confidence_ab,
           CAST(pc.n_ab * total.n_users AS DOUBLE)
             / CAST(ta.n_t * tb.n_t AS DOUBLE) AS lift
    FROM pc
    JOIN tc ta ON ta.event_type = pc.tag_a
    JOIN tc tb ON tb.event_type = pc.tag_b
    CROSS JOIN total
    """,
)
def agg_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association screen over (machine, tag) incidence: for each
    unordered tag pair, the machines reporting both, with support,
    confidence(a→b) and lift vs independence — the market-basket
    statistics that say which alarms travel together across a fleet
    (lift ≫ 1 ⇒ the pair co-trips; the screen before building a joint
    anomaly model on both tags).

    Spark-first shape: dedup to the (machine, tag) incidence list once
    (partial-combinable — at 100 TB this is the only corpus pass, and
    the list is machines × ≤tags rows); the pair self-join is keyed on
    machine with a ≤ tags-choose-2 fan-out per machine (never
    quadratic in machines); the tag-count frame (≤ tags rows) and the
    1-row total fold are fixed-cardinality broadcasts, policy-clean.

    Exactness: integer counts; support/confidence are single
    int→double divisions and lift divides two exact ≤2⁵³ integer
    products — bit-identical, no rounding convention."""
    ev = load_table(spark, sf_dir, "events")
    # machines x tags incidence list: persist so the tag counts, the
    # total fold, and both self-join sides share ONE corpus dedup pass
    ut = persist_tracked(ev.select("user_id", "event_type").distinct())
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    total = ut.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    a = ut.select(F.col("user_id"), F.col("event_type").alias("tag_a"))
    b = ut.select(F.col("user_id"), F.col("event_type").alias("tag_b"))
    pc = (
        a.join(b, "user_id")
        .where(F.col("tag_a") < F.col("tag_b"))
        .groupBy("tag_a", "tag_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    j = (
        pc.join(
            F.broadcast(tc.select(F.col("event_type").alias("tag_a"), F.col("n_t").alias("n_a"))),
            "tag_a",
        )
        .join(
            F.broadcast(tc.select(F.col("event_type").alias("tag_b"), F.col("n_t").alias("n_b"))),
            "tag_b",
        )
        .crossJoin(F.broadcast(total))
    )
    return j.select(
        "tag_a",
        "tag_b",
        "n_a",
        "n_b",
        "n_ab",
        F.expr("CAST(n_ab AS DOUBLE) / n_users").alias("support"),
        F.expr("CAST(n_ab AS DOUBLE) / n_a").alias("confidence_ab"),
        F.expr(
            "CAST(n_ab * n_users AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)"
        ).alias("lift"),
    )


# Benford first-digit conformance (Newcomb 1881 / Benford 1938; Nigrini's
# audit statistic): natural multi-decade measurements follow
# P(d) = log10(1 + 1/d); a stuck/clipped/fabricated sensor does not.
# The 9 expected proportions are compile-time double literals (identical
# parse in both engines) and the chi² is ONE fixed-order expression
# chain, so every float op runs in the same sequence on both sides —
# bit-identical without a rounding convention.  15.507 = χ²₀.₉₅ (8 dof).
_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124", 3: "0.12493873660829992",
    4: "0.09691001300805642", 5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129", 9: "0.04575749056067514",
}
_BENFORD_CHI2 = " + ".join(
    f"((o{d} - n * CAST({p} AS DOUBLE)) * (o{d} - n * CAST({p} AS DOUBLE))"
    f" / (n * CAST({p} AS DOUBLE)))"
    for d, p in _BENFORD_P.items()
)
_BENFORD_OBS_PAIRS = [
    (f"o{d}", f"CAST(count(CASE WHEN d = '{d}' THEN 1 END) AS BIGINT)")
    for d in _BENFORD_P
]
_BENFORD_OBS = ", ".join(f"{e} AS {a}" for a, e in _BENFORD_OBS_PAIRS)


# Readings below half a cent (or negative) have no first significant
# digit in 1..9: excluding them keeps n = sum(observed), so the χ²
# expectation is well-posed (counting them in n but in no bucket would
# bias chi2 upward identically in both engines, which oracle parity can
# never catch).
register_sql(
    "agg_benford_screen",
    f"""
    WITH v AS (
      SELECT event_type,
             substr(CAST(CAST(round(value * 100) AS BIGINT) AS STRING), 1, 1)
               AS d
      FROM events
      WHERE round(value * 100) >= 1
    ), o AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n, {_BENFORD_OBS}
      FROM v GROUP BY event_type
    )
    SELECT event_type, n, o1, o9,
           ({_BENFORD_CHI2}) AS chi2,
           (({_BENFORD_CHI2}) < 15.507) AS conforms
    FROM o
    """,
    doc="""Benford first-significant-digit conformance per tag — the
    data-quality screen that catches stuck, clipped, or fabricated
    sensor feeds (a healthy multi-decade reading stream follows
    log10(1 + 1/d); a sensor pinned near one value does not): observed
    first-digit counts of the 2-dp-exact readings, the χ² distance
    from the Benford expectation, and a pass flag at the 95% level.

    Spark-first shape: ONE partial-combinable aggregation per tag (the
    9 digit counts are conditional counts inside the same groupBy —
    no pivot shuffle, no join); at 100 TB this is a single map-side
    combinable pass.  Exactness: integer counts; the χ² is a
    fixed-order float chain over compile-time literals (block
    comment) — bit-identical, no rounding convention.""",
)


# Gini concentration of per-machine event counts (Gini 1912; the
# standard inequality coefficient): with the k per-machine counts c_i
# ranked ascending (rank i = 1..k), G = (2·Σ i·c_i − (k+1)·T) / (k·T).
# Rank ties (equal counts) cannot move G: permuting equal c_i among
# their ranks leaves Σ i·c_i unchanged, so the (cnt, machine) unique
# order is both deterministic AND tie-order-invariant.  Σ i·c_i is
# span-unbounded (CLAUDE.md integer-moment rule: at fleet scale
# i ≈ 10⁷ and c_i ≈ 10⁷ put S ≈ 10²¹ past bigint) — decimal-routed,
# with checked-SF values < 2⁵³ so the closing divisions are single
# exact-int → double ops, bit-identical across engines.
register_sql(
    "agg_skew_gini",
    """
    WITH c AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, cnt,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY cnt, user_id) AS BIGINT) AS i
      FROM c
    ), g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(cnt) AS BIGINT) AS t,
             sum(CAST(i AS DECIMAL(38,0)) * cnt) AS s
      FROM r GROUP BY 1
    )
    SELECT event_type, k AS n_machines, t AS n_events,
           CAST(2 * s - CAST(k + 1 AS DECIMAL(38,0)) * t AS DOUBLE)
             / CAST(CAST(k AS DECIMAL(38,0)) * t AS DOUBLE) AS gini
    FROM g
    """,
    doc="""Fleet-skew screen per tag: the Gini coefficient of how unevenly a
    tag's events concentrate across machines (0 = every machine reports
    equally, →1 = one machine dominates).  The capacity-planning /
    hot-key diagnostic read before choosing partition keys — a tag with
    G ≈ 1 is exactly the skewed-shuffle hazard the salting faces exist
    for, so this operator IS the screen that says when to use them.

    Spark-first shape: one partial-combinable corpus pass (the
    (tag, machine) count), then everything rides the fleet × tags count
    frame — one rank window and one regroup per tag, second-order small
    next to the corpus.  At extreme fleet sizes (10⁷ machines) the
    per-tag rank sort would shard via the bounded-count histogram
    offsets the quality-trim/curriculum faces use; at any realistic
    fleet the window frame is trivially sized.

    Exactness: block comment — decimal-routed moments, tie-invariant
    ranks, one exact-int division per output.""",
)


# ---------------------------------------------------------------------------
# round 11: Count-Min frequency sketch (mergeable heavy-hitter counting)
# ---------------------------------------------------------------------------

_CM_D = 4  # sketch depth (independent hash rows)
_CM_W = 256  # sketch width (counters per row) — one md5 hex-digit pair
# _cm_cell reads md5 hex digits 2r+1..2r+2: depth d consumes 2d digits
# of the 32-digit md5, so d > 16 would index past the hash and substr
# silently returns '' (cell -17) — fail at import, not in a query
# (ROUND13_NOTES #7: watch constant hardened; explicit raise, not
# assert — asserts are stripped under python -O, defeating the
# fail-at-import intent; ADVICE r13)
if _CM_D > 16:
    raise ValueError(f"_CM_D={_CM_D} exceeds md5's 16 hex-digit pairs")


def _cm_cell(h: str, f: str, r: str) -> str:
    """Row-r cell index in [0, 256): md5 hex digits 2r+1..2r+2 decoded
    POSITIONALLY ({f} = instr on Spark / strpos on DuckDB — the
    registry's cross-engine md5 convention; ascii() is not uniform)."""
    digit = "({f}('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    return (
        "("
        + digit.format(f=f, h=h, i=f"({r}) * 2 + 1")
        + " * 16 + "
        + digit.format(f=f, h=h, i=f"({r}) * 2 + 2")
        + ")"
    )


# Two bodies: the oracle's ``strpos`` does not resolve on Spark.
@register(
    "agg_countmin_estimate",
    tags=("bench",),  # round-12 promotion (r11 verdict item 6): sketch family anchor
    oracle=f"""
    WITH k AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
             md5(event_type || ':' || CAST(user_id AS VARCHAR)) AS h
      FROM events GROUP BY event_type, user_id
    ), cells AS (
      SELECT event_type, user_id, n, CAST(t.r AS INT) AS r,
             {_cm_cell('h', 'strpos', 't.r')} AS cell
      FROM k, range({_CM_D}) t(r)
    ), sketch AS (
      SELECT r, cell, CAST(sum(n) AS BIGINT) AS cnt
      FROM cells GROUP BY r, cell
    )
    SELECT c.event_type, c.user_id, c.n AS n_exact,
           CAST(min(s.cnt) AS BIGINT) AS cm_est,
           CAST(min(s.cnt) - c.n AS BIGINT) AS overcount
    FROM cells c JOIN sketch s ON c.r = s.r AND c.cell = s.cell
    GROUP BY c.event_type, c.user_id, c.n
    """,
)
def agg_countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch ({_CM_D} x {_CM_W}) over (event_type, user_id)
    frequencies, probed back against the exact counts so the output
    carries the sketch's per-key estimate AND its overcount — the
    mergeable frequency-sketch companion to ``agg_hll_sketch_merge``
    (distinct counts) and ``agg_heavy_hitters`` (Misra-Gries): CM is
    LINEAR (sketch(A ∪ B) = sketch(A) + sketch(B) cell-wise), so
    per-partition / per-day sketches merge by addition into any rollup
    without rescanning raw keys, and a fixed {_CM_D}·{_CM_W}-cell array
    answers point frequency queries with one-sided error (est >= exact,
    overflow probability bounded by the classic Cormode-Muthukrishnan
    analysis).  ``stream_countmin_genuine`` maintains the identical
    sketch across micro-batches (linearity = batch parity, pytest).

    Scale shape: exact per-key counts are one map-side-combinable
    groupBy (needed for the comparison anyway); the sketch aggregates
    the KEY frame (not raw rows — linearity lets the per-key counts
    feed the cells) down to <= {_CM_D}·{_CM_W} = 1024 rows, which then
    BROADCASTS back to the key frame for the min-probe: the only
    corpus-scale shuffle is the key groupBy.  md5 positional-hex cells
    keep every integer exact on both engines — oracle-exact."""
    ev = load_table(spark, sf_dir, "events")
    k = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "h", F.expr("md5(event_type || ':' || CAST(user_id AS STRING))")
        )
    )
    cell = _cm_cell("h", "instr", "r")
    cells = k.select(
        "event_type",
        "user_id",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(0, %d), r -> struct(CAST(r AS INT) AS r, %s AS cell))"
                % (_CM_D - 1, cell)
            )
        ).alias("t"),
    ).select("event_type", "user_id", "n", "t.r", "t.cell")
    cells = persist_tracked(cells)
    sketch = cells.groupBy("r", "cell").agg(F.sum("n").cast("bigint").alias("cnt"))
    return (
        cells.join(F.broadcast(sketch), ["r", "cell"])
        .groupBy("event_type", "user_id", F.col("n").alias("n_exact"))
        .agg(F.min("cnt").cast("bigint").alias("cm_est"))
        .select(
            "event_type",
            "user_id",
            "n_exact",
            "cm_est",
            (F.col("cm_est") - F.col("n_exact")).cast("bigint").alias("overcount"),
        )
    )


_SALT_N = 16  # salt fan-out for the hot-key replication join


# Two bodies: salting is a physical rewrite of the oracle's plain join.
@register(
    "join_skew_salted",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(SUM(CAST(e.value AS DECIMAL(30,8))), 2) * 100 AS BIGINT)
             AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation JOIN pattern (the join-side sibling of
    ``agg_salted_skew``): the build side is replicated across
    {_SALT_N} salt replicas and the probe side tags each row with a
    row-derived salt, so a hot join key's rows spread over {_SALT_N}
    reducers instead of funneling one — the manual form of AQE's
    skew-join splitting, needed when a 100 TB fact table's key
    histogram is too skewed for even AQE's in-flight splitting (or when
    AQE is off, e.g. inside stateful streaming).  The oracle is the
    PLAIN unsalted join — identical results is the point: salting is a
    physical rewrite, not a semantic one.

    The salt is derived from event_id (uniform, key-independent), NOT
    from the join key — salting by the key would put all of a hot key's
    rows back in one bucket.  Replication multiplies the dim side by
    {_SALT_N}; at scale you salt ONLY the keys the histogram flags hot
    and union the unsalted remainder, which keeps the replication
    O(hot keys x salts)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "value",
        (F.col("event_id") % _SALT_N).cast("int").alias("salt"),
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt",
            F.explode(F.expr(f"transform(sequence(0, {_SALT_N - 1}), s -> CAST(s AS INT))")),
        )
    )
    joined = ev.join(cust, (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt))
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "CAST(round(SUM(CAST(value AS DECIMAL(30,8))), 2) * 100 AS BIGINT)"
        ).alias("value_cents"),
    )
