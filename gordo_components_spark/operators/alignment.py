"""Multi-tag alignment joins O15–O16 (SURVEY §2.3) — the reference's one
join family.

Reference: ``gordo_components/dataset/datasets.py::_join_timeseries`` —
after per-tag resample, inner-join all tag series on the bucket index
(dropna ≡ inner); later revisions (gordo-dataset) add ffill/linear
interpolation bounded by ``interpolation_limit`` — a bounded as-of join.

Spark-first: one pivot produces the outer-aligned frame (single shuffle,
no N-way join chain); inner = dropna, as-of = last-ignore-nulls window +
staleness bound.  Both partition by machine, so windows never cross
partition boundaries at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.functions.timeseries import EVENT_TYPES, pivot_wide, pivot_wide_sql
from gordo_components_spark.registry import register
from gordo_components_spark.sources.tables import load_table

_TAGS3 = ("click", "purchase", "view")


@register(
    "join_align_inner",
    oracle=f"""
    WITH {pivot_wide_sql(1440)}
    SELECT user_id, bucket, {", ".join(f"evt_{t}" for t in _TAGS3)}
    FROM wide
    WHERE {" AND ".join(f"evt_{t} IS NOT NULL" for t in _TAGS3)}
    """,
    tags=("bench",),
)
def join_align_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15 inner alignment: buckets missing ANY tag are dropped (the
    reference's dropna-after-join).  Pivot + dropna — one shuffle total
    vs. N−1 shuffles for an iterated join chain."""
    wide = pivot_wide(load_table(spark, sf_dir, "events"), "1440 minutes")
    return wide.dropna(subset=[f"evt_{t}" for t in _TAGS3]).select(
        "user_id", "bucket", *[f"evt_{t}" for t in _TAGS3]
    )


_ASOF_TOL_US = 86_400_000_000  # event as-of tolerance: 1 day in µs


@register(
    "join_asof_event",
    oracle=f"""
    WITH probe AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'error'
    ), ref AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS ref_value
      FROM events WHERE event_type = 'click'
      GROUP BY user_id, CAST(ts AS TIMESTAMP)
    )
    SELECT p.event_id, p.user_id, p.ts, p.value AS probe_value,
           r.ts AS ref_ts, r.ref_value,
           CAST(epoch_us(p.ts) - epoch_us(r.ts) AS BIGINT) AS lag_us
    FROM probe p ASOF JOIN ref r
      ON p.user_id = r.user_id AND p.ts >= r.ts
    WHERE epoch_us(p.ts) - epoch_us(r.ts) <= {_ASOF_TOL_US}
    """,
)
def join_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 extension — TRUE event-to-event as-of join (pandas
    ``merge_asof`` / kdb ``aj``): each 'error' reading picks up the most
    recent 'click' value on the same machine within a 1-day tolerance
    (``>=`` semantics: an equal-timestamp reference row matches).  The
    grid-ffill face (``join_asof_ffill``) resamples first; this one
    joins RAW irregular streams — the alignment primitive when neither
    side lives on a bucket grid.  The reference side is pre-aggregated
    to one row per (machine, ts) so the match is deterministic; DuckDB's
    native ASOF JOIN is the oracle.

    Spark shape — the union trick, NOT a range join: tag both streams,
    union them, and take ``last(ref_value, ignorenulls)`` over one
    per-machine window ordered by (ts, side) with the reference side
    sorting first at equal timestamps.  One shuffle on user_id, one
    window pass, zero pair explosion — a range-condition join here
    would be O(|A|·|B|) per machine and a time-bucketed range join
    needs tolerance-sized buckets; the union window is linear and
    tolerance-free (the bound is a post-filter on exact µs integers)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.col("value").alias("probe_value")
    )
    ref = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("ref_value"))
    )
    unioned = ref.select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("probe_value"),
        "ref_value",
        F.lit(0).alias("side"),
    ).unionByName(
        probe.select(
            "user_id",
            "ts",
            "event_id",
            "probe_value",
            F.lit(None).cast("double").alias("ref_value"),
            F.lit(1).alias("side"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last("ref_value", ignorenulls=True).over(w).alias("_ref_v"),
        F.last(
            F.when(F.col("ref_value").isNotNull(), F.col("ts")), ignorenulls=True
        ).over(w).alias("_ref_t"),
    )
    lag_us = F.unix_micros("ts") - F.unix_micros("_ref_t")
    return (
        carried.where((F.col("side") == 1) & F.col("_ref_t").isNotNull())
        .where(lag_us <= _ASOF_TOL_US)
        .select(
            "event_id",
            "user_id",
            "ts",
            "probe_value",
            F.col("_ref_t").alias("ref_ts"),
            F.col("_ref_v").alias("ref_value"),
            lag_us.cast("bigint").alias("lag_us"),
        )
    )


_FFILL_LIMIT_BUCKETS = 6  # staleness bound ≡ interpolation_limit (e.g. "6H" at 1h buckets)


@register(
    "join_asof_ffill",
    oracle=f"""
    WITH {pivot_wide_sql(60)},
    spine AS (
      SELECT u.user_id, s.bucket
      FROM (SELECT DISTINCT user_id FROM wide) u
      CROSS JOIN (
        SELECT unnest(generate_series(
          (SELECT min(bucket) FROM wide),
          (SELECT max(bucket) FROM wide),
          INTERVAL '60 minutes')) AS bucket
      ) s
    ), joined AS (
      SELECT s.user_id, s.bucket, w.evt_click
      FROM spine s LEFT JOIN wide w USING (user_id, bucket)
    ), filled AS (
      SELECT user_id, bucket, evt_click,
             last_value(evt_click IGNORE NULLS) OVER w AS ff,
             max(CASE WHEN evt_click IS NOT NULL THEN bucket END) OVER w AS last_seen
      FROM joined
      WINDOW w AS (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, bucket,
           CASE WHEN bucket - last_seen <= INTERVAL '{_FFILL_LIMIT_BUCKETS} hours'
                THEN ff END AS evt_click_ffill
    FROM filled
    """,
)
def join_asof_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16 as-of forward-fill with staleness limit: project each tag onto a
    dense bucket spine, carry the last observation forward, NULL it out
    once older than ``interpolation_limit`` (gordo-dataset
    ``interpolation_method="ffill"``).  last(ignoreNulls) over an
    unbounded-preceding frame is Spark's as-of idiom."""
    wide = pivot_wide(load_table(spark, sf_dir, "events"), "60 minutes")
    bounds = wide.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = (
        wide.select("user_id").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.expr("sequence(lo, hi, interval 60 minutes)")).alias("bucket"),
        )
    )
    joined = spine.join(wide.select("user_id", "bucket", "evt_click"), ["user_id", "bucket"], "left")
    w = "PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    filled = joined.select(
        "user_id",
        "bucket",
        F.expr(f"last(evt_click, true) OVER ({w})").alias("ff"),
        F.expr(
            f"max(CASE WHEN evt_click IS NOT NULL THEN bucket END) OVER ({w})"
        ).alias("last_seen"),
    )
    return filled.select(
        "user_id",
        "bucket",
        F.when(
            F.col("bucket") <= F.col("last_seen") + F.expr(f"INTERVAL {_FFILL_LIMIT_BUCKETS} HOURS"),
            F.col("ff"),
        ).alias("evt_click_ffill"),
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ), ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    ), numbered AS (
      -- (ts, event_id) tiebreak matches the lag order above: with
      -- duplicate (user_id, ts) rows at a session boundary an
      -- arbitrary tie order could place a 0-flag row before its
      -- 1-flag twin and shift the session assignment (unique-tiebreak
      -- convention, round-8 advisory)
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM ordered
    ), sessions AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end
      FROM numbered GROUP BY user_id, session_no
    ), gaps AS (
      SELECT user_id, gap_start, gap_end FROM (
        SELECT user_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_start,
               ts AS gap_end
        FROM e
      ) WHERE gap_start IS NOT NULL
        AND epoch_us(gap_end) - epoch_us(gap_start) > 86400000000
    )
    SELECT s.user_id, session_start, session_end, gap_start, gap_end
    FROM sessions s JOIN gaps g
      ON g.user_id = s.user_id
     AND session_start <= gap_end AND gap_start <= session_end
    """,
    tags=("bench",),  # round-7: interval-overlap join anchors the time-series bench face
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — the join class Spark has no native
    operator for (kdb ``wj``, Flink interval join): per machine, which
    activity sessions touch which >24 h data outages.  By construction a
    session's close (+30 min past its last event) pokes into the outage
    that follows it, and an outage's end instant IS the next session's
    start — so the result reads as "the last activity before, and the
    first activity after, each outage" (the report a plant pulls when a
    sensor feed dies; the reference's known-filter-periods workflow
    consumes exactly these bounds).

    Spark-first scale shape: a naive formulation is a per-machine theta
    join (sessions × gaps cross per key).  Instead both interval sets
    explode into the DAY buckets they cover (``sequence(date_trunc(start)
    … date_trunc(end))`` — linear: a session covers 1–2 days, an outage
    its span), the join is EQUI on (user_id, day) with the overlap
    predicate as a residual filter, and a distinct collapses intervals
    that share several days.  Work is Σ per-(machine, day) coincidence —
    never per-machine quadratic.  The gap side scales with the corpus,
    so the join is pinned SHUFFLE_HASH (broadcast-policy mirror rule,
    no-broadcast plan guard in tests/test_plan_properties.py).

    Parity: interval bounds are µs-truncated timestamps compared as
    identical instants in both engines; no float anywhere.  The closing
    ``distinct()`` collapses exactly the multi-day join copies and
    nothing else (round-8 review): per machine, sessions are disjoint
    (groupBy output) and two gap rows can never share both bounds —
    each consecutive-pair lag position is unique in the per-machine
    total order — so no two genuinely different result pairs carry
    equal column values."""
    ev = load_table(spark, sf_dir, "events")
    sessions = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
        )
    )
    wlag = "PARTITION BY user_id ORDER BY ts, event_id"
    gaps = (
        ev.select(
            "user_id",
            F.expr(f"lag(ts) OVER ({wlag})").alias("gap_start"),
            F.col("ts").alias("gap_end"),
        )
        .where(
            F.col("gap_start").isNotNull()
            & (F.unix_micros("gap_end") - F.unix_micros("gap_start") > 86400000000)
        )
    )

    def day_blocks(df: DataFrame, a: str, b: str) -> DataFrame:
        return df.withColumn(
            "day",
            F.explode(
                F.expr(f"sequence(date_trunc('DAY', {a}), date_trunc('DAY', {b}), interval 1 day)")
            ),
        )

    s_blocks = day_blocks(sessions, "session_start", "session_end")
    g_blocks = day_blocks(gaps, "gap_start", "gap_end")
    pairs = s_blocks.join(g_blocks.hint("SHUFFLE_HASH"), ["user_id", "day"]).where(
        (F.col("session_start") <= F.col("gap_end"))
        & (F.col("gap_start") <= F.col("session_end"))
    )
    return pairs.select(
        "user_id", "session_start", "session_end", "gap_start", "gap_end"
    ).distinct()


# Nearest-neighbor join on the VALUE axis (the 1-D sibling of the as-of
# join, which is nearest-on-TIME-looking-back): for every 'error'
# reading, the machine's 'purchase' reading closest in value.  Spec
# (shared by both engines): minimize |Δv100|; equidistant ties take the
# LOWER purchase value; among equal (machine, value) purchases only the
# MIN event_id is ever eligible.  One sorted-union window pass — never
# an O(n_a·n_b) per-machine pair join: dedup purchases per (machine,
# v100), interleave with errors ordered by (v100, side) with purchases
# FIRST at equal value (so the inclusive-preceding fold catches the
# distance-0 twin), and each error reads its floor/ceiling purchase
# from two IGNORE NULLS window folds.  The winner is decided by exact
# integer distance compare (<= prefers the floor = the lower value).
# Two bodies: the oracle is the independent naive argmin.
@register(
    "join_nearest_value",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, value,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events WHERE event_type = 'error'
    ), p0 AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v100,
             MIN(event_id) AS p_event_id
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ), ranked AS (
      SELECT e.event_id, e.user_id, e.value, e.v100,
             p0.p_event_id, p0.v100 AS p_v100,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(e.v100 - p0.v100), p0.v100
             ) AS rn
      FROM e JOIN p0 ON p0.user_id = e.user_id
    )
    SELECT event_id, user_id, value, p_event_id,
           CAST(p_v100 AS DOUBLE) / 100.0 AS p_value,
           CAST(abs(v100 - p_v100) AS BIGINT) AS dist_cents
    FROM ranked WHERE rn = 1
    """,
)
def join_nearest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-nearest join: each error reading paired with the machine's
    closest-in-value purchase reading — the calibration/cross-sensor
    matching primitive ("which reference reading does this alarm level
    correspond to?") that time-axis as-of joins cannot express.

    Spark-first shape: the sorted-union window trick (block comment) —
    the corpus shuffles ONCE on machine and is sorted once by (v100,
    side, event_id); the floor and ceiling purchases come from two
    IGNORE NULLS folds over that order, so cost is O(n log n) per
    machine regardless of how many purchases tie near a value.  The
    DuckDB oracle is the INDEPENDENT naive argmin join over all
    (error, purchase) pairs, so parity proves the window derivation
    implements the spec exactly.  At 100 TB: one exchange, parallelism
    = machines, no pair blow-up anywhere.

    Exactness: all comparisons on exact 2-dp ints; outputs are copied
    ints and one exact-int → double division."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        "value",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
    )
    p0 = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
        )
        .agg(F.min("event_id").alias("p_event_id"))
    )
    u = e.select(
        "user_id",
        "v100",
        F.lit(1).alias("side"),
        "event_id",
        "value",
        F.lit(None).cast("bigint").alias("p_event_id"),
    ).unionByName(
        p0.select(
            "user_id",
            "v100",
            F.lit(0).alias("side"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            "p_event_id",
        )
    )
    # purchases (side 0) sort before an equal-value error so the
    # inclusive floor fold sees the distance-0 twin
    w = "PARTITION BY user_id ORDER BY v100, side, p_event_id"
    g = u.select(
        "*",
        F.expr(
            f"last(CASE WHEN side = 0 THEN named_struct('pv', v100, 'pid',"
            f" p_event_id) END, true) OVER ({w}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ).alias("floor_p"),
        F.expr(
            f"first(CASE WHEN side = 0 THEN named_struct('pv', v100, 'pid',"
            f" p_event_id) END, true) OVER ({w}"
            " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        ).alias("ceil_p"),
    )
    best = g.where(F.col("side") == 1).select(
        "event_id",
        "user_id",
        "value",
        F.expr(
            "CASE"
            " WHEN floor_p IS NULL THEN ceil_p"
            " WHEN ceil_p IS NULL THEN floor_p"
            " WHEN v100 - floor_p.pv <= ceil_p.pv - v100 THEN floor_p"
            " ELSE ceil_p END"
        ).alias("ch"),
        "v100",
    )
    return best.where(F.col("ch").isNotNull()).select(
        "event_id",
        "user_id",
        "value",
        F.col("ch.pid").alias("p_event_id"),
        F.expr("CAST(ch.pv AS DOUBLE) / 100.0").alias("p_value"),
        F.expr("CAST(abs(v100 - ch.pv) AS BIGINT)").alias("dist_cents"),
    )
