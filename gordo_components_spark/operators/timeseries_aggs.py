"""Time-series aggregation operators O18–O21 (SURVEY §2.4).

Reference: resample-aggregate inside ``dataset/datasets.py``'s join loop,
dataset-stats metadata, CV score summaries (``builder/build_model.py``)
and the error-percentile threshold (``model/anomaly/diff.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.caches import persist_tracked
from gordo_components_spark.functions.timeseries import resample
from gordo_components_spark.operators.relational import _fshift, _fshift_col, _fshift_expr
from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table


@register(
    "agg_resample_mean",
    oracle="""
    SELECT user_id, event_type,
           time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
           round(avg(value), 9) AS value__avg
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("bench",),
)
def agg_resample_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 default resample: per-(machine, tag) 10-minute mean buckets.
    One shuffle, map-side partial agg; window() start is epoch-aligned in
    both engines so buckets agree bit-for-bit."""
    return resample(load_table(spark, sf_dir, "events"), "10 minutes", ("avg",))


@register(
    "agg_resample_multi",
    oracle="""
    SELECT user_id, event_type,
           time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
           round(avg(value), 9) AS value__avg,
           max(value) AS value__max,
           min(value) AS value__min,
           count(value) AS value__count
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def agg_resample_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 multi-method resample: ``aggregation_methods=[mean,max,min,count]``
    flattens MultiIndex (tag, method) → ``value__method`` columns
    (SURVEY §1.2); min/max/count are exact so no rounding."""
    return resample(
        load_table(spark, sf_dir, "events"), "30 minutes", ("avg", "max", "min", "count")
    )


register_sql(
    "agg_tag_stats",
    """
    SELECT user_id, event_type,
           COUNT(*) AS n_rows,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
           CAST(MAX(ts) AS TIMESTAMP) AS last_ts,
           round(avg(value), 9) AS mean_value
    FROM events
    GROUP BY user_id, event_type
    """,
    doc="""O19 dataset-stats metadata: per-tag row counts and coverage recorded
    into build metadata (reference assembles this inside ``get_data``).
    min/max commute with the ns→µs truncation, so CAST(MIN(ts)) matches.""",
)


register_sql(
    "agg_cv_scores",
    """
    WITH folds AS (
      SELECT event_type, event_id % 3 AS fold,
             round(avg(abs(value - 100.0)), 9) AS mae
      FROM events
      GROUP BY event_type, event_id % 3
    )
    SELECT event_type,
           round(avg(mae), 9) AS mae_mean,
           min(mae) AS mae_min,
           max(mae) AS mae_max,
           round(stddev_samp(mae), 9) AS mae_std
    FROM folds
    GROUP BY event_type
    """,
    doc="""O20 CV score aggregation: per-fold metric values summarized to
    mean/min/max/std per metric (reference ``builder/build_model.py`` +
    ``model/utils.py::metric_wrapper``).  Fold assignment here is the
    deterministic stand-in ``event_id % 3``; the real TimeSeriesSplit
    fold map lives in ``ml/`` (O45).""",
)


@register(
    "agg_rollup_hierarchy",
    oracle="""
    SELECT user_id,
           time_bucket(INTERVAL '1440 minutes', CAST(ts AS TIMESTAMP)) AS day,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS day_avg,
           MAX(value) AS day_max,
           MIN(value) AS day_min
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: 10-minute → hourly → daily
    continuous aggregates, each level composed from the one below
    (sum/count/max/min compose; avg = sum/count at read time).  The
    oracle aggregates the raw table directly — composed results must be
    identical, which the DECIMAL sums guarantee regardless of grouping
    order.  At 100 TB each level is a materialized table ~100-1000×
    smaller than the last; dashboards hit the coarse level and never
    touch raw (the reference's resample is the finest level of exactly
    this hierarchy)."""
    ev = load_table(spark, sf_dir, "events")
    dec = "CAST(value AS DECIMAL(30,8))"
    ten_min = (
        ev.groupBy("user_id", F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(f"SUM({dec})").alias("total"),
            F.max("value").alias("mx"),
            F.min("value").alias("mn"),
        )
        .select("user_id", F.col("w.start").alias("bucket"), "n", "total", "mx", "mn")
    )
    hourly = (
        ten_min.groupBy("user_id", F.window("bucket", "60 minutes").alias("w"))
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            F.max("mx").alias("mx"),
            F.min("mn").alias("mn"),
        )
        .select("user_id", F.col("w.start").alias("bucket"), "n", "total", "mx", "mn")
    )
    daily = (
        hourly.groupBy("user_id", F.window("bucket", "1 day").alias("w"))
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            F.max("mx").alias("mx"),
            F.min("mn").alias("mn"),
        )
        .select("user_id", F.col("w.start").alias("day"), "n", "total", "mx", "mn")
    )
    total_dbl = F.expr("CAST(total AS DOUBLE)")
    return daily.select(
        "user_id",
        "day",
        F.col("n").alias("n"),
        total_dbl.alias("total"),
        (total_dbl / F.col("n")).cast("double").alias("day_avg"),
        F.col("mx").alias("day_max"),
        F.col("mn").alias("day_min"),
    )


@register(
    "agg_error_quantile",
    oracle=f"""
    WITH mu AS (
      SELECT user_id,
             round(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 9) AS mean_v
      FROM events GROUP BY user_id
    ), err AS (
      SELECT e.user_id, round(abs(e.value - mu.mean_v), 9) AS err
      FROM events e JOIN mu USING (user_id)
    )
    SELECT user_id,
           {_fshift('quantile_cont(err, 0.99)', 'threshold_p99')},
           {_fshift('quantile_cont(err, 0.50)', 'err_median')}
    FROM err GROUP BY user_id
    """,
)
def agg_error_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21 anomaly threshold = high quantile of reconstruction errors per
    machine (reference ``DiffBasedAnomalyDetector.cross_validate``; pinned
    statistic per FIXTURES B4).  Exact ``percentile`` matches DuckDB's
    ``quantile_cont``; the 100 TB path swaps in ``percentile_approx``
    (single-pass sketch) at a documented tolerance."""
    ev = load_table(spark, sf_dir, "events")
    # decimal-routed mean: avg-of-doubles differs across engines by ~1 ulp,
    # which flips the round(…,9) boundary once groups reach ~10^4 rows
    # (found at sf0.1); exact numerator / count is bit-identical.
    # Window form, not groupBy+join-back: the per-machine mean frame
    # GROWS with the machine count, so its old forced broadcast violated
    # the r7 mirror rule — the window computes the same mean in place and
    # the closing groupBy reuses the partitioning: ONE exchange, no join
    # (same shape as agg_seasonal_profile).
    w = "PARTITION BY user_id"
    mean_v = F.round(
        F.expr(f"CAST(SUM(CAST(value AS DECIMAL(30,8))) OVER ({w}) AS DOUBLE)")
        / F.expr(f"count(*) OVER ({w})"),
        9,
    )
    err = ev.select(
        "user_id", F.round(F.abs(F.col("value") - mean_v), 9).alias("err")
    )
    return err.groupBy("user_id").agg(
        _fshift_col(F.expr("percentile(err, 0.99)")).alias("threshold_p99"),
        _fshift_col(F.expr("percentile(err, 0.50)")).alias("err_median"),
    )


_INTERP_CASE = (
    "CASE WHEN v IS NOT NULL THEN v "
    "ELSE prev_v + (next_v - prev_v) "
    "* (CAST(epoch(bucket) - epoch(prev_t) AS DOUBLE) "
    "/ CAST(epoch(next_t) - epoch(prev_t) AS DOUBLE)) END"
)


@register(
    "agg_resample_interp",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
             round(avg(value), 9) AS v
      FROM events GROUP BY 1, 2, 3
    ), grid AS (
      SELECT user_id, event_type,
             unnest(generate_series(MIN(bucket), MAX(bucket), INTERVAL 1 hour)) AS bucket
      FROM base GROUP BY user_id, event_type
    ), joined AS (
      SELECT g.user_id, g.event_type, g.bucket, b.v,
             LAST_VALUE(b.v IGNORE NULLS) OVER w_fwd AS prev_v,
             LAST_VALUE(CASE WHEN b.v IS NOT NULL THEN g.bucket END IGNORE NULLS)
               OVER w_fwd AS prev_t,
             FIRST_VALUE(b.v IGNORE NULLS) OVER w_bwd AS next_v,
             FIRST_VALUE(CASE WHEN b.v IS NOT NULL THEN g.bucket END IGNORE NULLS)
               OVER w_bwd AS next_t
      FROM grid g LEFT JOIN base b USING (user_id, event_type, bucket)
      WINDOW
        w_fwd AS (PARTITION BY g.user_id, g.event_type ORDER BY g.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_bwd AS (PARTITION BY g.user_id, g.event_type ORDER BY g.bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_type, bucket,
           {_fshift(_INTERP_CASE, 'value_interp')},
           (v IS NULL) AS was_gap
    FROM joined
    """,
)
def agg_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18/O16 extension — gap-filling resample with LINEAR interpolation
    (the pandas ``resample().interpolate()`` face the ffill path doesn't
    cover): each series' hourly grid is densified between its first and
    last bucket, and empty buckets take the time-weighted blend of their
    nearest real neighbors.

    Spark shape (round-10 rewrite — the r9 verdict's rehearsal-net
    escapee, the slowest registered query at sf0.1): gap-run explode
    instead of grid join + full-span windows, the same decomposition
    that flattened ``agg_resample_gapfill``.  A gap bucket's
    interpolation neighbors are BY DEFINITION the observed buckets that
    bracket its run, so each observed bucket, given its successor via
    ONE ``lead()`` over the observed frame, emits its whole gap run
    ``[bucket, next−1h]`` map-side carrying BOTH endpoints — the dense
    grid is GENERATED pre-interpolated, never joined (the old plan
    AQE-broadcast a corpus-scaling ~1M-row build side — exactly the
    CLAUDE.md mirror-rule hazard) and never window-sorted at dense-grid
    width: the only exchanges left carry the OBSERVED bucket frame.
    The DuckDB oracle keeps the independent grid + LEFT JOIN +
    ignore-nulls-window derivation, so parity crosses two genuinely
    different algorithms.  The interpolation fraction is a ratio of
    epoch-second longs (exact in both engines); output floor-shifts
    at 6 (half-tie-prone rationals — CLAUDE.md failure mode (b))."""
    base = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            "event_type",
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(F.round(F.avg("value"), 9).alias("v"))
        .select("user_id", "event_type", F.col("w.start").alias("bucket"), "v")
    )
    nxt = base.select(
        "user_id",
        "event_type",
        "bucket",
        "v",
        F.expr(
            "lead(bucket) OVER (PARTITION BY user_id, event_type ORDER BY bucket)"
        ).alias("nbucket"),
        F.expr(
            "lead(v) OVER (PARTITION BY user_id, event_type ORDER BY bucket)"
        ).alias("nv"),
    )
    # each observed bucket emits itself + its gap run; the series' last
    # observed bucket (nbucket NULL) emits only itself
    run = nxt.select(
        "user_id",
        "event_type",
        F.col("bucket").alias("obs_bucket"),
        "v",
        "nv",
        "nbucket",
        F.explode(
            F.expr(
                "sequence(bucket, coalesce(nbucket - interval 1 hour, bucket),"
                " interval 1 hour)"
            )
        ).alias("bucket"),
    )
    # identical operand values and IEEE op order as the oracle's
    # prev/next window derivation: prev_* is the run's observed start,
    # next_* the lead() successor
    frac = (
        (F.unix_timestamp("bucket") - F.unix_timestamp("obs_bucket")).cast("double")
        / (F.unix_timestamp("nbucket") - F.unix_timestamp("obs_bucket")).cast("double")
    )
    interp = F.when(F.col("bucket") == F.col("obs_bucket"), F.col("v")).otherwise(
        F.col("v") + (F.col("nv") - F.col("v")) * frac
    )
    return run.select(
        "user_id",
        "event_type",
        "bucket",
        _fshift_col(interp).alias("value_interp"),
        (F.col("bucket") != F.col("obs_bucket")).alias("was_gap"),
    )


@register(
    "agg_sensor_gaps",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), g AS (
      SELECT user_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_start,
             ts AS gap_end
      FROM e
    )
    SELECT user_id, gap_start, gap_end,
           CAST(epoch_us(gap_end) - epoch_us(gap_start) AS BIGINT) AS gap_us
    FROM g
    WHERE gap_start IS NOT NULL
      AND epoch_us(gap_end) - epoch_us(gap_start) > 86400000000
    """,
)
def agg_sensor_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downtime / data-outage detection: per machine (user_id), every
    interval between consecutive readings longer than 24 h — the
    dead-sensor report feeding the reference's known-filter-periods
    workflow (O12 consumes exactly these intervals as exclusions; cf.
    ``dataset/filter_periods.py``).

    One lag window per machine partition (the same partition-by-machine
    invariant as every O22–O25 frame — no global sort, parallelism =
    #machines).  Gap arithmetic is integer microseconds on the µs-
    truncated timestamps, so both engines compare identical bigints."""
    ev = load_table(spark, sf_dir, "events")
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    prev = F.expr(f"lag(ts) OVER ({w})")
    out = ev.select(
        "user_id",
        prev.alias("gap_start"),
        F.col("ts").alias("gap_end"),
        (F.unix_micros("ts") - F.unix_micros(prev)).alias("gap_us"),
    )
    return out.where(
        F.col("gap_start").isNotNull() & (F.col("gap_us") > 86400000000)
    )


register_sql(
    "agg_alert_episodes",
    """
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), numbered AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM e
    ), flagged AS (
      SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
      FROM numbered
      WHERE value > 100.0
    )
    SELECT user_id,
           min(ts) AS episode_start,
           max(ts) AS episode_end,
           CAST(count(*) AS BIGINT) AS n_events,
           max(value) AS peak_value
    FROM flagged
    GROUP BY user_id, grp
    """,
    doc="""Alert-episode coalescing — the post-processing step between O44's
    per-row anomaly scores and a pager: maximal runs of CONSECUTIVE
    above-threshold readings per machine become one episode row
    (start/end/size/peak).  Classic gaps-and-islands: the difference of
    two row_numbers (all rows vs flagged rows) is constant exactly
    within a consecutive run, so it is the episode key.

    Scale shape: both row_numbers share one per-machine sort (two
    windows over the same `PARTITION BY user_id ORDER BY ts, event_id`
    frame collapse into a single WindowExec pass), then one groupBy on
    (user_id, grp) — partial-agg combinable, no self-join, no island
    loop.  max(value) is a bit-exact selection; the episode bounds are
    µs-truncated timestamps — nothing needs a rounding convention.""",
)


_CORR_XY = "CAST(n * sxy - sx * sy AS DOUBLE)"
_CORR_XX = "CAST(n * sxx - sx * sx AS DOUBLE)"
_CORR_YY = "CAST(n * syy - sy * sy AS DOUBLE)"


@register(
    "agg_tag_correlation",
    oracle=f"""
    WITH b AS (
      SELECT user_id,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS bucket,
             avg(CASE WHEN event_type = 'error' THEN value END) AS x,
             avg(CASE WHEN event_type = 'purchase' THEN value END) AS y
      FROM events
      GROUP BY 1, 2
    ), p AS (
      SELECT user_id,
             CAST(round(x * 1000000000) AS BIGINT) AS x9,
             CAST(round(y * 1000000000) AS BIGINT) AS y9
      FROM b WHERE x IS NOT NULL AND y IS NOT NULL
    ), m AS (
      SELECT user_id,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(x9 AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y9 AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x9 AS HUGEINT) * y9) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x9 AS HUGEINT) * x9) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y9 AS HUGEINT) * y9) AS HUGEINT) AS syy
      FROM p GROUP BY user_id HAVING count(*) >= 3
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_buckets,
           CASE WHEN n * sxx = sx * sx OR n * syy = sy * sy THEN NULL ELSE
             {_fshift_expr(f"{_CORR_XY} / sqrt({_CORR_XX} * {_CORR_YY})")}
           END AS xy_corr,
           {_fshift(f"{_CORR_XY} / CAST(n * (n - 1) AS DOUBLE) / 1e18", 'xy_covar')},
           CASE WHEN n * sxx = sx * sx THEN NULL ELSE
             {_fshift_expr(f"{_CORR_XY} / {_CORR_XX}")}
           END AS yx_slope
    FROM m
    """,
)
def agg_tag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tag dependence profile — the EDA step before picking a
    machine's tag list: per machine, Pearson correlation, sample
    covariance, and regression slope between two tags' daily mean
    series ('error' vs 'purchase'), over buckets where both tags
    reported (≥3 complete buckets, else no stable estimate).

    Float discipline is the CLAUDE.md means convention taken to its
    conclusion: naive ``corr``/``covar_samp`` aggregates diverge at the
    6th decimal across engines (co-moment accumulation order), so the
    bucket means are pinned to integer NANOS (round(x·1e9) as bigint)
    and every co-moment (n, Σx, Σy, Σxy, Σxx, Σyy) is an EXACT
    128-bit-integer sum — DECIMAL(38,0) arithmetic here, HUGEINT in
    DuckDB.  The classic n·Σxy − Σx·Σy numerators are therefore
    bit-identical integers on both engines; only the final
    double-convert / sqrt / divide are float (IEEE-exact given
    identical inputs, ±1 ulp on the 1e29-magnitude int→double
    conversions), masked by floor-shift 6-dp rounding.  Degenerate
    (constant-series) machines emit NULL corr/slope on both sides
    rather than engine-specific inf/NaN.

    Shape: two shuffles (bucket grid, then machine), all aggregates
    partial-combinable; no self-join, no collect."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "user_id", F.window("ts", "1 day").start.alias("bucket")
    ).agg(
        F.avg(F.when(F.col("event_type") == "error", F.col("value"))).alias("x"),
        F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("y"),
    )
    p = b.where(F.col("x").isNotNull() & F.col("y").isNotNull()).select(
        "user_id",
        F.expr("CAST(round(x * 1000000000) AS DECIMAL(19,0))").alias("x9"),
        F.expr("CAST(round(y * 1000000000) AS DECIMAL(19,0))").alias("y9"),
    )
    m = (
        p.groupBy("user_id")
        .agg(
            F.expr("CAST(count(*) AS DECIMAL(10,0))").alias("n"),
            F.expr("sum(x9)").alias("sx"),
            F.expr("sum(y9)").alias("sy"),
            F.expr("sum(CAST(x9 AS DECIMAL(16,0)) * CAST(y9 AS DECIMAL(16,0)))").alias("sxy"),
            F.expr("sum(CAST(x9 AS DECIMAL(16,0)) * CAST(x9 AS DECIMAL(16,0)))").alias("sxx"),
            F.expr("sum(CAST(y9 AS DECIMAL(16,0)) * CAST(y9 AS DECIMAL(16,0)))").alias("syy"),
        )
        .where(F.col("n") >= 3)
    )
    return m.select(
        "user_id",
        F.expr("CAST(n AS BIGINT)").alias("n_buckets"),
        F.expr(
            f"CASE WHEN n * sxx = sx * sx OR n * syy = sy * sy THEN NULL ELSE "
            f"{_fshift_expr(f'{_CORR_XY} / sqrt({_CORR_XX} * {_CORR_YY})')} END"
        ).alias("xy_corr"),
        F.expr(
            _fshift_expr(f"{_CORR_XY} / CAST(n * (n - 1) AS DOUBLE) / 1e18")
        ).alias("xy_covar"),
        F.expr(
            f"CASE WHEN n * sxx = sx * sx THEN NULL ELSE "
            f"{_fshift_expr(f'{_CORR_XY} / {_CORR_XX}')} END"
        ).alias("yx_slope"),
    )


@register(
    "agg_resample_quantiles",
    oracle=f"""
    SELECT user_id,
           time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           {_fshift('quantile_cont(value, 0.10)', 'p10')},
           {_fshift('quantile_cont(value, 0.50)', 'p50')},
           {_fshift('quantile_cont(value, 0.90)', 'p90')}
    FROM events
    GROUP BY 1, 2
    HAVING count(*) >= 4
    """,
)
def agg_resample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18/O21 composition: percentile-band resample — per (machine, day)
    the P10/P50/P90 envelope operators dashboards draw around a sensor.
    Buckets with < 4 points are dropped (a band needs interior points).

    Exact ``percentile`` ↔ DuckDB ``quantile_cont`` (the O21 convention);
    linear interpolation between two identical doubles is per-row IEEE
    arithmetic, identical on both engines, so only the floor-shift 6-dp
    guard is needed.  At 100 TB the documented swap is
    ``percentile_approx`` (single-pass sketch, no per-group sort) — the
    exact face stays as the oracle witness."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.window("ts", "1 day").start.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(_fshift_expr("percentile(value, 0.10D)")).alias("p10"),
            F.expr(_fshift_expr("percentile(value, 0.50D)")).alias("p50"),
            F.expr(_fshift_expr("percentile(value, 0.90D)")).alias("p90"),
        )
        .where(F.col("n") >= 4)
    )


@register("agg_resample_quantiles_approx", oracle=None)
def agg_resample_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``agg_resample_quantiles``: same percentile
    bands via ``percentile_approx`` (single-pass mergeable sketch, no
    per-group sort/buffer — the difference between a combinable
    aggregate and holding every group's values at once).  Rows-only by
    design (the sketch is accuracy-parameterized, not value-exact); the
    band error vs the exact face is bounded in
    tests/test_approx_tolerance.py."""
    ev = load_table(spark, sf_dir, "events")
    acc = 10000
    return (
        ev.groupBy("user_id", F.window("ts", "1 day").start.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(f"percentile_approx(value, 0.10D, {acc})").alias("p10"),
            F.expr(f"percentile_approx(value, 0.50D, {acc})").alias("p50"),
            F.expr(f"percentile_approx(value, 0.90D, {acc})").alias("p90"),
        )
        .where(F.col("n") >= 4)
    )


# Seasonal-profile z: same integer-moment exactness contract as
# window_spc_zscore (windows.py) — readings are 2-dp-exact so
# v100 = round(value·100) is an exact integer and the per-(machine,
# tag, hour-of-day) moments S1=Σv100, S2=Σv100² are exact integers.
# Unlike the SPC face (whose frame length bounds n at the window size),
# a SEASONAL group's n is unbounded — years of one sensor's readings —
# and the variance products overflow int64 early: s1² wraps once
# n·v100 > 3·10⁹ (~54k rows/group at 4-digit readings), where Spark
# wraps SILENTLY and DuckDB raises (round-8 review).  S2's sum and
# both products therefore route through DECIMAL — widths chosen so
# every engine types the products at ≤ DECIMAL(38,0): exact to
# n ≤ 10¹⁰ rows/group and v100 ≤ 10⁶ (three decades past any real
# per-hod series).  At the checked SFs every decimal value is < 2⁵³,
# so the DECIMAL→DOUBLE conversion is exact and bit-identical across
# engines (CLAUDE.md failure mode (a) cannot trigger); sqrt is IEEE
# exact-rounded — still no rounding convention needed in this face.
_SEAS_W = "PARTITION BY user_id, event_type, hod"
_SEAS_MOMENTS = (
    ("n", f"CAST(count(*) OVER ({_SEAS_W}) AS BIGINT)"),
    ("s1", f"CAST(sum(v100) OVER ({_SEAS_W}) AS BIGINT)"),
    ("s2", f"sum(CAST(v100 * v100 AS DECIMAL(28,0))) OVER ({_SEAS_W})"),
)
_SEAS_VARN = (
    "CAST(n AS DECIMAL(11,0)) * CAST(s2 AS DECIMAL(27,0))"
    " - CAST(s1 AS DECIMAL(19,0)) * CAST(s1 AS DECIMAL(19,0))"
)
_SEAS_Z = (
    f"CASE WHEN {_SEAS_VARN} > 0 THEN "
    "CAST(v100 * n - s1 AS DOUBLE) "
    "* sqrt(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0)) AS DOUBLE)) "
    f"/ (CAST(n AS DOUBLE) * sqrt(CAST({_SEAS_VARN} AS DOUBLE))) "
    "ELSE NULL END"
)


register_sql(
    "agg_seasonal_profile",
    f"""
    WITH v AS (
      SELECT user_id, event_type,
             CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), m AS (
      SELECT user_id, event_type, hod, v100,
             {', '.join(f'{e} AS {a}' for a, e in _SEAS_MOMENTS)}
      FROM v
    ), z AS (
      SELECT user_id, event_type, hod, n, s1, {_SEAS_Z} AS zval
      FROM m
    )
    SELECT user_id, event_type, hod,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(s1) AS DOUBLE) / (100.0 * CAST(max(n) AS DOUBLE)) AS mean_value,
           CAST(count(CASE WHEN abs(zval) > 2.0 THEN 1 END) AS BIGINT) AS n_out,
           max(abs(zval)) AS max_abs_z
    FROM z
    GROUP BY 1, 2, 3
    """,
    tags=("bench",),  # round-7: single-exchange window+agg anchors the profile face
    doc="""Seasonal baseline + exceedance report: per (machine, tag,
    hour-of-day) the mean reading, and how many readings sit > 2σ from
    their seasonal group — the diurnal-profile face a plant compares a
    sensor against before reaching for a model (the model-free sibling
    of O44, and the profile the reference's row-filter thresholds are
    tuned from).

    Spark-first shape: the group moments are window aggregates over
    `PARTITION BY (user_id, event_type, hod)` — ONE hash exchange; the
    closing groupBy is on the same keys, so Catalyst reuses the
    partitioning (no second shuffle; asserted in
    tests/test_plan_properties.py).  At 100 TB: parallelism =
    machines × tags × 24, all aggregates partial/combinable.

    Exactness: integer-moment z (see block comment) — bit-identical
    doubles, no rounding convention.""",
)


@register(
    "agg_resample_gapfill",
    oracle="""
    WITH b AS (
      SELECT user_id, event_type,
             time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS bucket,
             round(avg(value), 9) AS v
      FROM events GROUP BY 1, 2, 3
    ), r AS (
      SELECT user_id, event_type, min(bucket) AS b0, max(bucket) AS b1
      FROM b GROUP BY 1, 2
    ), grid AS (
      SELECT user_id, event_type,
             unnest(generate_series(b0, b1, INTERVAL 6 HOUR)) AS bucket
      FROM r
    ), j AS (
      SELECT g.user_id, g.event_type, g.bucket, b.v
      FROM grid g
      LEFT JOIN b ON b.user_id = g.user_id AND b.event_type = g.event_type
                 AND b.bucket = g.bucket
    )
    SELECT user_id, event_type, bucket,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id, event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
           v IS NULL AS was_gap
    FROM j
    """,
)
def agg_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 gap-fill face: densify each (machine, tag) series onto its
    full 6-hour bucket grid and forward-fill across empty buckets —
    the missing-bucket treatment the reference's dropna alignment
    sidesteps, and what a dashboard needs to draw an unbroken line
    over sensor outages (pairs with ``agg_sensor_gaps``, which REPORTS
    the holes this face fills; ``agg_resample_interp`` is the
    interpolating sibling on observed buckets only).

    Spark-first shape (round-9 rewrite — closes the decade2 6.2 watch):
    gap-run explode instead of grid join.  A dense bucket's ffill value
    is BY DEFINITION the `v` of the latest observed bucket ≤ it, so
    each observed bucket, given its successor via ONE `lead()` over the
    observed frame, emits its whole gap run ``[bucket, next−6h]``
    map-side, carrying `v` — the dense grid is GENERATED pre-filled,
    never joined or window-sorted.  vs the r7 grid-join form this
    removes the (machines × tags × span)-row join AND the dense-frame
    ffill sort: the only exchanges left carry the OBSERVED bucket frame
    (the corpus agg + one lead window) — at the 100× replica that is
    9.5M rows exchanged instead of 77M joined then sorted.  The DuckDB
    oracle keeps the independent grid + LEFT JOIN + last_value
    derivation, so parity now crosses two genuinely different
    algorithms.  Output volume is unchanged (machines × tags ×
    span/interval rows, emitted map-side).

    Parity: filled values copy the round-9 bucket means bit-exactly;
    bucket arithmetic is epoch-aligned 6-hour steps in both engines
    (≤ 1-day alignment rule); `was_gap` is exact bucket identity."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "user_id", "event_type", F.window("ts", "6 hours").start.alias("bucket")
        )
        .agg(F.round(F.avg("value"), 9).alias("v"))
    )
    nxt = b.select(
        "user_id",
        "event_type",
        "bucket",
        "v",
        F.expr(
            "lead(bucket) OVER (PARTITION BY user_id, event_type ORDER BY bucket)"
        ).alias("nbucket"),
    )
    # run_end: one step short of the next observed bucket; the group's
    # last observed bucket (nbucket NULL) emits only itself
    run = nxt.select(
        "user_id",
        "event_type",
        F.col("bucket").alias("obs_bucket"),
        "v",
        F.explode(
            F.expr(
                "sequence(bucket, coalesce(nbucket - interval 6 hours, bucket),"
                " interval 6 hours)"
            )
        ).alias("bucket"),
    )
    return run.select(
        "user_id",
        "event_type",
        "bucket",
        F.col("v").alias("value_ffill"),
        (F.col("bucket") != F.col("obs_bucket")).alias("was_gap"),
    )


# Classical additive seasonal decomposition (Cleveland's decompose
# lineage, on the hourly-TOTAL series per tag): trend = centered
# 24-bucket moving average, seasonal = per-hour-of-day mean of the
# detrended series, residual = the rest.  Exactness: clearing the /24
# and /|B_h| denominators keeps every component numerator an exact
# integer — d24 = 24·s − S24 (bigint), Q_h = Σ d24 (decimal-routed: the
# per-hod group is span-unbounded, CLAUDE.md integer-moment rule), and
# the residual numerator d24·|B_h| − Q_h (decimal).  Each report value
# is then ONE double division of exact integers — bit-identical across
# engines, additivity trend+seasonal+residual = total holds in exact
# rationals by construction.
_SDEC_W = (
    "PARTITION BY event_type ORDER BY bucket "
    "ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING"
)


@register(
    "agg_seasonal_decompose",
    oracle=f"""
    WITH v AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), b AS (
      SELECT event_type, bucket, CAST(sum(v100) AS BIGINT) AS s
      FROM v GROUP BY 1, 2
    ), t AS (
      SELECT event_type, bucket, s,
             CAST(sum(s) OVER ({_SDEC_W}) AS BIGINT) AS s24,
             CAST(count(*) OVER ({_SDEC_W}) AS BIGINT) AS nf
      FROM b
    ), f AS (
      SELECT event_type, bucket, s, s24, 24 * s - s24 AS d24,
             CAST(hour(bucket) AS BIGINT) AS hod
      FROM t WHERE nf = 24
    ), g AS (
      SELECT event_type, hod,
             sum(CAST(d24 AS HUGEINT)) AS q,
             CAST(count(*) AS BIGINT) AS bh
      FROM f GROUP BY 1, 2
    )
    SELECT f.event_type, f.bucket, f.hod,
           CAST(f.s AS DOUBLE) / 100.0 AS total,
           CAST(f.s24 AS DOUBLE) / 2400.0 AS trend,
           CAST(g.q AS DOUBLE) / (CAST(g.bh AS DOUBLE) * 2400.0) AS seasonal,
           CAST(CAST(f.d24 AS HUGEINT) * g.bh - g.q AS DOUBLE)
             / (CAST(g.bh AS DOUBLE) * 2400.0) AS residual
    FROM f JOIN g ON g.event_type = f.event_type AND g.hod = f.hod
    """,
)
def agg_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18/O21 adjacency — additive seasonal decomposition of each
    tag's hourly-total series: total = trend (centered 24-bucket moving
    average) + seasonal (hour-of-day mean of the detrended series) +
    residual.  The residual is what a drift detector should watch once
    load shape and diurnal cycle are explained away; buckets without a
    full 24-bucket trend context are dropped (same full-frame rule as
    the Hampel face).

    Spark-first shape: one partial-combinable bucket aggregation (the
    only corpus-scale pass), a 24-row frame over the BUCKET series
    (span-bounded — its size is hours-in-span × tags, independent of
    row count), a hod regroup of that same small frame, and a join
    back on (event_type, hod) whose build side is ≤ tags × 24 rows —
    fixed cardinality, so the explicit broadcast is policy-clean.  At
    100 TB only the first aggregation touches the corpus.

    Exactness: integer/decimal-routed throughout (block comment); each
    output is a single int→double division, no rounding convention."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.window("ts", "1 hour").start.alias("bucket"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
    )
    b = v.groupBy("event_type", "bucket").agg(
        F.sum("v100").cast("bigint").alias("s")
    )
    t = b.select(
        "*",
        F.expr(f"CAST(sum(s) OVER ({_SDEC_W}) AS BIGINT)").alias("s24"),
        F.expr(f"CAST(count(*) OVER ({_SDEC_W}) AS BIGINT)").alias("nf"),
    )
    # span-bounded frame (hours-in-span × tags rows): persist so the
    # seasonal regroup and the join probe share ONE corpus aggregation —
    # without it Catalyst re-derives the whole bucket chain (and a second
    # corpus scan) under the broadcast build
    f = persist_tracked(
        t.where(F.col("nf") == 24).select(
            "event_type",
            "bucket",
            "s",
            "s24",
            F.expr("24 * s - s24").alias("d24"),
            F.expr("CAST(hour(bucket) AS BIGINT)").alias("hod"),
        )
    )
    g = f.groupBy("event_type", "hod").agg(
        F.expr("CAST(sum(CAST(d24 AS DECIMAL(28,0))) AS DECIMAL(38,0))").alias("q"),
        F.count(F.lit(1)).cast("bigint").alias("bh"),
    )
    j = f.join(F.broadcast(g), ["event_type", "hod"])
    return j.select(
        "event_type",
        "bucket",
        "hod",
        F.expr("CAST(s AS DOUBLE) / 100.0").alias("total"),
        F.expr("CAST(s24 AS DOUBLE) / 2400.0").alias("trend"),
        F.expr("CAST(q AS DOUBLE) / (CAST(bh AS DOUBLE) * 2400.0)").alias("seasonal"),
        F.expr(
            "CAST(CAST(d24 AS DECIMAL(25,0)) * CAST(bh AS DECIMAL(12,0)) - q"
            " AS DOUBLE) / (CAST(bh AS DOUBLE) * 2400.0)"
        ).alias("residual"),
    )


# Sample autocorrelation at lags 1–3 per machine series — the
# diagnostics a forecaster (O42's AR face) reads before picking a
# lookback.  Pairwise-Pearson form over (x_t, x_{t−k}) pairs; the same
# exact-integer co-moment machinery as agg_tag_correlation (nanos →
# here 2-dp ints directly), summed as DECIMAL(38,0), numerators
# bit-identical; final sqrt/divide masked by floor-shift.
def _acf_moments_sql(k: int) -> str:
    """The co-moment aggregates of lag ``k``."""
    big = "DECIMAL(38,0)"
    return ", ".join(f"{e} AS {a}" for a, e in (
        (f"n{k}", f"CAST(count(y{k}) AS {big})"),
        (f"sx{k}", f"sum(CASE WHEN y{k} IS NOT NULL THEN CAST(x AS {big}) END)"),
        (f"sy{k}", f"sum(CAST(y{k} AS {big}))"),
        (f"sxy{k}", f"sum(CAST(x AS {big}) * y{k})"),
        (f"sxx{k}", f"sum(CASE WHEN y{k} IS NOT NULL THEN CAST(x AS {big}) * x END)"),
        (f"syy{k}", f"sum(CAST(y{k} AS {big}) * y{k})"),
    ))


def _acf_expr(k: int) -> str:
    num = f"CAST(n{k} * sxy{k} - sx{k} * sy{k} AS DOUBLE)"
    vx = f"CAST(n{k} * sxx{k} - sx{k} * sx{k} AS DOUBLE)"
    vy = f"CAST(n{k} * syy{k} - sy{k} * sy{k} AS DOUBLE)"
    return (
        f"CASE WHEN n{k} >= 3 AND {vx} > 0 AND {vy} > 0 THEN "
        f"{_fshift_expr(f'{num} / sqrt({vx} * {vy})')} ELSE NULL END"
    )


_ACF_LAG_O = "PARTITION BY user_id ORDER BY ts, event_id"


register_sql(
    "agg_autocorr",
    f"""
    WITH v AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), l AS (
      SELECT user_id, v100 AS x,
             LAG(v100, 1) OVER ({_ACF_LAG_O}) AS y1,
             LAG(v100, 2) OVER ({_ACF_LAG_O}) AS y2,
             LAG(v100, 3) OVER ({_ACF_LAG_O}) AS y3
      FROM v
    ), m AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             {_acf_moments_sql(1)}, {_acf_moments_sql(2)},
             {_acf_moments_sql(3)}
      FROM l GROUP BY user_id HAVING count(*) >= 10
    )
    SELECT user_id, n,
           {_acf_expr(1)} AS acf1,
           {_acf_expr(2)} AS acf2,
           {_acf_expr(3)} AS acf3
    FROM m
    """,
    doc="""O42/O45 adjacency — per-machine sample autocorrelation of the
    reading series at lags 1–3 (pairwise-Pearson over (x_t, x_{t−k})):
    the stationarity/persistence diagnostic read before choosing a
    forecast lookback, and the whiteness check on residuals after.
    Machines with < 10 readings or a constant series report NULL.

    Spark-first shape: one (machine, ts) window pass producing the
    three lag columns (single exchange + sort), then a groupBy on the
    SAME key — Catalyst reuses the partitioning, so the whole operator
    is ONE shuffle; all 18 co-moments are partial-combinable
    DECIMAL(38,0) sums.  At 100 TB: parallelism = machines, no join.

    Exactness: integer co-moments (block comment above
    :func:`_acf_moments_sql`); only the closing sqrt/divide are float,
    floor-shift-rounded per the registry convention.""",
)


# Cross-correlation lead/lag scan — agg_tag_correlation generalized
# over a time shift: corr(x_t, y_{t+k}) for k ∈ [−2, 2] days on each
# machine's daily-mean series, shifted along a DENSE daily grid (the
# gapfill densification) so lag k is exactly k days even across
# missing buckets.  The argmax lag answers "does the error tag LEAD
# the purchase tag?" — the sensor-causality screen run before wiring
# one tag as a leading indicator of another.  Same nanos-pinned
# integer co-moment discipline as agg_tag_correlation (DECIMAL(38,0)
# Spark / HUGEINT DuckDB); is_best ranks the FLOOR-SHIFTED corr with a
# lag-ascending tiebreak, so the flag is deterministic across engines.
_XCORR_LAGS = (-2, -1, 0, 1, 2)
_XCORR_SHIFTS = (
    ("y_m2", "LAG(y9, 2)"),
    ("y_m1", "LAG(y9, 1)"),
    ("y_0", "LAG(y9, 0)"),
    ("y_p1", "LEAD(y9, 1)"),
    ("y_p2", "LEAD(y9, 2)"),
)
_XCORR_YL = (
    "CASE lag WHEN -2 THEN y_m2 WHEN -1 THEN y_m1 WHEN 0 THEN y_0 "
    "WHEN 1 THEN y_p1 ELSE y_p2 END"
)
_XCORR_RANK_O = (
    "PARTITION BY user_id ORDER BY xcorr DESC NULLS LAST, lag ASC"
)


def _xcorr_moments(hugeint: bool) -> list[tuple[str, str]]:
    both = "x9 IS NOT NULL AND yl IS NOT NULL"
    if hugeint:
        return [
            ("n", f"CAST(count(CASE WHEN {both} THEN 1 END) AS HUGEINT)"),
            ("sx", f"sum(CASE WHEN {both} THEN CAST(x9 AS HUGEINT) END)"),
            ("sy", f"sum(CASE WHEN {both} THEN CAST(yl AS HUGEINT) END)"),
            ("sxy", f"sum(CASE WHEN {both} THEN CAST(x9 AS HUGEINT) * yl END)"),
            ("sxx", f"sum(CASE WHEN {both} THEN CAST(x9 AS HUGEINT) * x9 END)"),
            ("syy", f"sum(CASE WHEN {both} THEN CAST(yl AS HUGEINT) * yl END)"),
        ]
    d16 = "DECIMAL(16,0)"
    return [
        ("n", f"CAST(count(CASE WHEN {both} THEN 1 END) AS DECIMAL(10,0))"),
        ("sx", f"sum(CASE WHEN {both} THEN CAST(x9 AS DECIMAL(19,0)) END)"),
        ("sy", f"sum(CASE WHEN {both} THEN CAST(yl AS DECIMAL(19,0)) END)"),
        ("sxy", f"sum(CASE WHEN {both} THEN CAST(x9 AS {d16}) * CAST(yl AS {d16}) END)"),
        ("sxx", f"sum(CASE WHEN {both} THEN CAST(x9 AS {d16}) * CAST(x9 AS {d16}) END)"),
        ("syy", f"sum(CASE WHEN {both} THEN CAST(yl AS {d16}) * CAST(yl AS {d16}) END)"),
    ]


_XCORR_VAL = (
    f"CASE WHEN n >= 3 AND n * sxx <> sx * sx AND n * syy <> sy * sy THEN "
    f"{_fshift_expr(f'{_CORR_XY} / sqrt({_CORR_XX} * {_CORR_YY})')} ELSE NULL END"
)


@register(
    "agg_xcorr_leadlag",
    oracle=f"""
    WITH b AS (
      SELECT user_id,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS bucket,
             CAST(round(avg(CASE WHEN event_type = 'error' THEN value END)
                        * 1000000000) AS BIGINT) AS x9,
             CAST(round(avg(CASE WHEN event_type = 'purchase' THEN value END)
                        * 1000000000) AS BIGINT) AS y9
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY 1
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(b0, b1, INTERVAL 1 DAY)) AS bucket
      FROM r
    ), j AS (
      SELECT g.user_id, g.bucket, b.x9, b.y9
      FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
    ), s AS (
      SELECT user_id, bucket, x9,
             {', '.join(f'{e} OVER w AS {a}' for a, e in _XCORR_SHIFTS)}
      FROM j WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
    ), l AS (
      SELECT s.*, k.lag FROM s
      CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) AS k(lag)
    ), p AS (
      SELECT user_id, lag, x9, {_XCORR_YL} AS yl FROM l
    ), m AS (
      SELECT user_id, lag,
             {', '.join(f'{e} AS {a}' for a, e in _xcorr_moments(True))}
      FROM p GROUP BY 1, 2
    ), c AS (
      SELECT user_id, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
             {_XCORR_VAL} AS xcorr
      FROM m WHERE n >= 3
    )
    SELECT user_id, lag, n_pairs, xcorr,
           (xcorr IS NOT NULL AND rank() OVER ({_XCORR_RANK_O}) = 1) AS is_best
    FROM c
    """,
)
def agg_xcorr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation screen between two tags ('error' vs
    'purchase') per machine: Pearson corr of the daily-mean series at
    shifts of −2…+2 days along the dense daily grid, with ``is_best``
    marking each machine's strongest (floor-shifted, lag-ascending
    tiebreak) alignment.  Positive best lag ⇒ x leads y — the
    screen for wiring one tag as another's leading indicator, and the
    shifted generalization of agg_tag_correlation's k = 0.

    Spark-first shape: one corpus pass (partial-combinable bucket
    agg), then everything rides the machines × days bucket frame:
    per-machine `sequence()` grid + co-partitioned left join (the
    gapfill pattern — HEAVY-rehearsed), ONE window pass computing all
    five shifts, a fixed 5-row explode (never a corpus-side fan-out),
    and a regroup per (machine, lag).  At 100 TB only the first
    aggregation sees raw events.

    Exactness: bucket means pinned to integer nanos, 128-bit co-moment
    sums, floor-shift on the closing sqrt/divide — the
    agg_tag_correlation discipline, reusing its numerator fragments."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("user_id", F.window("ts", "1 day").start.alias("bucket")).agg(
        F.expr(
            "CAST(round(avg(CASE WHEN event_type = 'error' THEN value END)"
            " * 1000000000) AS BIGINT)"
        ).alias("x9"),
        F.expr(
            "CAST(round(avg(CASE WHEN event_type = 'purchase' THEN value END)"
            " * 1000000000) AS BIGINT)"
        ).alias("y9"),
    )
    # machines x days frame: persist so the grid derivation and the join
    # probe share ONE corpus aggregation (the seasonal-decompose rule)
    b = persist_tracked(b)
    r = b.groupBy("user_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = r.select(
        "user_id",
        F.explode(F.expr("sequence(b0, b1, interval 1 day)")).alias("bucket"),
    )
    j = grid.join(b, ["user_id", "bucket"], "left")
    w = "PARTITION BY user_id ORDER BY bucket"
    s = j.select(
        "user_id",
        "bucket",
        "x9",
        *[F.expr(f"{e} OVER ({w})").alias(a) for a, e in _XCORR_SHIFTS],
    )
    l = s.select(
        "*", F.explode(F.array(*[F.lit(k) for k in _XCORR_LAGS])).alias("lag")
    )
    p = l.select("user_id", "lag", "x9", F.expr(_XCORR_YL).alias("yl"))
    m = (
        p.groupBy("user_id", "lag")
        .agg(*[F.expr(e).alias(a) for a, e in _xcorr_moments(False)])
        .where(F.col("n") >= 3)
    )
    c = m.select(
        "user_id",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        F.expr(_XCORR_VAL).alias("xcorr"),
    )
    return c.select(
        "*",
        F.expr(
            f"(xcorr IS NOT NULL AND rank() OVER ({_XCORR_RANK_O}) = 1)"
        ).alias("is_best"),
    ).select("user_id", "lag", "n_pairs", "xcorr", "is_best")


@register(
    "agg_rolling_distinct",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT event_type,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS day,
             user_id
      FROM events
    ), r AS (
      SELECT event_type, min(day) AS d0, max(day) AS d1 FROM pairs GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM r
    )
    SELECT g.event_type, g.day,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS active_7d
    FROM grid g
    JOIN pairs p ON p.event_type = g.event_type
                AND p.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
    GROUP BY 1, 2
    """,
)
def agg_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives per tag (the WAU/rolling-MAU
    shape): for each day, how many distinct machines reported that tag
    in the trailing week.  Days whose trailing window saw no activity
    are absent (inner semantics on both sides).

    Spark-first shape: COUNT(DISTINCT) over a sliding range has no
    window form, and the naive day×activity range join re-scans a
    week of corpus per day.  Instead: dedup to (tag, day, machine)
    once (partial-combinable), EXPLODE each activity row into the ≤7
    report days it covers (a fixed ×7 fan-out of the already-tiny
    pair frame — linear, shuffle on (tag, day)), and count distinct
    per report day; a fixed-cardinality per-tag max-day frame (≤ tags
    rows, broadcast) trims cover days past the observed span.  The
    range join survives only in the DuckDB oracle, where it is the
    independent-path check.

    Exactness: pure integer counting — no float anywhere."""
    ev = load_table(spark, sf_dir, "events")
    # machines x days x tags incidence frame: persist so the bounds
    # lookup and the cover explode share ONE corpus dedup pass
    pairs = persist_tracked(
        ev.select(
            "event_type",
            F.window("ts", "1 day").start.alias("day"),
            "user_id",
        )
        .distinct()
    )
    bounds = pairs.groupBy("event_type").agg(F.max("day").alias("d1"))
    cover = pairs.select(
        "event_type",
        "user_id",
        F.explode(
            F.expr("sequence(day, day + interval 6 days, interval 1 day)")
        ).alias("day"),
    )
    trimmed = cover.join(F.broadcast(bounds), "event_type").where(
        F.col("day") <= F.col("d1")
    )
    return trimmed.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").cast("bigint").alias("active_7d")
    )


# M4 downsampling (Jugel et al., VLDB 2014): per pixel-column bucket,
# keep first/last/min/max — the smallest aggregate set that renders a
# line chart PIXEL-IDENTICAL to the raw series.  The dashboard-side
# reducer that lets a 100 TB hypertable draw in milliseconds.
_M4_BUCKET_P = "PARTITION BY user_id, event_type, bucket"


@register(
    "agg_m4_downsample",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_type, event_id, value,
             CAST(ts AS TIMESTAMP) AS ts,
             time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS bucket
      FROM events
    ), w AS (
      SELECT *,
             row_number() OVER ({_M4_BUCKET_P} ORDER BY ts, event_id) AS rn_a,
             row_number() OVER ({_M4_BUCKET_P} ORDER BY ts DESC, event_id DESC)
               AS rn_z
      FROM v
    )
    SELECT user_id, event_type, bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS v_first,
           max(CASE WHEN rn_z = 1 THEN value END) AS v_last,
           min(value) AS v_min,
           max(value) AS v_max,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2, 3
    """,
)
def agg_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling per (machine, tag): first, last,
    min, and max reading per 6-hour pixel bucket — the error-free line
    -chart reducer (every pixel a full-resolution render would light is
    lit by these four values; VLDB 2014's M4).  What a dashboard runs
    instead of shipping raw points.

    Spark-first shape: both row_number frames AND the closing groupBy
    share the (machine, tag, bucket) hash partitioning — ONE exchange,
    one sort, partial-combinable final aggregates; at 100 TB the output
    is pixels × series rows, independent of input volume.

    Exactness: first/last ride the unique (ts, event_id) total order;
    min/max/count are exact; values are copied, never computed — no
    rounding convention needed."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        "ts",
        F.window("ts", "6 hours").start.alias("bucket"),
    )
    w = v.select(
        "*",
        F.expr(
            f"row_number() OVER ({_M4_BUCKET_P} ORDER BY ts, event_id)"
        ).alias("rn_a"),
        F.expr(
            f"row_number() OVER ({_M4_BUCKET_P} ORDER BY ts DESC, event_id DESC)"
        ).alias("rn_z"),
    )
    return w.groupBy("user_id", "event_type", "bucket").agg(
        F.max(F.expr("CASE WHEN rn_a = 1 THEN value END")).alias("v_first"),
        F.max(F.expr("CASE WHEN rn_z = 1 THEN value END")).alias("v_last"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


# LTTB (Steinarsson 2013, "Downsampling Time Series for Visual
# Representation"): per bucket keep the ONE point maximizing the
# triangle area with the previously SELECTED point and the next
# bucket's centroid — the perceptual sibling of M4 (shape-preserving
# where M4 is pixel-exact).  The selection recurrence is inherently
# sequential per series, so it runs as a per-machine Arrow island —
# rows-only check by design; an independent pure-Python LTTB is the
# parity reference in tests/test_operators_semantics.py.
_LTTB_SCHEMA = (
    "user_id bigint, event_id bigint, ts timestamp, value double, pos bigint"
)


def _lttb_select(ts_us, values, n_out: int):
    """Sequential LTTB over one series (µs-int x axis, float y).
    Returns selected indices; ties break to the earliest index —
    deterministic.  Selection is invariant to a uniform x rescale
    (areas all scale by the same factor), so the µs/ns unit of the
    pandas datetime view cannot change the picked points."""
    n = len(values)
    if n_out >= n:
        return list(range(n))
    if n_out < 3:
        return [0, n - 1]
    # n_out-2 interior buckets over points 1..n-2
    import numpy as np

    x = np.asarray(ts_us, dtype=np.float64)
    y = np.asarray(values, dtype=np.float64)
    edges = [1 + (i * (n - 2)) // (n_out - 2) for i in range(n_out - 1)]
    sel = [0]
    a = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        if b + 2 <= n_out - 2:
            nlo, nhi = edges[b + 1], edges[b + 2]
        else:
            nlo, nhi = n - 1, n
        cx = x[nlo:nhi].mean() if nhi > nlo else x[n - 1]
        cy = y[nlo:nhi].mean() if nhi > nlo else y[n - 1]
        ax, ay = x[a], y[a]
        area = np.abs(
            (ax - cx) * (y[lo:hi] - ay) - (ax - x[lo:hi]) * (cy - ay)
        )
        a = lo + int(np.argmax(area))  # argmax ties -> first index
        sel.append(a)
    sel.append(n - 1)
    return sel


@register("agg_lttb_downsample", oracle=None)
def agg_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB perceptual downsampling to 60 points per machine series
    (rows-only: the selection recurrence is sequential, not
    SQL-expressible — parity vs an independent pure-Python LTTB plus
    endpoint/count invariants are pytested).  Pairs with
    ``agg_m4_downsample``: M4 is pixel-exact for line rendering, LTTB
    is the shape-preserving sketch a thumbnail/sparkline wants.

    Spark-first shape: ONE explicitly spread (machine)-island pass —
    `repartition(n, user_id)` (AQE-coalesce-exempt, satisfies the
    grouped-map clustering) then `applyInPandas` running the O(n)
    selection per series.  At 100 TB: parallelism = machines; each
    island is linear in its own series and emits exactly 60 rows."""
    import pandas as pd

    from gordo_components_spark.ml.islands import _spread

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        ts_us = pdf["ts"].astype("int64") // 1000
        sel = _lttb_select(ts_us.to_numpy(), pdf["value"].to_numpy(), 60)
        out = pdf.iloc[sel][["user_id", "event_id", "ts", "value"]].copy()
        out["pos"] = range(len(sel))
        return out

    return _spread(ev).groupBy("user_id").applyInPandas(fn, _LTTB_SCHEMA)


register_sql(
    "agg_markov_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), c AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n_ab
      FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n_ab,
           CAST(SUM(n_ab) OVER (PARTITION BY cur) AS BIGINT) AS n_a,
           CAST(n_ab AS DOUBLE)
             / CAST(SUM(n_ab) OVER (PARTITION BY cur) AS DOUBLE) AS p
    FROM c
    """,
    doc="""First-order Markov transition matrix over each machine's event
    sequence: for every (current tag, next tag) pair, the transition
    count and conditional probability P(next | current) — the
    path-analytics face (what usually follows an 'error'?), and the
    empirical transition model a sequence-anomaly monitor scores
    against.  Sequences never cross machines (LEAD partitions by
    machine).

    Spark-first shape: one (machine, ts) window exchange for the LEAD,
    one partial-combinable (cur, nxt) count shuffle, and the row
    totals ride a window over the tags × tags result frame — no join
    anywhere.  At 100 TB the output is ≤ tags² rows.

    Exactness: integer counts; p is one exact-int division —
    bit-identical, no rounding convention.""",
)


@register(
    "agg_histogram",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), r AS (
      SELECT event_type, MIN(v100) AS lo, MAX(v100) AS hi
      FROM v GROUP BY 1
    ), b AS (
      SELECT v.event_type,
             LEAST(19, (v.v100 - r.lo) * 20 // (r.hi - r.lo + 1)) AS bin,
             r.lo, r.hi
      FROM v JOIN r ON r.event_type = v.event_type
    )
    SELECT event_type, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(MIN(lo + bin * (hi - lo + 1) // 20) AS DOUBLE) / 100.0
             AS bin_lo,
           CAST(MIN(lo + (bin + 1) * (hi - lo + 1) // 20) AS DOUBLE) / 100.0
             AS bin_hi
    FROM b GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per tag (20 bins over the tag's exact
    [min, max] 2-dp range) — the distribution summary a dashboard or a
    drift monitor's reference window stores (the drift-bins face uses
    FIXED global bins; this derives each tag's own range).  Empty bins
    are absent (inner semantics both sides).

    Spark-first shape: one partial-combinable min/max pass, a
    fixed-cardinality (≤ tags rows) broadcast back, and one
    partial-combinable (tag, bin) count — two corpus scans, zero
    windows, zero skew (bin keys subdivide tags).  Exactness: binning
    is pure bigint floor arithmetic on the 2-dp ints — the +1 on the
    range denominator makes hi land in bin 19 without a float
    boundary; bin edges are single exact-int → double divisions."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100")
    )
    r = v.groupBy("event_type").agg(
        F.min("v100").alias("lo"), F.max("v100").alias("hi")
    )
    b = v.join(F.broadcast(r), "event_type").select(
        "event_type",
        F.expr("LEAST(19, (v100 - lo) * 20 div (hi - lo + 1))").alias("bin"),
        "lo",
        "hi",
    )
    return b.groupBy("event_type", F.col("bin").cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "CAST(MIN(lo + bin * (hi - lo + 1) div 20) AS DOUBLE) / 100.0"
        ).alias("bin_lo"),
        F.expr(
            "CAST(MIN(lo + (bin + 1) * (hi - lo + 1) div 20) AS DOUBLE) / 100.0"
        ).alias("bin_hi"),
    )


# Time-weighted average (the hypertable `time_weight('Linear', ...)`
# aggregate): the trapezoid integral of the piecewise-linear reading
# curve divided by elapsed time — what "average sensor value" must mean
# when sampling is IRREGULAR (a plain avg over-weights dense bursts).
# Integer-exact: readings are 2-dp ints (v100) and timestamps exact µs,
# so each segment's contribution (v100_i + v100_{i+1})·Δµs is an exact
# integer; per-(machine, tag, day) the sum is bounded by
# 2·max_v100·86400e6 ≈ 3.4e15 < 2⁵³, so the DECIMAL/HUGEINT numerator
# converts to double EXACTLY in both engines and the closing division
# is one IEEE op — bit-identical, no rounding convention.  Segments are
# those BETWEEN readings inside one (machine, tag, day) bucket
# (documented semantics: cross-midnight segments belong to neither
# day); buckets with < 2 readings have no elapsed time and are absent.
@register(
    "agg_time_weighted_avg",
    oracle="""
    WITH v AS (
      SELECT user_id, event_type,
             time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(round(value * 100) AS BIGINT) AS v100,
             event_id
      FROM events
    ), s AS (
      SELECT user_id, event_type, day, us, v100,
             LEAD(us) OVER w AS us2, LEAD(v100) OVER w AS v2
      FROM v
      WINDOW w AS (PARTITION BY user_id, event_type, day
                   ORDER BY us, event_id)
    ), g AS (
      SELECT user_id, event_type, day,
             CAST(count(*) AS BIGINT) + 1 AS n,
             sum(CAST(v100 + v2 AS HUGEINT) * (us2 - us)) AS num,
             CAST(sum(us2 - us) AS BIGINT) AS span_us
      FROM s WHERE us2 IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, day, n, span_us,
           CAST(num AS DOUBLE) / (200.0 * CAST(span_us AS DOUBLE)) AS twa
    FROM g
    """,
    tags=("bench",),
)
def agg_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (machine, tag, day): trapezoid
    integration over the irregular reading timeline — the aggregate a
    hypertable continuous-aggregate stores so that burst-sampled hours
    do not dominate a day's "average" (block comment: exact integer
    numerators, < 2⁵³ by the per-day bound).

    Spark-first shape: ONE (machine, tag, day) window exchange for the
    LEAD pair-up, then a partial-combinable regroup on the same key —
    Catalyst reuses the partitioning, so the whole operator is one
    shuffle; embarrassingly parallel across series, day-bounded frame
    sizes."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_type",
        F.window("ts", "1 day").start.alias("day"),
        F.unix_micros("ts").alias("us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
        "event_id",
    )
    w = "PARTITION BY user_id, event_type, day ORDER BY us, event_id"
    s = v.select(
        "user_id",
        "event_type",
        "day",
        "us",
        "v100",
        F.expr(f"LEAD(us) OVER ({w})").alias("us2"),
        F.expr(f"LEAD(v100) OVER ({w})").alias("v2"),
    )
    g = (
        s.where(F.col("us2").isNotNull())
        .groupBy("user_id", "event_type", "day")
        .agg(
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n"),
            F.expr("sum(CAST((v100 + v2) AS DECIMAL(24,0)) * (us2 - us))")
            .cast("decimal(38,0)")
            .alias("num"),
            F.sum(F.col("us2") - F.col("us")).cast("bigint").alias("span_us"),
        )
    )
    return g.select(
        "user_id",
        "event_type",
        "day",
        "n",
        "span_us",
        F.expr(
            "CAST(num AS DOUBLE) / (200.0 * CAST(span_us AS DOUBLE))"
        ).alias("twa"),
    )


# run_id = MIN(event_id) is the guaranteed-unique run key: two same-value
# runs split by an interleaved reading at a DUPLICATE timestamp tie on
# (run_len, run_start, v100); MIN(event_id) never ties.
register_sql(
    "agg_value_runs",
    """
    WITH v AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), d AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type, v100
                                  ORDER BY ts, event_id) AS grp
      FROM v
    ), runs AS (
      SELECT user_id, event_type, v100, grp,
             CAST(count(*) AS BIGINT) AS run_len,
             MIN(ts) AS run_start,
             MIN(event_id) AS run_id
      FROM d GROUP BY 1, 2, 3, 4
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY run_len DESC, run_start, v100,
                                            run_id)
               AS rk,
             CAST(count(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
               AS n_runs
      FROM runs
    )
    SELECT user_id, event_type, n_runs,
           run_len AS longest_run,
           CAST(v100 AS DOUBLE) / 100.0 AS run_value,
           run_start
    FROM best WHERE rk = 1
    """,
    doc="""Stuck-sensor screen per (machine, tag): the LONGEST run of
    consecutive identical 2-dp readings (gaps-and-islands via the
    row_number difference), with the run's value and start time and the
    total run count — the frozen-transmitter diagnostic that
    complements the Benford screen (Benford catches fabricated
    distributions; this catches a sensor literally pinned at one
    value).  Ties take the earliest, then lowest-value run.

    Spark-first shape: all three windows and the run regroup share ONE
    (machine, tag) exchange (the sub-keyed islands window is a finer
    sort of the same partitioning); output is one row per series.
    Exactness: integer counts and 2-dp ints; `run_start` is the exact
    µs timestamp; unique tiebreak chain.""",
)


# Shannon entropy of the binned value distribution per tag.  Float
# discipline (the BM25-idf precedent, hardened): the only transcendental
# is ln(p) on an exact rational p; each bin's term −p·ln(p)/ln(2) is
# floor-shifted to 9 dp (our half-tie-proof rounding), then the ≤20
# rounded terms are summed through DECIMAL(20,9) so accumulation order
# cannot change the total; the result is exact at 9 dp in both engines.
@register(
    "agg_entropy",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), r AS (
      SELECT event_type, MIN(v100) AS lo, MAX(v100) AS hi,
             CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1
    ), b AS (
      SELECT v.event_type,
             LEAST(19, (v.v100 - r.lo) * 20 // (r.hi - r.lo + 1)) AS bin,
             r.n
      FROM v JOIN r ON r.event_type = v.event_type
    ), c AS (
      SELECT event_type, bin, n, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2, 3
    ), t AS (
      SELECT event_type, n,
             floor((-(CAST(c AS DOUBLE) / n)
                    * ln(CAST(c AS DOUBLE) / n) / ln(2.0))
                   * 1000000000 + 0.5) / 1000000000 AS term
      FROM c
    )
    SELECT event_type, n,
           CAST(SUM(CAST(term AS DECIMAL(20,9))) AS DOUBLE) AS entropy_bits
    FROM t GROUP BY 1, 2
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution entropy per tag: Shannon entropy (bits) of the
    20-bin value histogram — the one-number "how spread is this
    sensor" screen (≈0 bits = stuck near one bin, →log₂20 ≈ 4.32 =
    uniform), pairing with ``agg_histogram`` (the shape),
    ``agg_skew_gini`` (fleet concentration) and the Benford screen
    (digit law).  A drift monitor alarms on entropy collapse long
    before a mean shifts.

    Spark-first shape: the histogram face's two combinable passes plus
    a ≤ tags×20-row term frame — nothing else touches the corpus.
    Float discipline per the block comment: floor-shifted per-bin
    terms, decimal-summed — engine-identical at 9 dp."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100")
    )
    r = v.groupBy("event_type").agg(
        F.min("v100").alias("lo"),
        F.max("v100").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    b = v.join(F.broadcast(r), "event_type").select(
        "event_type",
        F.expr("LEAST(19, (v100 - lo) * 20 div (hi - lo + 1))").alias("bin"),
        "n",
    )
    c = b.groupBy("event_type", "bin", "n").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    t = c.select(
        "event_type",
        "n",
        F.expr(
            "floor((-(CAST(c AS DOUBLE) / n)"
            " * ln(CAST(c AS DOUBLE) / n) / ln(2.0))"
            " * 1000000000 + 0.5) / 1000000000"
        ).alias("term"),
    )
    return t.groupBy("event_type", "n").agg(
        F.expr("CAST(SUM(CAST(term AS DECIMAL(20,9))) AS DOUBLE)").alias(
            "entropy_bits"
        )
    )


# Mann–Kendall trend test (Mann 1945; Kendall 1975) on daily means per
# (machine, tag, month): S = Σ_{i<j} sign(mean_j − mean_i) over the
# month's day pairs.  Exactness: the daily-mean comparison is done by
# INTEGER CROSS-MULTIPLICATION — sign(s_j·n_i − s_i·n_j) with s the
# exact v100 day sum and n the day count — so no float mean is ever
# formed and the sign is bit-exact in both engines; the products route
# through DECIMAL (CLAUDE.md integer-moment rule: day sums × day counts
# exceed 2⁶³ at fleet scale, and Spark wraps silently where DuckDB
# raises).  Pair volume is series × C(days-in-month, 2) ≤ 465·series —
# calendar-bounded per series, linear in the corpus (more machines =
# more series, never more pairs per series).
register_sql(
    "agg_mann_kendall",
    """
    WITH d AS (
      SELECT user_id, event_type,
             date_trunc('month', CAST(ts AS TIMESTAMP)) AS mo,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY 1, 2, 3, 4
    ), p AS (
      SELECT a.user_id, a.event_type, a.mo,
             sign(CAST(b.s AS DECIMAL(38,0)) * a.n - CAST(a.s AS DECIMAL(38,0)) * b.n)
               AS sgn
      FROM d a JOIN d b
        ON a.user_id = b.user_id AND a.event_type = b.event_type
       AND a.mo = b.mo AND a.day < b.day
    )
    SELECT user_id, event_type, mo,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(sgn) AS BIGINT) AS s_stat
    FROM p GROUP BY 1, 2, 3
    """,
    doc="""Nonparametric trend screen per (machine, tag, month): the
    Mann–Kendall S statistic over the month's daily means — the
    distribution-free "is this sensor drifting" test run before fitting
    anomaly baselines (monotone drift violates the stationary-training
    assumption every AE face makes; this is the gate that says
    re-train).  Complements ``agg_seasonal_profile`` (shape) and
    ``window_cusum_alerts`` (online change): MK is the batch
    monotone-trend verdict.

    Spark-first shape: ONE corpus pass to the (series, day) count/sum
    frame (combinable groupBy), then the day-pair self-join is
    equi-keyed on (machine, tag, month) with a day< residual — pair
    volume calendar-bounded at C(31,2) per series-month (block comment),
    the exact day-blocked pattern ``join_interval_overlap`` rehearses.
    Sign comparisons are decimal-routed integer cross-multiplications —
    no float daily mean exists anywhere (block comment).""",
)


# Theil–Sen robust trend (Theil 1950; Sen 1968): the MEDIAN of all
# pairwise daily-mean slopes per (machine, tag, month) — the magnitude
# companion to agg_mann_kendall's direction verdict (MK says "drifting",
# Theil–Sen says "by 0.4 units/day", immune to 29% outlier days).
# Exactness: each slope is ONE IEEE division of exact integers —
# (s_j·n_i − s_i·n_j) / (n_i·n_j·Δdays), numerator/denominator
# decimal-routed and < 2⁵³ at checked SFs (fixture day sums ≤ ~3e5;
# at fleet scale the operator would emit the cross-multiplied rational
# pair instead) — so both engines see bit-identical slope doubles; the
# median is the exact percentile ↔ quantile_cont convention and the
# output floor-shifts at 6.
@register(
    "agg_theil_sen",
    oracle="""
    WITH d AS (
      SELECT user_id, event_type,
             date_trunc('month', CAST(ts AS TIMESTAMP)) AS mo,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY 1, 2, 3, 4
    ), p AS (
      SELECT a.user_id, a.event_type, a.mo,
             CAST(CAST(b.s AS HUGEINT) * a.n - CAST(a.s AS HUGEINT) * b.n
                  AS DOUBLE)
             / CAST(CAST(a.n AS HUGEINT) * b.n
                    * date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      FROM d a JOIN d b
        ON a.user_id = b.user_id AND a.event_type = b.event_type
       AND a.mo = b.mo AND a.day < b.day
    )
    SELECT user_id, event_type, mo,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(quantile_cont(slope, 0.5) * 1000000 + 0.5) / 1000000
             AS slope_cents_per_day
    FROM p GROUP BY 1, 2, 3
    """,
)
def agg_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend MAGNITUDE per (machine, tag, month): the Theil–Sen
    median-of-pairwise-slopes estimator over daily means — what a
    maintenance planner reads after ``agg_mann_kendall`` flags drift
    ("how fast is it drifting, ignoring glitch days").  The classic
    robust alternative to least-squares trend (breakdown point 29%).

    Spark-first shape: identical to the MK face — one corpus pass to
    the (series, day) frame, the calendar-bounded day-pair equi-join
    (≤ C(31,2) pairs per series-month), then one exact-percentile
    aggregate per series.  Slope arithmetic is the decimal-routed
    integer cross-multiplication (block comment) — no float daily mean
    exists; units are cents/day (v100 per day)."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            "user_id",
            "event_type",
            F.expr("date_trunc('month', ts)").alias("mo"),
            F.expr("date_trunc('day', ts)").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("s"),
        )
    )
    a = d.alias("a")
    b = d.alias("b")
    p = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.mo") == F.col("b.mo"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("event_type"),
        F.col("a.mo").alias("mo"),
        F.expr(
            "CAST(CAST(b.s AS DECIMAL(19,0)) * a.n"
            " - CAST(a.s AS DECIMAL(19,0)) * b.n AS DOUBLE)"
            " / CAST(CAST(a.n AS DECIMAL(19,0)) * b.n"
            " * datediff(b.day, a.day) AS DOUBLE)"
        ).alias("slope"),
    )
    return p.groupBy("user_id", "event_type", "mo").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr(
            "floor(percentile(slope, 0.5) * 1000000 + 0.5) / 1000000"
        ).alias("slope_cents_per_day"),
    )


@register(
    "agg_uptime_sla",
    oracle="""
    WITH h AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS hr
      FROM events
    ), s AS (
      SELECT user_id, event_type,
             CAST(count(DISTINCT hr) AS BIGINT) AS hours_present,
             CAST(max(hr) - min(hr) + 1 AS BIGINT) AS span_hours
      FROM h GROUP BY 1, 2
    )
    SELECT user_id, event_type, hours_present, span_hours,
           CAST(floor(hours_present * 1000 / span_hours) AS BIGINT)
             AS coverage_permille,
           (hours_present * 100 >= span_hours * 95) AS meets_sla95
    FROM s
    """,
)
def agg_uptime_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting-coverage SLA per (machine, tag): the fraction of hours
    inside the series' own span with at least one reading — the
    data-completeness gate run before trusting any trained model
    (``gate_min_samples`` checks VOLUME; this checks CONTINUITY — a
    series with plenty of rows but 40% silent hours fails differently).
    Pairs with ``agg_sensor_gaps`` (which lists the holes; this scores
    them) and the O19 stats face.

    Scale shape: one combinable distinct-hour aggregation per series —
    the hour id (epoch//3600 as a plain BIGINT) is computed scan-side,
    so the exchange carries (machine, tag, hour) ints; output is one
    row per series.  All-integer outputs: permille is floor-divided,
    the SLA flag is an integer cross-multiplication — no float, no
    rounding convention."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "user_id",
        "event_type",
        F.expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").alias("hr"),
    )
    s = h.groupBy("user_id", "event_type").agg(
        F.count_distinct("hr").cast("bigint").alias("hours_present"),
        (F.max("hr") - F.min("hr") + 1).cast("bigint").alias("span_hours"),
    )
    return s.select(
        "user_id",
        "event_type",
        "hours_present",
        "span_hours",
        F.expr(
            "CAST(floor(hours_present * 1000 / span_hours) AS BIGINT)"
        ).alias("coverage_permille"),
        (F.col("hours_present") * 100 >= F.col("span_hours") * 95).alias(
            "meets_sla95"
        ),
    )


# ---------------------------------------------------------------------------
# round 11: SAX symbolization (PAA + Gaussian-breakpoint alphabet)
# ---------------------------------------------------------------------------

# alphabet size 4: standard N(0,1) quartile breakpoints (Lin/Keogh SAX)
_SAX_BREAKS = (-0.6745, 0.0, 0.6745)

_SAX_Z = (
    "((p.paa3 - CAST(st.s1 AS DOUBLE) / st.n)"
    " / sqrt(greatest(CAST(st.s2 AS DOUBLE) / st.n"
    "   - (CAST(st.s1 AS DOUBLE) / st.n) * (CAST(st.s1 AS DOUBLE) / st.n),"
    " 1e-12)))"
)

_SAX_SYM = (
    f"CASE WHEN {_SAX_Z} < {_SAX_BREAKS[0]} THEN 'a'"
    f" WHEN {_SAX_Z} < {_SAX_BREAKS[1]} THEN 'b'"
    f" WHEN {_SAX_Z} < {_SAX_BREAKS[2]} THEN 'c'"
    f" ELSE 'd' END"
)


@register(
    "agg_sax_symbols",
    oracle=f"""
    WITH paa AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)
                        / COUNT(value) * 1000 + 0.5) AS BIGINT) AS paa3
      FROM events GROUP BY event_type, bucket
    ), st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(paa3) AS BIGINT) AS s1,
             CAST(SUM(paa3 * paa3) AS BIGINT) AS s2
      FROM paa GROUP BY event_type
    )
    SELECT p.event_type, p.bucket,
           CAST(p.paa3 AS DOUBLE) / 1000 AS paa,
           floor({_SAX_Z} * 1e6 + 0.5) / 1e6 AS z,
           {_SAX_SYM} AS symbol
    FROM paa p JOIN st USING (event_type)
    """,
)
def agg_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin/Keogh Symbolic Aggregate approXimation) of
    each tag's series: Piecewise Aggregate Approximation to hourly means,
    z-normalization against the tag's own PAA distribution, then a
    4-letter Gaussian-quartile alphabet — the standard symbolic
    pre-processing for motif discovery / anomaly grammar over sensor
    fleets, and the downsample-then-discretize shape a 100 TB series
    store runs before any sequence mining.

    Scale shape: PAA is one map-side-combinable groupBy (decimal sums);
    the per-tag moment frame is a FIXED-cardinality aggregate (one row
    per tag) broadcast back — the only corpus-scale shuffle is the
    bucket groupBy.  Exactness: PAA means route through DECIMAL then
    floor-shift to exact milli-integers, tag moments are exact int sums
    (paa3^2 <= 3.2e11 so hour-count sums stay far under 2^53), and the
    z / symbol chain runs per-row IEEE on identical operands — symbol
    boundaries are bit-deterministic, not knife-edge."""
    ev = load_table(spark, sf_dir, "events")
    paa = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias("vsum"),
            F.count("value").alias("cnt"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("bucket"),
            F.expr("CAST(floor(vsum / cnt * 1000 + 0.5) AS BIGINT)").alias("paa3"),
        )
    )
    paa = persist_tracked(paa)
    st = paa.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("paa3").cast("bigint").alias("s1"),
        F.sum(F.expr("paa3 * paa3")).cast("bigint").alias("s2"),
    )
    return (
        paa.alias("p")
        .join(F.broadcast(st.alias("st")), "event_type")
        .select(
            "event_type",
            "bucket",
            (F.col("p.paa3").cast("double") / 1000).alias("paa"),
            F.expr(f"floor({_SAX_Z} * 1e6 + 0.5) / 1e6").alias("z"),
            F.expr(_SAX_SYM).alias("symbol"),
        )
    )


# ---------------------------------------------------------------------------
# round 11: per-tag OLS trend via sufficient statistics
# ---------------------------------------------------------------------------

_OLS_BASE_HR = 473352  # epoch-hour of 2024-01-01 00:00 UTC (fixture era)

_OLS_STATS = (
    "CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(x) AS BIGINT) AS sx, "
    "CAST(sum(y3) AS BIGINT) AS sy, "
    "CAST(sum(x * x) AS BIGINT) AS sxx, "
    "CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * y3) AS DECIMAL(38,0)) AS DOUBLE) AS sxy, "
    "CAST(CAST(sum(CAST(y3 AS DECIMAL(19,0)) * y3) AS DECIMAL(38,0)) AS DOUBLE) AS syy"
)

@register(
    "agg_ols_trend",
    oracle=f"""
    WITH pts AS (
      SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
               - {_OLS_BASE_HR} AS x,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y3
      FROM events
    ), st AS (
      SELECT event_type, {_OLS_STATS}
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           floor((sxy / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                 / greatest(CAST(sxx AS DOUBLE) / n
                    - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n), 1e-12)
                 / 1000 * 1e6 + 0.5) / 1e6 AS slope_per_hr,
           floor((CAST(sy AS DOUBLE) / n
                  - (sxy / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                    / greatest(CAST(sxx AS DOUBLE) / n
                       - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n), 1e-12)
                    * (CAST(sx AS DOUBLE) / n))
                 / 1000 * 1e6 + 0.5) / 1e6 AS intercept,
           floor((sxy / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                 * (sxy / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                 / greatest(greatest(CAST(sxx AS DOUBLE) / n
                             - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n),
                             1e-12)
                            * (syy / n
                               - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)),
                            1e-12)
                 * 1e6 + 0.5) / 1e6 AS r2
    FROM st
    """,
)
def agg_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tag ordinary-least-squares trend (slope / intercept / R²) via
    SUFFICIENT STATISTICS — the parametric companion to the robust
    ``agg_theil_sen``: one map-side-combinable pass accumulates
    (n, Σx, Σy, Σx², Σxy, Σy²) per tag and the closing algebra is pure
    per-row arithmetic, the canonical single-pass regression shape that
    survives 100 TB (no pair join, no second scan; contrast Theil–Sen's
    day-pair join).

    Exactness: x is the fixture-era hour index (epoch-hour − fixed
    literal base → x ≤ ~720), y floor-shifts to milli-integers; Σx²
    stays ≤ 1e10·n and Σy² routes through DECIMAL(38,0) per the
    integer-moment rule (Spark wraps int64 SILENTLY, DuckDB raises —
    CLAUDE.md), with checked-SF magnitudes < 2⁵³ so the DECIMAL→DOUBLE
    conversion is bit-identical.  The centered-moment chain
    (Σxy/n − x̄·ȳ etc.) runs per-row IEEE on identical operands; the
    three outputs are floor-shifted divisions.

    Headroom guard (round 12): the DECIMAL→DOUBLE conversions are only
    bit-identical across engines while |Σ| < 2⁵³ — the tightest margin in
    the repo (Σy² ≈ 6.3e15 at sf0.1 vs the 9.0e15 bound).  A fixture
    regeneration with a wider value range or a different era (growing x)
    would erode it SILENTLY, so the closing select fails loud via
    ``raise_error`` whenever any moment crosses 9.0e15 — parity-neutral
    (the oracle needs no twin: when the guard passes, outputs are
    untouched; when it trips, the run aborts instead of drifting)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.expr(
            f"CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT) - {_OLS_BASE_HR}"
        ).alias("x"),
        F.expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").alias("y3"),
    )
    return _ols_from_points(pts)


def _ols_from_points(pts: DataFrame) -> DataFrame:
    """Sufficient-stats OLS over a (group, x, y3) frame — split out so the
    headroom guard can be pinned by a pytest that feeds an out-of-bound
    synthetic frame (tests/test_round12_properties.py)."""
    st = pts.groupBy("event_type").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(x) AS BIGINT)").alias("sx"),
        F.expr("CAST(sum(y3) AS BIGINT)").alias("sy"),
        # r13 review: sxx DECIMAL-routed like sxy/syy — a raw int64
        # sum(x*x) could wrap SILENTLY past 2⁶³ (e.g. an epoch-seconds x
        # after a unit regression) and land back under the 9.0e15 guard;
        # DECIMAL(38,0) cannot wrap, so the guard always sees the true
        # magnitude.  At checked SFs sxx < 2⁵³, so the DECIMAL→DOUBLE
        # value is bit-identical to the old int64→double path.
        F.expr(
            "CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * y3) AS DECIMAL(38,0)) AS DOUBLE)"
        ).alias("sxy"),
        F.expr(
            "CAST(CAST(sum(CAST(y3 AS DECIMAL(19,0)) * y3) AS DECIMAL(38,0)) AS DOUBLE)"
        ).alias("syy"),
    )
    mx = "(CAST(sx AS DOUBLE) / n)"
    my = "(CAST(sy AS DOUBLE) / n)"
    covxy = f"(sxy / n - {mx} * {my})"
    covxx = f"greatest(sxx / n - {mx} * {mx}, 1e-12)"
    covyy = f"(syy / n - {my} * {my})"
    # Fail-loud headroom guard on every >2⁵³-sensitive moment (see
    # docstring).  abs(sxy) — covariance can be negative; sxx is
    # DECIMAL(38,0)-routed to DOUBLE like sxy/syy (r13 review: a raw
    # int64 sum could wrap past 2⁶³ and land back under the guard), so
    # the guard always sees the true magnitude.
    n_guarded = (
        "CASE WHEN syy < 9.0e15 AND abs(sxy) < 9.0e15"
        " AND sxx < 9.0e15 THEN n"
        " ELSE CAST(raise_error(concat("
        "'agg_ols_trend: integer-moment headroom exceeded (fixture drift?)"
        " syy=', CAST(syy AS STRING), ' sxy=', CAST(sxy AS STRING),"
        " ' sxx=', CAST(sxx AS STRING))) AS BIGINT) END"
    )
    return st.select(
        "event_type",
        F.expr(n_guarded).alias("n"),
        F.expr(f"floor({covxy} / {covxx} / 1000 * 1e6 + 0.5) / 1e6").alias(
            "slope_per_hr"
        ),
        F.expr(
            f"floor(({my} - {covxy} / {covxx} * {mx}) / 1000 * 1e6 + 0.5) / 1e6"
        ).alias("intercept"),
        F.expr(
            f"floor({covxy} * {covxy} / greatest({covxx} * {covyy}, 1e-12)"
            f" * 1e6 + 0.5) / 1e6"
        ).alias("r2"),
    )
