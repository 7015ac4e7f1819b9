"""Time-series filter operators O9–O14 (SURVEY §2.2).

Reference: ``gordo_components/dataset/datasets.py::TimeSeriesDataset`` —
time-range pushdown, the row-filter DSL (``dataset/filter_rows.py``),
buffer dilation, known-period blackouts, the n_samples quality gate and
the X/y projection split.  All compile to pushdown-friendly Spark
predicates; nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.functions.filter_dsl import compile_filter
from gordo_components_spark.functions.timeseries import EVENT_TYPES, pivot_wide, pivot_wide_sql
from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_events_in_range, load_table

_FROM_TS = "2024-01-05 00:00:00"
_TO_TS = "2024-01-20 00:00:00"


# Two bodies: the Spark body needs the time pushdown of ``load_events_in_range``.
@register(
    "filter_time_range",
    oracle=f"""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '{_FROM_TS}' AND ts < TIMESTAMP '{_TO_TS}'
    """,
)
def filter_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 ``[from_ts, to_ts)`` predicate, pushed to the parquet scan as a
    raw-long range so row-group skipping works (see
    ``load_events_in_range``; reference validates tz-awareness at the
    TimeSeriesDataset ctor — the session tz is pinned UTC here)."""
    ev = load_events_in_range(spark, sf_dir, _FROM_TS, _TO_TS)
    return ev.select("event_id", "user_id", "ts", "event_type", "value")


_DSL = "(`evt_click` > 50) & ((`evt_view` < 450) | ~(`evt_error` == 0))"


@register(
    "filter_dsl_compound",
    oracle=f"""
    WITH {pivot_wide_sql(60)}
    SELECT user_id, bucket, evt_click, evt_error, evt_view
    FROM wide
    WHERE (evt_click > 50) AND ((evt_view < 450) OR (NOT (evt_error = 0)))
    """,
)
def filter_dsl_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 row-filter DSL over the aligned wide frame, compiled by
    ``functions/filter_dsl.py`` (reference ``pandas_filter_rows``) into a
    single Spark SQL predicate — codegen'd, pushdown-eligible."""
    wide = pivot_wide(load_table(spark, sf_dir, "events"), "60 minutes")
    predicate = compile_filter(_DSL, columns=[f"evt_{t}" for t in EVENT_TYPES])
    return wide.where(F.expr(predicate)).select(
        "user_id", "bucket", "evt_click", "evt_error", "evt_view"
    )


register_sql(
    "filter_buffer_window",
    """
    WITH m AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN value < 300 THEN 1 ELSE 0 END AS ok
      FROM events
    ), d AS (
      SELECT *, MIN(ok) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS keep
      FROM m
    )
    SELECT event_id, user_id, ts, value FROM d WHERE keep = 1
    """,
    doc="""O11 buffer dilation: a failing row also knocks out ±buffer_size
    neighbors (sensor settling time; reference ``apply_buffer``).  Mask
    dilation = MIN over a symmetric rows frame, partitioned per machine so
    the window never crosses executors' partition boundaries at scale.""",
)


_PERIODS = (("2024-01-05 00:00:00", "2024-01-07 00:00:00"), ("2024-01-20 00:00:00", "2024-01-22 00:00:00"))


# Two bodies: the Spark body needs the time pushdown of ``load_events_in_range``.
@register(
    "filter_known_periods",
    oracle=f"""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events
    WHERE NOT (ts >= TIMESTAMP '{_PERIODS[0][0]}' AND ts < TIMESTAMP '{_PERIODS[0][1]}')
      AND NOT (ts >= TIMESTAMP '{_PERIODS[1][0]}' AND ts < TIMESTAMP '{_PERIODS[1][1]}')
    """,
)
def filter_known_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 configured blackout windows dropped (reference
    ``known_filter_periods``).  Compiled as a conjunction of NOT-BETWEEN
    predicates over the raw scan column (pushdown-eligible); an anti-join
    against a periods table is the shape for thousands of periods."""
    ev = load_events_in_range(spark, sf_dir, exclude=_PERIODS)
    return ev.select("event_id", "user_id", "ts", "value")


register_sql(
    "gate_min_samples",
    """
    SELECT user_id, event_type, COUNT(*) AS n_samples
    FROM events
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 10
    """,
    doc="""O13 InsufficientDataError gate: machines/tags below the sample
    threshold are rejected before training (driver code raises; the
    declarative face is a HAVING filter).""",
)


@register(
    "project_xy_split",
    oracle=f"""
    WITH {pivot_wide_sql(1440)}
    SELECT user_id, bucket, evt_click AS x_click, evt_view AS x_view,
           evt_purchase AS y_purchase
    FROM wide
    WHERE evt_click IS NOT NULL AND evt_view IS NOT NULL AND evt_purchase IS NOT NULL
    """,
)
def project_xy_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14 X/y column projection: feature tags vs target tags selected out
    of the aligned frame (reference ``get_data`` returns ``(X, y)``).
    Column pruning reaches the scan — only 3 of 5 tags are read.
    Daily buckets: the fixture has ~2 events/machine/day, so finer
    resolutions leave no fully-aligned rows to project."""
    wide = pivot_wide(load_table(spark, sf_dir, "events"), "1440 minutes")
    return (
        wide.dropna(subset=["evt_click", "evt_view", "evt_purchase"])
        .select(
            "user_id",
            "bucket",
            F.col("evt_click").alias("x_click"),
            F.col("evt_view").alias("x_view"),
            F.col("evt_purchase").alias("y_purchase"),
        )
    )
