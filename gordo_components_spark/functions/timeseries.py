"""Shared time-series building blocks over the ``events`` sensor stream.

The fixture role mapping (FIXTURES.md): ``user_id`` ≈ machine/asset,
``event_type`` ≈ sensor tag, ``value`` ≈ reading.  These helpers are the
Spark-first restatement of the reference's dataset layer primitives
(``gordo_components/dataset/datasets.py``): per-tag resample (O18) and
long→wide alignment pivot (O15).

All aggregates round at 9 decimals — per-row arithmetic is bit-identical
across engines, accumulation order is not; 9dp is far below any signal
and makes results reproducible against the DuckDB oracle and across
cluster topologies (a 1000-executor run and a local[32] run produce the
same bytes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: closed vocabulary of the fixture's "tags"; a real deployment derives
#: this from the tag dimension table (O17) — pivot with an explicit value
#: list avoids the extra distinct-scan job AND keeps the plan static.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: aggregation methods the resampler accepts — YAML configs route method
#: names here (dataset.py aggregation_methods), and the name is spliced
#: into F.expr, so an unvalidated string would reach the SQL parser
#: verbatim (review r6: whitelist instead of trusting config text)
RESAMPLE_METHODS = frozenset(
    {"avg", "mean", "max", "min", "count", "sum", "first", "last",
     "stddev", "stddev_samp", "stddev_pop", "median"}
)
#: methods whose aggregate rounds at 9 decimals (float accumulation order)
_ROUNDED = ("avg", "mean", "stddev", "stddev_samp")


def check_methods(methods) -> None:
    """Reject any aggregation method outside :data:`RESAMPLE_METHODS`."""
    for m in methods:
        if m not in RESAMPLE_METHODS:
            raise ValueError(
                f"unsupported aggregation method {m!r}; one of "
                f"{sorted(RESAMPLE_METHODS)}"
            )


def resample(
    events: DataFrame,
    duration: str = "10 minutes",
    methods: tuple[str, ...] = ("avg",),
) -> DataFrame:
    """O18 resample-aggregate: bucket each (machine, tag) series into fixed
    windows, one column per aggregation method (``value__<method>``).

    Reference semantics: ``series.resample(resolution).agg(methods)``;
    MultiIndex ``(tag, method)`` columns flatten to ``value__method``
    (SURVEY §1.2 type mapping).
    """
    check_methods(methods)
    aggs = []
    for m in methods:
        col = F.expr(f"{m}(value)")
        if m in _ROUNDED:
            col = F.round(col, 9)
        aggs.append(col.alias(f"value__{m}"))
    return (
        events.groupBy("user_id", "event_type", F.window("ts", duration).alias("w"))
        .agg(*aggs)
        .select("user_id", "event_type", F.col("w.start").alias("bucket"), *[f"value__{m}" for m in methods])
    )


def pivot_aggs(key: str, values, methods, name) -> list[Column]:
    """O18 resample fused with the O15 pivot as conditional aggregation:
    one ``m(CASE WHEN key = v THEN value END)`` per (pivot value, method),
    for a single ``groupBy(<bucket>).agg(...)`` — one exchange, where a
    resample-then-``pivot`` plan pays a second aggregation and the
    two-phase ``PivotFirst``.  Each aggregate sees exactly the rows a
    per-(bucket, key) group would, so the cell is the same, with two
    adjustments to keep "value absent from the bucket" NULL as a pivot
    cell was: ``count`` is NULL (not 0) when no row carries ``v``, and
    ``first``/``last`` skip the other values' NULLs (``ignorenulls``).

    ``name(v, m)`` names the output column.
    """
    check_methods(methods)
    out = []
    for v in values:
        hit = F.col(key) == F.lit(v)
        for m in methods:
            cell = F.when(hit, F.col("value"))
            if m in ("first", "last"):
                agg = getattr(F, m)(cell, ignorenulls=True)
            else:
                agg = getattr(F, m)(cell)
            if m == "count":
                agg = F.when(F.count(F.when(hit, 1)) > 0, agg)
            elif m in _ROUNDED:
                agg = F.round(agg, 9)
            out.append(agg.alias(name(v, m)))
    return out


def pivot_wide(events: DataFrame, duration: str = "60 minutes") -> DataFrame:
    """O15 long→wide alignment: one row per (machine, bucket), one column
    per tag (``evt_<tag>``), NULL where the tag has no points in-bucket.

    Reference: ``_join_timeseries`` inner-joins per-tag resampled series;
    here one conditional aggregation (:func:`pivot_aggs`, the shape of the
    DuckDB twin) produces the outer-aligned frame and the caller picks
    inner (dropna) or as-of (ffill) semantics — same decomposition, one
    shuffle.  With >1k tags prefer staying long-format until the model
    boundary (SURVEY §7 hard-part a).
    """
    return events.groupBy(
        "user_id", F.window("ts", duration).getField("start").alias("bucket")
    ).agg(*pivot_aggs("event_type", EVENT_TYPES, ["avg"], lambda t, m: f"evt_{t}"))


def pivot_wide_sql(duration_min: int = 60, alias: str = "wide") -> str:
    """DuckDB oracle twin of :func:`pivot_wide` as a CTE body."""
    cases = ",\n           ".join(
        f"round(avg(CASE WHEN event_type = '{t}' THEN value END), 9) AS evt_{t}"
        for t in EVENT_TYPES
    )
    return f"""
    {alias} AS (
      SELECT user_id,
             time_bucket(INTERVAL '{duration_min} minutes', CAST(ts AS TIMESTAMP)) AS bucket,
             {cases}
      FROM events
      GROUP BY user_id, time_bucket(INTERVAL '{duration_min} minutes', CAST(ts AS TIMESTAMP))
    )"""
