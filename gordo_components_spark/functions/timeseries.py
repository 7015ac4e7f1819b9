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

import uuid
from collections.abc import Mapping

from pyspark.sql import DataFrame

#: closed vocabulary of the fixture's "tags"; a real deployment derives
#: this from the tag dimension table (O17) — pivot with an explicit value
#: list avoids the extra distinct-scan job AND keeps the plan static.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: aggregation methods the resampler accepts — YAML configs route method
#: names here (dataset.py aggregation_methods), and the name is spliced
#: into the SQL text, so an unvalidated string would reach the SQL parser
#: verbatim (whitelist instead of trusting config text)
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


def sql_string(value) -> str:
    """A SQL string literal for ``value``: quotes doubled and backslashes
    doubled, the way the filter DSL escapes its strings (Spark reads C-style
    escapes in literals; a value without backslashes renders the same for
    DuckDB).  Config text therefore never ends the literal."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "''") + "'"


def sql_ident(name: str) -> str:
    """A backtick-quoted Spark identifier, backticks doubled (as the filter
    DSL quotes columns): a tag-derived column name never leaves it."""
    return "`" + name.replace("`", "``") + "`"


def window_start(duration: str) -> str:
    """Spark's bucket expression: the start of ``ts``'s tumbling window."""
    return f"window(ts, {sql_string(duration)}).start"


def bucket_sql(src: str, bucket: str, methods=("avg",), *, keys=(), label="bucket", pivot=None,
               name=lambda v, m: f"value__{m}", double=False, where="TRUE") -> str:
    """The bucket aggregate, one text for every face: ``SELECT keys,
    <bucket> AS label, cells FROM src WHERE where GROUP BY ALL``.

    - **resample** (O18): one ``m(value)`` cell per method;
    - **pivot** (O15 fused with O18): with ``pivot=(column, values)`` one
      ``m(CASE WHEN column = v THEN value END)`` cell per (value, method)
      — a single aggregation and one exchange, where resample-then-pivot
      pays a second aggregation and the two-phase ``PivotFirst``.  Each
      cell sees exactly the rows a per-(bucket, value) group would, with
      two adjustments that keep "value absent from the bucket" NULL as a
      pivot cell was: ``count`` is NULL (not 0) when no row carries ``v``,
      and ``first``/``last`` skip the other values' NULLs;
    - **machine features**: ``double=True`` casts every cell to DOUBLE.

    ``bucket`` is the engine's bucket expression (:func:`window_start`
    for Spark, ``time_bucket`` for the DuckDB twin :func:`pivot_wide_sql`),
    so a Spark plan and its oracle render from this one function.
    ``name(v, m)`` returns the cell's SQL identifier (``v`` is None
    without ``pivot``); pivot values enter as :func:`sql_string` literals
    and ``methods`` pass :func:`check_methods`, so config text never
    changes the statement.  ``first``/``last`` render Spark's
    ``ignoreNulls`` argument.
    """
    check_methods(methods)
    column, values = pivot or (None, [None])
    cells = []
    for v in values:
        hit = None if v is None else f"{column} = {sql_string(v)}"
        x = "value" if hit is None else f"CASE WHEN {hit} THEN value END"
        for m in methods:
            agg = f"{m}({x}, true)" if hit and m in ("first", "last") else f"{m}({x})"
            if hit and m == "count":
                agg = f"CASE WHEN count(CASE WHEN {hit} THEN 1 END) > 0 THEN {agg} END"
            elif m in _ROUNDED:
                agg = f"round({agg}, 9)"
            if double:
                agg = f"CAST({agg} AS DOUBLE)"
            cells.append(f"{agg} AS {name(v, m)}")
    select = ", ".join([*keys, f"{bucket} AS {label}", *cells])
    return f"SELECT {select} FROM {src} WHERE {where} GROUP BY ALL"


def sql_over(src: DataFrame | Mapping[str, DataFrame], render) -> DataFrame:
    """``spark.sql(render(view))`` over a temp view of ``src`` that lives
    only while the statement is analyzed: the one way a SQL text reads a
    frame.  ``src`` is one frame (``render`` gets its view name) or a
    name→frame mapping (``render`` gets the name→view mapping).  View
    names are unique per call, so threads sharing a session never see
    each other's frames.  The views are dropped from the session catalog
    directly — ``spark.catalog.dropTempView`` (and ``spark.sql(text,
    src=df)``, which calls it) also uncaches every cached plan equal to
    the view's, so a caller's persisted ``src`` would lose its cache."""
    single = not isinstance(src, Mapping)
    frames = {"": src} if single else src
    views = {name: f"__src_{uuid.uuid4().hex}" for name in frames}
    for name, df in frames.items():
        df.createOrReplaceTempView(views[name])
    spark = next(iter(frames.values())).sparkSession
    try:
        return spark.sql(render(views[""] if single else views))
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for view in views.values():
            catalog.dropTempView(view)


def resample(events: DataFrame, duration: str = "10 minutes", methods=("avg",)) -> DataFrame:
    """O18 resample-aggregate: bucket each (machine, tag) series into fixed
    windows, one column per aggregation method (``value__<method>``).

    Reference semantics: ``series.resample(resolution).agg(methods)``;
    MultiIndex ``(tag, method)`` columns flatten to ``value__method``
    (SURVEY §1.2 type mapping).
    """
    keys = ("user_id", "event_type")
    return sql_over(events, lambda v: bucket_sql(v, window_start(duration), methods, keys=keys))


def _pivot_sql(src: str, bucket: str) -> str:
    return bucket_sql(src, bucket, keys=("user_id",), pivot=("event_type", EVENT_TYPES),
                      name=lambda t, m: f"evt_{t}")


def pivot_wide(events: DataFrame, duration: str = "60 minutes") -> DataFrame:
    """O15 long→wide alignment: one row per (machine, bucket), one column
    per tag (``evt_<tag>``), NULL where the tag has no points in-bucket.

    Reference: ``_join_timeseries`` inner-joins per-tag resampled series;
    here one conditional aggregation (:func:`bucket_sql`, rendered for
    the DuckDB twin by :func:`pivot_wide_sql`) produces the outer-aligned
    frame and the caller picks inner (dropna) or as-of (ffill) semantics
    — same decomposition, one shuffle.  With >1k tags prefer staying
    long-format until the model boundary (SURVEY §7 hard-part a).
    """
    return sql_over(events, lambda v: _pivot_sql(v, window_start(duration)))


def pivot_wide_sql(duration_min: int = 60, alias: str = "wide") -> str:
    """DuckDB oracle twin of :func:`pivot_wide` as a CTE body: the same
    text with DuckDB's epoch-aligned ``time_bucket`` as the bucket."""
    bucket = f"time_bucket(INTERVAL '{int(duration_min)} minutes', CAST(ts AS TIMESTAMP))"
    return f"\n    {alias} AS ({_pivot_sql('events', bucket)})"
