"""User-facing dataset layer — the reference's main API, Spark-backed.

Reference: ``gordo_components/dataset/datasets.py::TimeSeriesDataset``,
``dataset/sensor_tag.py::SensorTag``/``normalize_sensor_tags``.  A user
of the reference configures ``(tag_list, train_start_date,
train_end_date, resolution, row_filter, …)`` and calls ``get_data()``
for an aligned ``(X, y)`` pair; this class keeps that exact surface but
returns Spark DataFrames built from one declarative plan:

    pushdown time-range scan with known-period blackouts (O9/O12) →
    per-tag resample and wide alignment as ONE aggregation (O18/O15,
    one exchange) + inner dropna → row-filter DSL + buffer (O10/O11) →
    X/y projection (O14) → n_samples gate (O13, only when one is set)

The scan and the matrix are each one SQL text (a buffered filter adds
the sides of its checkpoint); config text enters only as quoted
identifiers and escaped literals.

On the fixture, ``asset`` ≈ ``user_id`` (machine) and tag ≈
``event_type`` (FIXTURES.md role mapping); a custom ``provider``
callable swaps in any long-format source with (ts, tag, value) columns.
"""

from __future__ import annotations

from datetime import datetime
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from gordo_components_spark.functions.filter_dsl import compile_filter
from gordo_components_spark.functions.timeseries import (
    bucket_sql,
    check_methods,
    sql_ident,
    sql_over,
    sql_string,
    window_start,
)
from gordo_components_spark.sources.tables import load_events_in_range


class SensorTag(NamedTuple):
    """D1 sensor identity (reference ``sensor_tag.py::SensorTag``)."""

    name: str
    asset: str | None = None


def normalize_sensor_tags(tags: list, asset: str | None = None) -> list[SensorTag]:
    """Accept ``str`` / ``dict`` / ``SensorTag`` forms, like the
    reference's ``normalize_sensor_tags`` (load-format tolerance)."""
    out: list[SensorTag] = []
    for t in tags:
        if isinstance(t, SensorTag):
            out.append(t)
        elif isinstance(t, str):
            out.append(SensorTag(t, asset))
        elif isinstance(t, dict):
            out.append(SensorTag(t["name"], t.get("asset", asset)))
        elif isinstance(t, (list, tuple)) and len(t) == 2:
            out.append(SensorTag(t[0], t[1]))
        else:
            raise ValueError(f"cannot normalize sensor tag {t!r}")
    return out


class InsufficientDataError(ValueError):
    """O13: fewer rows than ``n_samples_threshold`` after filtering."""


_RES_UNITS = {
    "S": "seconds",
    "T": "minutes",
    "MIN": "minutes",
    "H": "hours",
    "D": "days",
}


def resolution_to_duration(resolution: str) -> str:
    """pandas offset alias ("10T", "1H", "30S") → Spark duration string."""
    s = resolution.strip().upper()
    i = 0
    while i < len(s) and (s[i].isdigit() or s[i] == "."):
        i += 1
    num = s[:i] or "1"
    unit = s[i:].strip()
    if unit not in _RES_UNITS:
        raise ValueError(f"unsupported resolution {resolution!r}")
    return f"{num} {_RES_UNITS[unit]}"


def _require_tz_aware(name: str, value: datetime | str) -> datetime:
    """The reference hard-requires tz-aware bounds (ValueError otherwise)."""
    if isinstance(value, str):
        value = datetime.fromisoformat(value.replace("Z", "+00:00"))
    if value.tzinfo is None:
        raise ValueError(f"{name} must be timezone-aware, got naive {value!r}")
    return value


def _buffered_filter(wide: DataFrame, predicate: str, b: int) -> DataFrame:
    """O11 buffer dilation over the aligned matrix WITHOUT a global
    single-partition window: a row is kept iff no failing row lies within
    ±``b`` rows of it in timestamp order.  Rows come out ordered by ``ts``.

    The single-machine matrix has no partition key, so a plain
    ``MIN(ok) OVER (ORDER BY ts ROWS ±b)`` serializes the whole frame on
    one executor.  Instead:

    1. ``REPARTITION_BY_RANGE(ts)``, sorted within partitions, tags each
       row with its partition id and partition-local index
       (``monotonically_increasing_id`` minus the id it keeps in bits
       33+).  The P per-partition counts come back to the driver and
       their running sums ride in as a literal ``pid → offset`` map: a
       DENSE global row index with no join, broadcast or window.
    2. Block the index into fixed ``B``-row blocks; each block's first
       and last ``b`` rows are also exploded into the neighbor block
       (edge overlap).
    3. ``MIN(ok)`` over ``PARTITION BY block ORDER BY rn ROWS ±b`` — a
       partitioned window whose frames are exact because the index is
       dense and the overlap supplies every cross-block neighbor.

    Exactness requires only ``b < B`` (``B = max(64, 8·b)``); results are
    bit-identical to the global window at any partition count.

    The counts and the index must see the SAME partition assignment and
    intra-partition order, so ``marked`` is materialized once with
    ``localCheckpoint`` (explicit partition count: AQE-exempt) and both
    read those blocks.  A local checkpoint lives on the executors and
    cuts the lineage: a lost block fails the query loud instead of being
    silently recomputed under freshly sampled range bounds, and nothing
    stays cached once the frame is dropped.  Each side of the checkpoint
    is one SQL text."""
    n_parts = wide.sparkSession.sparkContext.defaultParallelism
    cols = ", ".join(sql_ident(c) for c in wide.columns)
    marked = sql_over(wide, lambda v: f"""
        SELECT *, spark_partition_id() AS __pid,
               monotonically_increasing_id() - (CAST(spark_partition_id() AS BIGINT) << 33) AS __lrn
        FROM (SELECT /*+ REPARTITION_BY_RANGE({n_parts}, ts) */ *,
                     CASE WHEN {predicate} THEN 1 ELSE 0 END AS __ok FROM {v} SORT BY ts)""")
    marked = marked.localCheckpoint()
    counts = sql_over(marked, lambda v: f"SELECT __pid, count(*) FROM {v} GROUP BY __pid")
    pairs, off = [], 0
    for p, n in sorted(counts.collect()):
        pairs.append(f"{p}, {off}L")
        off += n
    rn = f"__lrn + map({', '.join(pairs)})[__pid]" if pairs else "__lrn"  # empty: no partition
    block = max(64, 8 * b)
    blk = f"floor(__rn / {block})"
    return sql_over(marked, lambda v: f"""
        SELECT {cols} FROM (
          SELECT *, min(__ok) OVER (PARTITION BY __dest ORDER BY __rn
                                    ROWS BETWEEN {b} PRECEDING AND {b} FOLLOWING) AS __keep
          FROM (SELECT *, {blk} AS __blk, explode(array_compact(array({blk},
                         CASE WHEN __rn % {block} < {b} THEN {blk} - 1 END,
                         CASE WHEN __rn % {block} >= {block - b} THEN {blk} + 1 END))) AS __dest
                FROM (SELECT *, {rn} AS __rn FROM {v})))
        WHERE __dest = __blk AND __keep = 1 ORDER BY ts""")


class TimeSeriesDataset:
    """Reference ``TimeSeriesDataset`` surface on a Spark plan."""

    def __init__(
        self,
        train_start_date: datetime | str,
        train_end_date: datetime | str,
        tag_list: list,
        target_tag_list: list | None = None,
        resolution: str = "10T",
        row_filter: str | None = None,
        row_filter_buffer_size: int = 0,
        known_filter_periods: list[tuple[str, str]] | None = None,
        n_samples_threshold: int = 0,
        aggregation_methods: str | list[str] = "mean",
        asset_id: int | None = None,
        provider: Callable[[SparkSession], DataFrame] | None = None,
    ):
        self.train_start_date = _require_tz_aware("train_start_date", train_start_date)
        self.train_end_date = _require_tz_aware("train_end_date", train_end_date)
        if self.train_start_date >= self.train_end_date:
            raise ValueError("train_start_date must be before train_end_date")
        self.tag_list = normalize_sensor_tags(tag_list)
        self.target_tag_list = normalize_sensor_tags(target_tag_list or tag_list)
        self.resolution = resolution
        self.row_filter = row_filter
        self.row_filter_buffer_size = row_filter_buffer_size
        self.known_filter_periods = known_filter_periods or []
        self.n_samples_threshold = n_samples_threshold
        methods = aggregation_methods if isinstance(aggregation_methods, list) else [aggregation_methods]
        self.aggregation_methods = ["avg" if m == "mean" else m for m in methods]
        # the YAML-config path lands HERE, not in functions/timeseries, and
        # _wide splices each method name into its SQL text — the whitelist
        # must gate this entry point so config text never does
        check_methods(self.aggregation_methods)
        self.asset_id = asset_id
        self.provider = provider

    # -- plan construction -------------------------------------------------

    def _name(self, tag: str, method: str) -> str:
        """The MultiIndex (tag, method) flattens to ``tag__method`` when
        several methods are requested, else to ``tag`` (SURVEY §1.2)."""
        return f"{tag}__{method}" if len(self.aggregation_methods) > 1 else tag

    def _columns(self, tags) -> list[str]:
        return [self._name(t, m) for t in tags for m in self.aggregation_methods]

    def _tags(self) -> list[str]:
        """Every requested tag once: X's tags in order, then target-only ones."""
        return list(dict.fromkeys(t.name for t in (*self.tag_list, *self.target_tag_list)))

    def _wide(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The aligned matrix as one SQL text over the long-format source:
        resample (O18) and alignment pivot (O15) as ONE aggregation, inner
        dropna, then the row-filter DSL and buffer (O10/O11), by ``ts``;
        columns ``ts`` and :meth:`_tags`' cells in order."""
        tags = self._tags()
        if self.provider is not None:
            src, tag, where = self.provider(spark), "tag", []
        else:
            # aware bounds pass straight through and the loader converts
            # them to UTC (strftime dropped a +02:00 offset: a 2 h shift)
            src = load_events_in_range(
                spark, sf_dir, self.train_start_date, self.train_end_date,
                exclude=tuple(self.known_filter_periods),
            )
            tag = "event_type"
            where = [] if self.asset_id is None else [f"user_id = {int(self.asset_id)}"]
        where.append(f"{tag} IN ({', '.join(map(sql_string, tags))})")
        value_cols = self._columns(tags)
        keep = [f"{sql_ident(c)} IS NOT NULL" for c in value_cols]
        predicate = self.row_filter and compile_filter(self.row_filter, columns=value_cols + ["ts"])
        buffered = predicate and self.row_filter_buffer_size > 0
        if predicate and not buffered:
            keep.append(f"({predicate})")
        bucket = window_start(resolution_to_duration(self.resolution))
        order = "" if buffered else " ORDER BY ts"

        def text(v: str) -> str:
            cells = bucket_sql(v, bucket, self.aggregation_methods, label="ts", pivot=(tag, tags),
                               name=lambda t, m: sql_ident(self._name(t, m)),
                               where=" AND ".join(where))
            return f"SELECT * FROM ({cells}) WHERE {' AND '.join(keep)}{order}"

        wide = sql_over(src, text)
        return _buffered_filter(wide, predicate, self.row_filter_buffer_size) if buffered else wide

    def require_samples(self, n: int) -> None:
        """O13 gate on ``n`` aligned, filtered rows."""
        if n < self.n_samples_threshold:
            raise InsufficientDataError(
                f"{n} rows after filtering < n_samples_threshold={self.n_samples_threshold}"
            )

    def frames(self, spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
        """Lazy (X, y) aligned wide frames (O14 projection), ungated: a
        caller that collects them applies :meth:`require_samples` to the
        row count it collected instead of paying a second evaluation."""
        wide = self._wide(spark, sf_dir)
        every = self._columns(self._tags())

        def project(tags) -> DataFrame:
            cols = self._columns(t.name for t in tags)
            return wide if cols == every else wide.selectExpr("ts", *map(sql_ident, cols))

        return project(self.tag_list), project(self.target_tag_list)

    def get_data(self, spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
        """(X, y) aligned wide frames with the O13 gate.  Counting is the
        gate's only cost, so it runs only for a positive threshold: at
        the default 0 nothing is evaluated here."""
        X, y = self.frames(spark, sf_dir)
        if self.n_samples_threshold > 0:
            self.require_samples(X.count())
        return X, y
