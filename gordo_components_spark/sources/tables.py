"""Table scans over the driver-generated parquet fixtures.

Reference analog: ``gordo_components/dataset/data_provider/`` — each
provider's ``load_series(from_ts, to_ts, tag_list)`` is a per-tag lazy
scan with time-range pushdown (SURVEY §2 O1–O5).  Spark-first restatement:
one declarative ``spark.read.parquet`` per table; Catalyst gets predicate
pushdown, column pruning and partition pruning for free (SURVEY §4 P1–P3),
so there is no hand-rolled thread pool or per-file loop here.

At 100 TB the same call reads a hive-partitioned (``date=``/``asset=``)
layout with identical code — only the path changes.
"""

from __future__ import annotations

import threading
import weakref
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.caches import stat_fingerprint
from gordo_components_spark.functions.timeseries import sql_ident, sql_over
from gordo_components_spark.session import prepare

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ns → µs truncation matching DuckDB's CAST(ns AS TIMESTAMP) — i.e.
# FLOOR division.  Plain `div` truncates toward zero, which diverges for
# pre-1970 (negative) nanos; exact integer floor-div, never ns/1000.0
# (epoch-ns magnitudes exceed 2^53 and would lose precision in a double).
# The one events ts normalization, by scan type: raw long (Spark ≤4.0
# ``nanosAsLong``) floor-truncates ns→µs; ntz (4.1+ native nanos read)
# casts to session-TZ timestamp (pinned UTC by ``prepare``).
_TS_SQL = {
    "bigint": "timestamp_micros((ts div 1000) - CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)",
    "timestamp_ntz": "CAST(ts AS TIMESTAMP)",
}


# Relation cache: (session identity, path) → (session weakref, stat
# fingerprint, JVM plan).  Every ``spark.read.parquet`` pays ~0.1 s of
# driver-side py4j + file-listing + schema-read latency, repeated for
# every query that touches the table — the same reason Spark's catalog
# caches resolved relations for named tables.  A driver-regenerated
# fixture under the same basename changes ``caches.stat_fingerprint``
# and overwrites its own entry.  The entry holds the JVM plan, not the
# Python DataFrame (which pins its session), so a dropped session can be
# collected; its entries go at the next eviction.  Session identity is
# the weakref-checked object id: a replaced SparkSession never serves a
# stale plan.  Session-scoped and bounded, so it is not a ``caches.memo``.
_RELATION_CACHE: dict[tuple, tuple] = {}
#: guards eviction + insert: client threads share the module-level dict
_RELATION_LOCK = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = (id(spark), path)
    fp = stat_fingerprint(path)
    hit = _RELATION_CACHE.get(key)
    if hit is not None and hit[0]() is spark and hit[1] == fp:
        return DataFrame(hit[2], spark)
    df = spark.read.parquet(path)
    with _RELATION_LOCK:
        if len(_RELATION_CACHE) > 256:
            for k in [k for k, v in _RELATION_CACHE.items() if v[0]() is None]:
                del _RELATION_CACHE[k]
            if len(_RELATION_CACHE) > 256:
                _RELATION_CACHE.clear()
        _RELATION_CACHE[key] = (weakref.ref(spark), fp, df._jdf)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table, normalizing its schema for the engine.

    - ``events.ts`` arrives as INT64 TIMESTAMP(NANOS).  Spark ≤4.0 reads
      it as long (``spark.sql.legacy.parquet.nanosAsLong``) and we
      truncate to micros; Spark 4.1+ ignores that conf and reads it as
      ``timestamp_ntz`` truncated to µs — same values, different type.
      Both normalize to session-TZ TIMESTAMP here (the session is pinned
      UTC by ``prepare``), bit-identical to DuckDB's
      ``CAST(ts AS TIMESTAMP)`` (floor truncation, including negatives).
    - ``embeddings.embedding`` is ``array<float>``; cast to
      ``array<double>`` once here so all downstream math is double.
    """
    if name == "events":
        return load_events_in_range(spark, sf_dir)
    prepare(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "embeddings":
        df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before CPU-heavy
    per-row work: a small single-file parquet table reads as ONE input
    split, which silently serializes expensive per-row expressions
    (interpreted higher-order-function dot products) inside the scan's
    own stage — a broadcast join keeps everything downstream in that
    stage too, so nothing else re-parallelizes it.  Conditional on the
    PHYSICAL split count so it stays scale-adaptive rather than a
    local[32] constant: at production scale the corpus scan already has
    >= parallelism splits and the repartition (a corpus-wide exchange
    nothing upstream needs) must not fire.  Row-identical: repartition
    only moves rows, and callers feed order-insensitive consumers.

    CONTRACT (r14 advisory): the input must be SCAN-ADJACENT — a bare
    ``load_table`` projection/filter with no shuffle below it.  For any
    post-shuffle input ``df.rdd.getNumPartitions()`` equals
    ``spark.sql.shuffle.partitions`` (it measures shuffle width, not
    scan splits), so the helper would silently no-op on tiny skewed
    frames; and each call compiles the plan to an RDD on the driver,
    which is cheap for a scan but not free on a hot construction path.
    The no-op and firing branches are both pinned in
    tests/test_plan_properties.py."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _as_utc(ts: str | datetime) -> datetime:
    """Normalize a bound to an aware-UTC datetime.  Naive inputs are BY
    CONTRACT UTC wall-clock (the fixtures are UTC); offset-bearing
    inputs are CONVERTED (review-hardened: ``replace(tzinfo=utc)`` used
    to silently discard an explicit +02:00, shifting the whole window)."""
    dt = datetime.fromisoformat(ts) if isinstance(ts, str) else ts
    if dt.tzinfo is None:
        return dt.replace(tzinfo=timezone.utc)
    return dt.astimezone(timezone.utc)


def _epoch_us(ts: str | datetime) -> int:
    # exact integer µs — datetime.timestamp() routes through a double
    # whose ~0.24 µs resolution at 2024 magnitudes can land fractional-
    # second bounds 1 µs off the true value (cross-branch parity break)
    return (
        _as_utc(ts) - datetime(1970, 1, 1, tzinfo=timezone.utc)
    ) // timedelta(microseconds=1)


def load_events_in_range(
    spark: SparkSession,
    sf_dir: str,
    from_ts: str | datetime | None = None,
    to_ts: str | datetime | None = None,
    exclude: tuple[tuple[str | datetime, str | datetime], ...] = (),
) -> DataFrame:
    """O9/O12 pushdown-preserving events scan.

    The µs timestamp is derived from the raw ns long, so a filter on the
    *converted* column can't reach the parquet scan.  Truncation is
    monotonic, so ``[from_ts, to_ts)`` on the converted column is exactly
    ``[from_us·1000, to_us·1000)`` on the raw long — filter raw first
    (PushedFilters + row-group min/max skipping), convert after.  At
    100 TB this is the difference between a pruned scan and a full one.
    The scan is one SQL text over the cached relation; ``load_table``
    serves ``events`` from here with no bounds.

    Bounds accept ISO strings or datetimes (YAML configs resolve
    unquoted timestamps to datetime objects — ``known_filter_periods``
    used to crash on them); naive values are UTC by contract,
    offset-bearing ones are converted.
    """
    prepare(spark)
    raw = _read_parquet(spark, f"{sf_dir}/events.parquet")
    dtypes = raw.dtypes
    ts_type = dict(dtypes).get("ts")

    def bound(ts_in: str | datetime) -> str:
        # the filter literal must match the SCAN's column type, or the
        # comparison casts the column and the predicate never reaches the
        # parquet reader (PushedFilters + row-group min/max skipping):
        # raw epoch-ns long on ≤4.0's nanosAsLong read, a timestamp_ntz
        # literal on 4.1+'s native nanos read (truncation is monotonic,
        # so the µs bound is exact in every representation)
        if ts_type == "bigint":
            return f"{_epoch_us(ts_in) * 1000}L"
        utc_str = _as_utc(ts_in).replace(tzinfo=None).isoformat(sep=" ")
        return f"{'TIMESTAMP_NTZ' if ts_type == 'timestamp_ntz' else 'TIMESTAMP'} '{utc_str}'"

    cond = ["TRUE"]
    if from_ts is not None:
        cond.append(f"ts >= {bound(from_ts)}")
    if to_ts is not None:
        cond.append(f"ts < {bound(to_ts)}")
    cond += [f"NOT (ts >= {bound(lo)} AND ts < {bound(hi)})" for lo, hi in exclude]
    cols = ", ".join(
        f"{_TS_SQL.get(ts_type, 'ts')} AS ts" if c == "ts" else sql_ident(c) for c, _ in dtypes
    )
    return sql_over(raw, lambda v: f"SELECT {cols} FROM {v} WHERE {' AND '.join(cond)}")
