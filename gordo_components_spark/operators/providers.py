"""Source/provider scan operators O1–O5 (SURVEY §2.1).

Reference: ``gordo_components/dataset/data_provider/`` — provider
dispatch (``base.py::GordoBaseDataProvider``), the NCS per-tag/per-year
ADLS reader (``ncs_reader.py``), the IROC CSV reader
(``iroc_reader.py``) and the deterministic RandomDataProvider
(``providers.py``).

Spark-first: a provider is just a declarative scan; dispatch is a union
of scans; the per-year layout + time filter is partition pruning +
predicate pushdown (free from Catalyst, SURVEY §4 P1/P2); the reference's
per-tag ThreadPool download fan-out is Spark task parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table


register_sql(
    "scan_union_sources",
    """
    WITH unioned AS (
      SELECT event_type, value FROM events WHERE event_type IN ('click','view','purchase')
      UNION ALL
      SELECT event_type, value FROM events WHERE event_type IN ('error','signup')
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value
    FROM unioned GROUP BY event_type
    """,
    doc="""O1 provider dispatch: each tag routes to the provider that
    ``can_handle_tag``s it; the merged lazy stream is a union of scans.
    Here: two disjoint tag partitions scanned separately, unionByName'd.""",
)


# Two bodies: the Spark body is the time-range scan whose pushdown this face exists to show.
@register(
    "scan_pruned_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
    """,
)
def scan_pruned_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 NCS per-year scan: the reference lists only the year-directories
    overlapping [from_ts, to_ts); on Spark the same layout is hive
    ``year=`` partition pruning + parquet min/max row-group skipping —
    this query's filter and 4-column projection both reach the scan
    (verify with .explain: PushedFilters + ReadSchema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")


_CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


# Two bodies: the Spark body reads a CSV copy of events, which the oracle does not read.
@register(
    "scan_csv_events",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts
    FROM events GROUP BY event_type
    """,
)
def scan_csv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 IROC CSV scan: multi-tag CSV exports parsed with an explicit
    schema (``iroc_reader.py::read_iroc_file``).  The fixture ships
    parquet only, so the CSV leg is materialized once to scratch (exact:
    timestamps as epoch-micros ints; Java double formatting round-trips),
    then read back via ``spark.read.csv(schema=...)``."""
    from gordo_components_spark.caches import materialized_cache

    ev = load_table(spark, sf_dir, "events")

    def build(tmp: str) -> None:
        (
            ev.select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                "value",
            )
            .write.mode("overwrite")
            .option("header", "true")
            .csv(tmp)
        )

    csv_dir = materialized_cache(sf_dir, "/tmp/gordo_spark_csv", "events", "events", build)
    back = spark.read.csv(csv_dir, schema=_CSV_SCHEMA, header=True)
    return (
        back.withColumn("ts", F.timestamp_micros("ts_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias("total_value"),
            F.min("ts").alias("first_ts"),
        )
    )


def _format_scan(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Materialize events once in ``fmt`` (ts as epoch-micros long so no
    format-specific timestamp semantics leak in), read back with explicit
    schema, aggregate — exercising the format's reader end-to-end."""
    from gordo_components_spark.caches import materialized_cache

    ev = load_table(spark, sf_dir, "events")

    def build(tmp: str) -> None:
        (
            ev.select("event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value")
            .write.mode("overwrite")
            .format(fmt)
            .save(tmp)
        )

    out = materialized_cache(sf_dir, "/tmp/gordo_spark_fmt", f"events_{fmt}", "events", build)
    schema = "event_id long, ts_us long, user_id long, event_type string, value double"
    back = spark.read.format(fmt).schema(schema).load(out)
    return (
        back.withColumn("ts", F.timestamp_micros("ts_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias("total_value"),
            F.min("ts").alias("first_ts"),
        )
    )


_FMT_ORACLE = """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts
    FROM events GROUP BY event_type
    """


# Two bodies: the Spark body reads a JSON-lines copy of events, which the oracle does not read.
@register("scan_jsonl_events", oracle=_FMT_ORACLE)
def scan_jsonl_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3-adjacent source-format breadth: JSON-lines scan with explicit
    schema (the interchange format half of ingestion pipelines)."""
    return _format_scan(spark, sf_dir, "json")


# Two bodies: the Spark body reads an ORC copy of events, which the oracle does not read.
@register("scan_orc_events", oracle=_FMT_ORACLE)
def scan_orc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format breadth: ORC scan (the other columnar at-rest format
    Spark ships a vectorized reader for)."""
    return _format_scan(spark, sf_dir, "orc")


# Two bodies: the Spark body reads a hive-partitioned copy of events, which the
# oracle does not read.
@register(
    "scan_partition_pruned",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
      AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-13 00:00:00'
    GROUP BY user_id
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/P2 hive-layout partition pruning: the reference lays tags out
    per-year and lists only matching years; the Spark-native equivalent
    is a ``date=``-partitioned layout where a date predicate prunes whole
    directories (PartitionFilters in .explain — zero IO for other days).
    The fixture ships one file, so the partitioned layout is materialized
    once to scratch — at 100 TB the data is *born* partitioned like this."""
    from gordo_components_spark.caches import materialized_cache

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .withColumn("date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("date")
            .parquet(tmp)
        )

    part_dir = materialized_cache(
        sf_dir, "/tmp/gordo_spark_part", "events_by_date", "events", build
    )
    ev = spark.read.parquet(part_dir).where(
        (F.col("date") >= F.lit("2024-01-10")) & (F.col("date") < F.lit("2024-01-13"))
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias("total_value"),
    )


@register(
    "gen_synthetic_series",
    oracle="""
    SELECT 'TAG-' || CAST(i % 5 AS VARCHAR) AS tag,
           TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 MINUTE AS ts,
           round(sin(i * 0.01) * 50.0 + 100.0, 6) AS value
    FROM range(5000) t(i)
    """,
)
def gen_synthetic_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 RandomDataProvider: deterministic synthetic per-tag series for
    tests/demos.  Pure arithmetic of the row index — no engine RNG, so
    the oracle reproduces it exactly (sin rounded: transcendentals are
    not correctly-rounded across libm implementations)."""
    return spark.range(0, 5000).select(
        F.concat(F.lit("TAG-"), (F.col("id") % 5).cast("string")).alias("tag"),
        F.expr("TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL 1 MINUTE").alias("ts"),
        F.round(F.sin(F.col("id") * 0.01) * 50.0 + 100.0, 6).alias("value"),
    )


# Two bodies: the Spark body reads an evolved-schema copy of events, which the
# oracle does not read.
@register(
    "scan_schema_evolution",
    oracle="""
    SELECT CASE WHEN event_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS gen,
           CASE WHEN event_id % 2 = 0 THEN '(pre-evolution)' ELSE event_type END AS tag,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: a 100 TB lake is never written by one code
    version — old partitions lack columns newer ones carry.  The leg
    materializes two hive-partitioned generations once (``gen=v1``
    WITHOUT ``event_type`` — the column arrives in ``gen=v2``), then
    reads the whole dataset back with ``mergeSchema`` + partition
    discovery: v1 rows surface the new column as NULL, coalesced to an
    explicit '(pre-evolution)' marker.  The oracle states the identical
    semantics over the source view (the round trip is exact: epoch-µs
    longs and raw doubles), per the CSV/ORC-leg convention.

    At scale this is the footer-merge path: ``mergeSchema`` unions the
    per-file parquet schemas in a distributed job instead of trusting
    the first footer — the difference between a correct migration and
    silently dropping a column added mid-corpus."""
    from gordo_components_spark.caches import materialized_cache

    ev = load_table(spark, sf_dir, "events")

    def build(tmp: str) -> None:
        base = ev.select(
            "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value"
        )
        (
            base.where(F.col("event_id") % 2 == 0)
            .drop("event_type")  # the old writer didn't know the column
            .write.mode("overwrite")
            .parquet(f"{tmp}/gen=v1")
        )
        (
            base.where(F.col("event_id") % 2 == 1)
            .write.mode("overwrite")
            .parquet(f"{tmp}/gen=v2")
        )

    out = materialized_cache(sf_dir, "/tmp/gordo_spark_evo", "events_evo", "events", build)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy(
        F.col("gen"),
        F.coalesce("event_type", F.lit("(pre-evolution)")).alias("tag"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias("total_value"),
    )


# Target rows per bucket for the co-located join.  Round-10 lowered
# 750k → 200k: each bucket is ONE read task on both join sides, so at
# the 10× replica (6M lineitem rows) 750k-row buckets capped the join
# at 8 tasks on a 32-core box — the ratio-4.3 rehearsal reading was a
# parallelism ceiling, not a plan defect.  200k keeps buckets ~10–30 MB
# (healthy file size at any SF) while task count tracks data volume.
_BUCKET_ROWS = 200_000


def _bucket_n_for(sf_dir: str) -> int:
    """Corpus-derived bucket count, shared by BOTH join sides (CLAUDE.md
    fixed-block-count rule — round-9's own 100× rehearsal caught the
    fixed 8: each bucket is one task at read time, so a constant count
    caps join parallelism at 8 regardless of data volume; ratio 14.2,
    GC-thrashing single-bucket sorts).  Derived from the LARGER side
    (lineitem) so buckets stay ~`_BUCKET_ROWS` rows at any SF; both
    tables must use the SAME count or co-location breaks."""
    from gordo_components_spark.caches import footer_rows

    return max(8, -(-footer_rows(sf_dir, "lineitem") // _BUCKET_ROWS))


def _bucketed_table(
    spark: SparkSession, sf_dir: str, table: str, key: str
) -> str:
    """Materialize a fixture table as a Spark BUCKETED+SORTED table
    (``bucketBy(key)``/``sortBy(key)``) and return its registered name.

    The files are a ``materialized_cache`` dir, and the table is an
    EXTERNAL table over it: the driver's vanilla session has no warehouse
    conf (a builder-time static), so a managed table would land in
    ./spark-warehouse inside the repo and a later session would hit
    LOCATION_ALREADY_EXISTS after its in-memory catalog forgot the name.
    The table NAME is a hash of the dir's ``_FP.json`` marker (fixture
    fingerprint plus the payload's file names), so a regenerated fixture
    or a rebuilt dir gets a new table and a registered name is never
    re-pointed at replaced files.  Registration uses explicit CLUSTERED
    BY/SORTED BY DDL, which carries the exact layout metadata bucketBy
    wrote (bucket ids are encoded in the file names, so the spec
    round-trips)."""
    import hashlib
    import re

    from gordo_components_spark.caches import materialized_cache

    n_buckets = _bucket_n_for(sf_dir)
    src = load_table(spark, sf_dir, table)

    def build(tmp: str) -> None:
        # bucketBy needs saveAsTable: write through a throwaway external
        # table (DROP removes metadata only, the files stay)
        writer = "bkt_w_" + re.sub(r"\W", "_", os.path.basename(tmp))
        (
            src
            # one write task per bucket => ONE file per bucket: Spark
            # only trusts the sortBy metadata (skipping the join-side
            # Sort) when a bucket is a single file
            .repartition(n_buckets, F.col(key))
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .option("path", tmp)
            .saveAsTable(writer)
        )
        spark.sql(f"DROP TABLE IF EXISTS `{writer}`")

    loc = materialized_cache(
        sf_dir, "/tmp/gordo_spark_warehouse", f"{table}_b{n_buckets}", table, build
    )
    with open(os.path.join(loc, "_FP.json"), "rb") as fh:
        name = f"bkt_{table}_{hashlib.md5(fh.read()).hexdigest()[:10]}"
    if not spark.catalog.tableExists(name):
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema.fields
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS `{name}` ({cols}) USING parquet"
            f" CLUSTERED BY (`{key}`) SORTED BY (`{key}`)"
            f" INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
    return name


# Two bodies: the Spark body joins bucketed tables, which the oracle does not read.
@register(
    "scan_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(round(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(30,8))), 2) * 100 AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("bench",),
)
def scan_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P3 co-located join via bucketing — THE Spark-native answer to
    "this join shuffles multi-TB fact tables every night": orders and
    lineitem are materialized ONCE as bucketed tables on the join key,
    and every subsequent join on that key runs with ZERO shuffle
    exchanges — each task reads bucket i of both sides (the
    tests/test_plan_properties.py guard asserts no Exchange feeds the
    SortMergeJoin; the residual per-bucket Sort is local and cheap —
    Spark's sortBy-metadata shortcut is a known unexploited path).  At
    100 TB this converts the nightly fact-fact shuffle (the single
    largest cost in most warehouses) into a one-time layout decision —
    exactly what hive bucketing / Iceberg bucket-partitioning buys,
    expressed through Spark's catalog.

    Materialization is fingerprint-keyed like every scratch cache (a
    regenerated fixture gets a fresh table); the query itself is a
    TPC-H-Q4-shaped priority rollup with the repo's integer-cents money
    convention."""
    o = spark.table(_bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    l = spark.table(_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    # MERGE hint pins the sort-merge form the bucketing exists for: at
    # fixture SF Catalyst would broadcast the orders side (hiding the
    # co-located shape this face demonstrates and the plan ring
    # asserts); at fact-fact scale neither side broadcasts and SMJ over
    # co-located buckets — ZERO exchanges — IS the plan.  (Spark still
    # re-sorts inside each bucket: the sortBy metadata shortcut is a
    # known long-unexploited path — the sort is bucket-local and
    # spill-free over already-clustered runs; the shuffle is the cost
    # the layout removes.)
    j = o.hint("MERGE").join(l, l["l_orderkey"] == o["o_orderkey"])
    return j.groupBy("o_orderpriority").agg(
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.expr(
            "CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)"
            " AS DECIMAL(30,8))), 2) * 100 AS BIGINT)"
        ).alias("revenue_cents"),
    )
