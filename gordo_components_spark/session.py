"""SparkSession construction + per-session normalization.

The driver passes its own SparkSession to ``queries()`` callables, so
anything we depend on must be applied at runtime via ``prepare(spark)``
(all of these are runtime-settable SQL confs), not only at build time.

Scale posture (SURVEY §4): AQE on (4.x default) handles join strategy,
skew splitting and shuffle-partition coalescing at 100 TB; Arrow for
every pandas-UDF boundary; session timezone pinned UTC so naive parquet
timestamps mean the same thing in Spark and the DuckDB oracle.

JVM launch posture (``get_spark`` only): most of the CPU of a short
request on a local JVM is JIT compilation, not data work, so the
sessions this module launches pin one C2 compiler thread and a codegen
cache that holds a round's working set (``_JIT_JAVA_OPTIONS``,
``_CODEGEN_CACHE_ENTRIES``).  Both act only when the JVM is launched: a
session that already exists (the driver's, a notebook's) keeps its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_RUNTIME_CONFS = {
    # events.parquet is INT64 TIMESTAMP(NANOS).  Spark ≤4.0 needs this
    # conf to read it (as long; sources/tables.py converts).  Spark 4.1+
    # IGNORES it and reads timestamp_ntz natively — tables.py handles
    # both worlds; either way values match DuckDB's CAST(ts AS TIMESTAMP)
    # µs truncation.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
}


# ``-XX:CICompilerCount=2`` = one C1 + one C2 compiler thread (tiered).
# HotSpot's tiered load feedback scales the tier-4 thresholds with the
# C2 queue length PER THREAD, drops stale tasks and routes methods to
# tier 2 while the queue is backed up; with a single C2 thread the
# lukewarm Catalyst/Janino/ANTLR methods of each warm-up burst stay in
# C1 and only the hot per-row loops reach C2.  Measured on a 4-core box
# (whose ergonomic default is 1 C1 + 2 C2) over the timed window of one
# perfbench ``stream_curate`` run with ``-XX:+LogCompilation``: tier-4
# compiles 1776 → 1110, C2 task seconds 33.9 → 16.6, all JIT seconds
# 41.9 → 23.5, process-tree CPU 62.7 → 48.7 s.  The ergonomic default
# grows with the core count, so the cut is larger on bigger boxes.  ``TieredStopAtLevel=1`` and raised ``Tier4*`` thresholds cut
# more CPU but cost 7-25 % of peak speed on heavy sf0.1 queries.
#
# Passed as ``spark.driver.defaultJavaOptions``, which spark-submit
# PREPENDS to the driver's java options; ``--driver-java-options`` (the
# form callers put in PYSPARK_SUBMIT_ARGS) replaces
# ``spark.driver.extraJavaOptions``, so both stay in effect.
_JIT_JAVA_OPTIONS = "-XX:CICompilerCount=2"

# Static conf (read when the SparkContext starts).  Spark's default of
# 100 generated classes is smaller than one perfbench round's ~160-200,
# so the LRU evicted plans before they came round again and Janino (and
# the JIT, on Janino's own methods) recompiled them every round.  At 2000
# a repeated plan compiles 0 classes (tests/test_session.py).
_CODEGEN_CACHE_ENTRIES = "2000"


def prepare(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to any session (incl. the driver's)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path sets it below
    return spark


def get_spark(app_name: str = "gordo-components-spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests/bench; cluster deployments supply their own.

    Launches the JVM with the module's JIT and codegen-cache posture
    (see ``_JIT_JAVA_OPTIONS``); if a session already exists,
    ``getOrCreate`` returns it unchanged and those settings do not apply."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, n)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # bucketed-table home (co-located joins; see tests/test_bucketed_join.py)
        .config("spark.sql.warehouse.dir", "/tmp/gordo_spark_warehouse")
        # fixtures are single smallish parquet files; without a minimum
        # split count a 20MB file scans on ONE core — split to the
        # session's parallelism (clusters get this for free from many files)
        .config("spark.sql.files.minPartitionNum", str(n))
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.defaultJavaOptions", _JIT_JAVA_OPTIONS)
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    return prepare(b.getOrCreate())


def compile_counters(spark: SparkSession) -> dict[str, float]:
    """Cumulative compile cost of the driver JVM so far: JIT seconds (all
    compiler threads, ``CompilationMXBean``) and the number of Janino
    compiles of generated code (a codegen-cache hit adds none).  Diff two
    snapshots to charge a phase; bench.py and tools/micro_time.py report
    warm-up and timed phases this way."""
    jvm = spark._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "jit_compile_s": jit.getTotalCompilationTime() / 1000.0,
        "janino_compiles": janino.getCount(),
    }


def compile_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: round(after[k] - before[k], 3) for k in after}
