"""JVM launch posture of ``session.get_spark``: one C2 compiler thread and
a codegen cache that holds a round's working set (see session.py)."""

import os
import shlex
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _input_arguments(spark) -> list[str]:
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(mx.getInputArguments())


def test_session_jvm_runs_one_c2_thread(spark):
    assert "-XX:CICompilerCount=2" in _input_arguments(spark)


def test_jit_option_survives_driver_java_options():
    """``--driver-java-options`` in PYSPARK_SUBMIT_ARGS (how perfbench and
    users launch) replaces ``extraJavaOptions``; the compiler-thread
    option must still reach the JVM, next to the caller's own."""
    script = (
        "from gordo_components_spark.session import get_spark\n"
        "s = get_spark('jit-opts', cpus=1)\n"
        "mx = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print('ARGS', '\\x1f'.join(mx.getInputArguments()))\n"
        "s.stop()\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_DRIVER_MEMORY="1g",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote('-Dx=1')} pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=300,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("ARGS ")]
    assert line, out.stderr[-2000:]
    args = line[0][len("ARGS "):].split("\x1f")
    assert "-XX:CICompilerCount=2" in args
    assert "-Dx=1" in args


def test_codegen_cache_keeps_plan_across_many_distinct_plans(spark):
    """A plan re-run after 120 distinct generated plans compiles nothing:
    Spark's default 100-entry cache evicted it (7 Janino compiles)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def plan_a():
        return (
            spark.range(50)
            .selectExpr("id % 5 AS k", "id * 3 + 1 AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .collect()
        )

    plan_a()
    for i in range(120):
        spark.range(5).selectExpr(f"id * {i + 11} + {i + 13}").collect()
    before = compiles.getCount()
    plan_a()
    assert compiles.getCount() - before == 0
