"""Time individual registry queries with the noop sink (guide §1.4).

Prints per-query best-of-N wall seconds on one long-lived session, with
a warm-up pass first (same methodology as bench.py, minus the artifact
plumbing) so ad-hoc optimization iterations measure the PLAN.  Each
query also reports its compile cost (JIT seconds, Janino compiles) for
the warm-up run and for the timed runs together; the last line also
carries the JVM's class-data-sharing state (``session.cds_state``).

Usage:
    python tools/micro_time.py [-n RUNS] name [name...]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from gordo_components_spark.registry import load_all  # noqa: E402
from gordo_components_spark.session import (  # noqa: E402
    cds_state,
    compile_counters,
    compile_delta,
    get_spark,
)


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark("gordo-spark-microtime")
    out: dict[str, dict[str, float]] = {}
    for name in names:
        spec = registry[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        c0 = compile_counters(spark)
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        c1 = compile_counters(spark)
        samples = []
        for i in range(runs):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"timed:{name}#{i}")
            t0 = time.time()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        samples.sort()
        out[name] = {
            "min": round(samples[0], 4),
            "median": round(samples[len(samples) // 2], 4),
            "max": round(samples[-1], 4),
            # JIT seconds and Janino compiles, warm-up vs all timed runs
            "compile": {
                "warmup": compile_delta(c0, c1),
                "timed": compile_delta(c1, compile_counters(spark)),
            },
        }
        print(name, json.dumps(out[name]), flush=True)
    print(json.dumps({"load1": round(os.getloadavg()[0], 2), "cds": cds_state(), "times": out}))


if __name__ == "__main__":
    main()
