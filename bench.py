"""The one query timer: times registry queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] with the noop
sink and prints ONE JSON line {"metric", "value", "unit", "sf", "load1",
"load1_end", "gated", "queries"}.

Protocol, the same for every query and every run:

1. wait for the 1-minute load average to fall below ``LOAD_THRESHOLD``
   (at most ``LOAD_TIMEOUT_S``; ``gated`` says whether it did);
2. one pass over all queries, each timed as ``rep1``: the cold first
   run, which pays the JIT, codegen, Python-worker forks and one-time
   caches (the trained models of ``ml_predict_batch``);
3. ``RUNS`` timed repetitions per query, each on a cleared Spark cache
   so a persisted intermediate is paid every time.

``value`` is the sum of the per-query minima.  A headline run (no
names given) also writes the tracked sidecar ``BENCH_spread.json``; a
run of chosen queries prints its line only.  The sidecar holds per
query ``rep1``, ``min``, ``median``, ``max``, ``n_runs`` and
``compile`` (JIT seconds and Janino compiles of the ``rep1`` run and of
the timed runs together), plus the JVM's class-data-sharing state
(``session.cds_state``).

Usage:
    python bench.py [-n RUNS] [name ...]

Names default to the headline set, the queries tagged ``bench``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gordo_components_spark.registry import load_all
from gordo_components_spark.session import cds_state, compile_counters, compile_delta, get_spark

HEADLINE_TAG = "bench"
RUNS = 3
LOAD_THRESHOLD = 0.8
LOAD_TIMEOUT_S = 900.0
SIDECAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_spread.json")


def _gate_on_load() -> tuple[float, bool]:
    """Wait, before Spark starts, until external load falls below the
    threshold or the timeout passes.  Returns load1 and whether it fell."""
    t0 = time.time()
    load = os.getloadavg()[0]
    while load > LOAD_THRESHOLD and time.time() - t0 < LOAD_TIMEOUT_S:
        print(f"bench: load1={load:.2f} > {LOAD_THRESHOLD}, waiting for a quiet box", file=sys.stderr)
        time.sleep(20)
        load = os.getloadavg()[0]
    return load, load <= LOAD_THRESHOLD


def _run(spark, name: str, fn, sf_dir: str, label: str) -> float:
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(f"{label}:{name}")
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def bench(spark, fns: dict, sf_dir: str, runs: int, load1: float, gated: bool) -> tuple[dict, dict]:
    """Time ``fns`` ({name: query fn}) under the protocol above; return
    the JSON line (``load1`` and ``gated`` come from the gate) and the
    sidecar."""
    rows: dict[str, dict] = {}
    for name, fn in fns.items():
        c0 = compile_counters(spark)
        rows[name] = {"rep1": round(_run(spark, name, fn, sf_dir, "rep1"), 4)}
        rows[name]["compile"] = {"rep1": compile_delta(c0, compile_counters(spark))}
    for name, fn in fns.items():
        c0 = compile_counters(spark)
        samples = sorted(_run(spark, name, fn, sf_dir, f"timed#{i}") for i in range(runs))
        rows[name].update(
            min=round(samples[0], 4),
            median=round(statistics.median(samples), 4),
            max=round(samples[-1], 4),
            n_runs=runs,
        )
        rows[name]["compile"]["timed"] = compile_delta(c0, compile_counters(spark))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    line = {
        "metric": "headline_queries_total_time",
        "value": round(sum(r["min"] for r in rows.values()), 4),
        "unit": "sec",
        "sf": sf,
        # load1 is the external load after the gate, before Spark starts;
        # load1_end includes the bench's own tail
        "load1": round(load1, 2),
        "load1_end": round(os.getloadavg()[0], 2),
        "gated": gated,
        "queries": {name: r["min"] for name, r in rows.items()},
    }
    return line, {"sf": sf, "cds": cds_state(), "spread": rows}


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="Time registry queries; print one JSON line.")
    ap.add_argument("-n", dest="runs", type=int, default=RUNS, help=f"timed runs per query after rep1 (default {RUNS})")
    ap.add_argument("names", nargs="*", help="queries to time (default: the headline set)")
    args = ap.parse_args(argv)
    registry = load_all()
    unknown = sorted(set(args.names) - set(registry))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    if args.runs < 1:
        ap.error("-n must be at least 1")
    names = args.names or sorted(n for n, s in registry.items() if HEADLINE_TAG in s.tags)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load1, gated = _gate_on_load()
    spark = get_spark("gordo-spark-bench")
    line, sidecar = bench(spark, {n: registry[n].fn for n in names}, sf_dir, args.runs, load1, gated)
    if not args.names:  # the tracked sidecar is the headline run's; a chosen set leaves it
        with open(SIDECAR, "w") as fh:
            json.dump(sidecar, fh, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    main(sys.argv[1:])
