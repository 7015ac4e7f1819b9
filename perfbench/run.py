"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its seeded inputs under
``.bench_build/perfbench/``, then sets the package up once, cold: the
imports of pyspark and the package, ``get_spark`` (the JVM launch),
``registry.load_all`` and the workload's warm-up on a fresh JVM; that is
``setup_s``. It then runs whole rounds of the
workload's op mix on ``local[4]`` until ``--seconds`` have passed,
checks sampled outputs against DuckDB, and prints a capture header, a
metric table and, as its last stdout line, the result JSON. ``--trace 1``
runs the same loop with spans, the Spark event log and the streaming
listener on, and reports the per-layer metrics instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = 4
END_TO_END = [("setup_s", "s"), ("cpu_s_per_op", "s")]


def configure_env(run_dir: str, trace: bool) -> None:
    """Everything the JVM and the Python workers read at launch; keeps all
    scratch inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    submit = ["--driver-java-options", java_opts]
    for c in confs:
        submit += ["--conf", c]
    os.environ.update(
        SPARK_LAUNCHER_OPTS=java_opts,  # the launcher JVM spark-submit starts first
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYTHONWARNINGS="ignore",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    )
    time.tzset()


def redirect_scratch(scratch: str) -> None:
    """The package keeps replay caches and stream checkpoints under fixed
    /tmp paths; map them into this run's directory."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from gordo_components_spark import caches
    from tracing import rebind

    def inside(path):
        if isinstance(path, str) and path.startswith("/tmp/"):
            return os.path.join(scratch, path[len("/tmp/"):])
        return path

    orig_cache = caches.materialized_cache

    def materialized_cache(sf_dir, scratch_root, *args, **kwargs):
        return orig_cache(sf_dir, inside(scratch_root), *args, **kwargs)

    rebind(caches, "materialized_cache", orig_cache, materialized_cache)
    orig_option = DataStreamWriter.option
    DataStreamWriter.option = lambda self, key, value: orig_option(
        self, key, inside(value) if key in ("checkpointLocation", "path") else value
    )


class Ctx:
    """What a workload sees of the run: session, inputs, spans, counters."""

    def __init__(self, seed: int, run_dir: str, spans, facts: dict):
        self.seed = seed
        self.work = run_dir
        self.spans = spans
        self.facts = facts  # input sizes from the generator
        self.layer: dict[str, float] = {}  # gauges and counters for the per-layer report
        self.spark = None
        self.sf_dir = ""
        self._lock = threading.Lock()

    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.layer[name] = self.layer.get(name, 0) + n


def run_round(ops, clients: int, spans) -> None:
    def run(op):
        with spans.span(f"op.{op.kind}", root=True, part=op.part):
            t = time.perf_counter()
            try:
                op.items = op.fn()
            except Exception as e:  # an op failure is a result, not a crash
                op.error = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            op.latency_s = time.perf_counter() - t

    if clients == 1:
        for op in ops:
            run(op)
        return
    queue, lock = list(reversed(ops)), threading.Lock()

    def client():
        while True:
            with lock:
                if not queue:
                    return
                op = queue.pop()
            run(op)

    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def cpu_ticks() -> list[int]:
    """The machine's summed CPU ticks from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def capture_header(spark, window_ticks: list[int]) -> dict:
    import pyspark

    t = time.perf_counter()
    sum(i * i for i in range(3 * 10**7))
    probe = time.perf_counter() - t
    sha = "n/a (not a git checkout)"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as fh:
            ref = fh.read().strip()
        sha = ref
        if ref.startswith("ref: ") and os.path.isfile(os.path.join(ROOT, ".git", ref[5:])):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                sha = fh.read().strip()
    return {
        "cpu_probe_s": round(probe, 4),
        "loadavg": os.getloadavg(),
        # shares of the machine's CPU time during the timed window: steal
        # is time the hypervisor gave to other guests
        "window_busy": round(1 - sum(window_ticks[3:5]) / max(1, sum(window_ticks)), 3),
        "window_steal": round(window_ticks[7] / max(1, sum(window_ticks)), 4),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_sha": sha,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for every
    child process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def percentile(values: list[float], p: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gordo_components_spark", "__init__.py")):
        print("perfbench: no gordo_components_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, trace)
    try:
        return measure(args, trace, run_dir, gen, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, trace: bool, run_dir: str, gen, wl) -> int:
    src = os.path.join(run_dir, f"input-s{args.seed}")
    facts = gen.make_inputs(src, args.seed, **wl.inputs)
    # set-up starts here: pyspark, pandas and the package are not imported yet
    t_setup = time.perf_counter()
    import layers
    from tracing import Spans

    redirect_scratch(os.path.join(run_dir, "scratch"))
    spans = Spans(trace)
    missing = layers.install(spans) if trace else []
    ctx = Ctx(args.seed, run_dir, spans, facts)
    ctx.sf_dir = src
    parts = [p(ctx) for p in wl.parts]
    setup = set_up(ctx, parts, t_setup)
    window = run_window(ctx, parts, args.seconds)
    check_error = check(ctx, parts)
    header = capture_header(ctx.spark, window["cpu_ticks"])
    stop_spark(ctx.spark)
    return report(args, wl, parts, ctx, setup, window, check_error, header, missing)


def set_up(ctx: Ctx, parts, t_setup: float) -> dict[str, float]:
    """The cold set-up, from ``t_setup`` to the first timed op; returns
    its seconds per phase and in total."""
    from gordo_components_spark import registry
    from gordo_components_spark.session import get_spark

    phases = {}
    t = time.perf_counter()
    phases["imports_s"] = t - t_setup
    ctx.spark = get_spark(app_name="perfbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    phases["get_spark_s"], t = time.perf_counter() - t, time.perf_counter()
    registry.load_all()
    phases["load_all_s"], t = time.perf_counter() - t, time.perf_counter()
    for p in parts:
        p.setup()
        phases[f"{p.name}_warm_up_s"], t = time.perf_counter() - t, time.perf_counter()
    phases["setup_s"] = time.perf_counter() - t_setup
    ctx.layer["session.get_spark_s"] = phases["get_spark_s"]
    ctx.layer["registry.load_all_s"] = phases["load_all_s"]
    return phases


def run_window(ctx: Ctx, parts, seconds: float) -> dict:
    """Whole rounds until ``seconds`` have passed; every part's round runs
    in turn with its own client count."""
    from tracing import RssSampler, StreamProgress, tree_cpu_s

    listener = StreamProgress()
    ctx.spark.streams.addListener(listener)
    w = {"t0": time.time(), "ops": [], "rounds": 0, "part_s": dict.fromkeys((p.name for p in parts), 0.0)}
    cpu0, tree0 = cpu_ticks(), tree_cpu_s(os.getpid())
    with RssSampler() as rss:
        t0 = time.perf_counter()
        while w["rounds"] == 0 or time.perf_counter() - t0 < seconds:
            for p in parts:
                batch = p.round(w["rounds"])
                for op in batch:
                    op.part = p.name
                t = time.perf_counter()
                run_round(batch, p.clients, ctx.spans)
                w["part_s"][p.name] += time.perf_counter() - t
                w["ops"] += batch
            w["rounds"] += 1
        w["elapsed"] = time.perf_counter() - t0
    w["cpu_s"] = tree_cpu_s(os.getpid()) - tree0
    w["cpu_ticks"] = [b - a for a, b in zip(cpu0, cpu_ticks())]
    listener.settle()
    ctx.spark.streams.removeListener(listener)
    w["peak_rss"] = rss.peak
    w["batches"] = [b for b in listener.batches if b["t"] >= w["t0"]]
    return w


def check(ctx: Ctx, parts) -> str | None:
    """Output checks, outside the timed window; returns an error that kept
    a check from running, if any."""
    from checks import Reference

    ref = Reference(ctx.sf_dir)
    try:
        for p in parts:
            p.check(ref)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        return f"{type(e).__name__}: {e}"
    finally:
        ref.close()
    return None


def report(args, wl, parts, ctx: Ctx, setup: dict, w: dict, check_error, header, missing) -> int:
    """Print the capture header, the metric table and the result line, and
    write the full record under WORK/results."""
    ops, elapsed = w["ops"], w["elapsed"]
    done = [op for op in ops if op.error is None]
    failed = [op for op in ops if op.error is not None or op.checks]
    requests = {p.name for p in parts if p.requests}
    lat = [op.latency_s for op in done if op.part in requests] or [float("nan")]
    trig = [b["duration_ms"].get("triggerExecution", 0) / 1000 for b in w["batches"]]
    # the guarded metrics: wall-clock set-up, and CPU seconds of the
    # process tree (driver Python, JVM, Python workers) per completed op,
    # which CPU time stolen by the hypervisor does not inflate
    e2e = {
        "setup_s": setup["setup_s"],
        "cpu_s_per_op": w["cpu_s"] / max(1, len(done)),
    }
    # printed with the table only: wall-clock throughput and latency (they
    # move with the hypervisor's steal, see README.md); each part's work
    # items per second of its own phase (rows, models, events, documents);
    # peak RSS (when the JVM grows its heap varies run to run); the failure
    # ratio
    extra = {"ops_per_s": (len(done) / elapsed, "1/s"), "latency_p50_s": (statistics.median(lat), "s"),
             f"latency_p90_s (of {len(lat)})": (percentile(lat, 90), "s")}
    extra.update({p.items_name: (sum(op.items for op in done if op.part == p.name) / w["part_s"][p.name], "1/s")
                  for p in parts})
    extra["peak_rss_mb"] = (w["peak_rss"] / 2**20, "MB")
    extra["failed_ratio"] = (len(failed) / len(ops), "ratio")
    if trig:
        extra["batch_latency_p50_s"] = (statistics.median(trig), "s")
    doc = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "header": header, "inputs": ctx.facts, "rounds": w["rounds"], "elapsed_s": elapsed,
        "part_s": w["part_s"], "setup": setup, "check_error": check_error, "end_to_end": e2e,
        "extra": {k: v for k, (v, _) in extra.items()},
        "ops": [{"kind": o.kind, "part": o.part, "latency_s": o.latency_s, "items": o.items,
                 "error": o.error, "checks": o.checks} for o in ops],
    }
    units = dict(END_TO_END)
    rows = [(k, v, units[k]) for k, v in e2e.items()] + [(k, v, u) for k, (v, u) in extra.items()]
    metrics = e2e
    if args.trace:
        metrics, units = trace_report(ctx, w, len(done), doc, missing)
        rows = [(k, v, units[k]) for k, v in metrics.items()]
        if "tracing_overhead" in doc:
            rows.append(("tracing_overhead", doc["tracing_overhead"], "ratio"))
        rows += [(f"share {k}", v, "ratio") for k, v in doc["shares"].items()]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(doc, fh, default=str)

    print("capture " + json.dumps(header))
    print(f"{wl.name}: {len(ops)} ops in {w['rounds']} rounds, {elapsed:.2f} s timed, "
          f"{len(failed)} failed; set-up " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()))
    for k, v, u in rows:
        print(f"  {k:<44} {v:>14.6g} {u}")
    for op in failed:
        print(f"  FAILED {op.kind}: {op.error or '; '.join(op.checks)}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed and check_error is None,
        "attempted": len(ops),
        "failed": len(failed) + (check_error is not None),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def trace_report(ctx: Ctx, w: dict, n_done: int, doc: dict, missing: list) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run; adds spans and the engine fold to ``doc``."""
    import layers
    from tracing import fold_event_log, self_times

    spans = ctx.spans.records
    window = [s for s in spans if s["t0"] >= w["t0"]]
    setup = [s for s in spans if s["t0"] < w["t0"]]
    fold = fold_event_log(os.path.join(ctx.work, "eventlog"), window)
    metrics = layers.per_layer(window, setup, w["rounds"], n_done, w["elapsed"], fold, w["batches"],
                               ctx.layer)
    by_id = {s["id"]: s for s in spans}
    for sid, self_s in self_times(spans).items():
        by_id[sid]["self_s"] = self_s
    doc.update(per_layer=metrics, unwrapped=missing, spans=spans,
               engine_by_op={str(k): v for k, v in fold.items()},
               shares=layers.shares(window, fold, w["batches"], CPUS))
    untraced = _last_untraced(doc["workload"])
    if untraced:
        doc["tracing_overhead"] = 1 - metrics["trace.ops_per_s"] / untraced
    return metrics, dict(layers.METRICS)


def _last_untraced(name: str) -> float | None:
    """ops_per_s of the newest untraced result of this workload, if any."""
    results = os.path.join(WORK, "results")
    best = None
    for f in os.listdir(results) if os.path.isdir(results) else ():
        if f.startswith(f"{name}-") and f.endswith("-t0.json"):
            path = os.path.join(results, f)
            if best is None or os.path.getmtime(path) > os.path.getmtime(best):
                best = path
    if best is None:
        return None
    with open(best) as fh:
        return json.load(fh)["extra"]["ops_per_s"]


if __name__ == "__main__":
    sys.exit(main())
