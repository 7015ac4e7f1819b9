"""Which package calls the traced run wraps, and how the per-layer
metrics are computed from the spans, the streaming listener and the
Spark event log.

Per-layer values are totals over the timed window divided by the number
of rounds (unit ``…/round``), unless the unit says otherwise. A layer the
workload does not exercise reads 0.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
from collections import defaultdict

PKG = "gordo_components_spark"
# the stream part's jobs and the curate part's registry queries
STREAM_JOBS = ("run_streaming_cusum", "run_streaming_tumbling_agg")
QUERIES = ("ext_dedup_minhash", "ext_tfidf_similar")
COMMITS = ("commit_append", "commit_merge", "commit_delete", "commit_compact", "commit_clustered")

# (span name, "module:attribute path") of every wrapped public call
WRAPS = [
    ("sources.load_table", f"{PKG}.sources.tables:load_table"),
    ("sources.load_events_in_range", f"{PKG}.sources.tables:load_events_in_range"),
    ("pyspark.read_parquet", "pyspark.sql.readwriter:DataFrameReader.parquet"),
    ("dataset.get_data", f"{PKG}.dataset:TimeSeriesDataset.get_data"),
    ("client.predict_date_range", f"{PKG}.client:predict_date_range"),
    *[(f"ml.islands.{f}", f"{PKG}.ml.islands:{f}") for f in (
        "machine_features", "train_models", "trained_models", "score_models", "predict_batch")],
    ("builder.build", f"{PKG}.builder:ModelBuilder.build"),
    ("workflow.load_config", f"{PKG}.workflow:load_config"),
    ("plans.pipeline_compiler.from_definition", f"{PKG}.plans.pipeline_compiler:from_definition"),
    ("plans.model_registry.check_cache", f"{PKG}.plans.model_registry:ModelRegistry.check_cache"),
    ("plans.model_registry.dump", f"{PKG}.plans.model_registry:ModelRegistry.dump"),
    *[(f"streaming.{j}", f"{PKG}.streaming.micro_batch:{j}") for j in STREAM_JOBS],
    ("caches.materialized_cache", f"{PKG}.caches:materialized_cache"),
    ("caches.persist_tracked", f"{PKG}.caches:persist_tracked"),
    *[(f"plans.manifest_table.{c}", f"{PKG}.plans.manifest_table:ManifestTable.{c}")
      for c in (*COMMITS, "read_pruned")],
]

# (name, unit) of the per-layer metrics a traced run prints, as listed
# under "per_layer" in BENCHMARK.json
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    METRICS = [(m["name"], m["unit"]) for m in json.load(_fh)["per_layer"]]


def _resolve(path: str):
    """'module:Attr.sub' → (owner object, attribute name)."""
    mod, _, attrs = path.partition(":")
    owner = importlib.import_module(mod)
    *outer, last = attrs.split(".")
    for a in outer:
        owner = getattr(owner, a)
    return owner, last


def install(spans) -> list[str]:
    """Wrap every call in WRAPS; returns the ones that could not be found."""
    missing = []

    def check_after(rec, result):
        rec["hit"] = result is not None

    def cache_before(rec, args, kwargs):
        args = list(args)
        build = kwargs.pop("build", None) or args.pop()
        rec["built"] = False

        def traced_build(tmp):
            rec["built"] = True
            return build(tmp)

        return (*args, traced_build), kwargs

    hooks = {"plans.model_registry.check_cache": {"after": check_after},
             "caches.materialized_cache": {"before": cache_before}}
    for name, path in WRAPS:
        try:
            owner, attr = _resolve(path)
        except (ImportError, AttributeError):
            missing.append(path)
            continue
        if not spans.wrap(owner, attr, name, **hooks.get(name, {})):
            missing.append(path)
    return missing


def per_layer(spans: list[dict], setup: list[dict], rounds: int, ops: int, elapsed_s: float,
              fold: dict, batches: list[dict], counters: dict) -> dict[str, float]:
    """Every METRICS value from the timed window's spans, the set-up's
    spans, the Spark fold per op span, the streaming progress events and
    the workload's counters."""
    dur: dict[str, float] = defaultdict(float)
    n: dict[str, int] = defaultdict(int)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        dur[s["name"]] += s["t1"] - s["t0"]
        n[s["name"]] += 1
    per = lambda v: v / rounds  # noqa: E731
    src = [s for s in spans if s["name"].startswith("sources.")]
    reads = sum(1 for s in spans if s["name"] == "pyspark.read_parquet"
                and by_id.get(s["parent"], {}).get("name", "").startswith("sources."))
    checks = [s for s in spans if s["name"] == "plans.model_registry.check_cache"]
    mc = [s for s in spans if s["name"] == "caches.materialized_cache"]
    setup_mc = [s for s in setup if s["name"] == "caches.materialized_cache"]
    fitted = counters.get("ml.islands.machines_fitted", 0)
    trig = [b["duration_ms"].get("triggerExecution", 0) / 1000 for b in batches]
    bsum = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches) / 1000  # noqa: E731
    commits = [f"plans.manifest_table.{c}" for c in COMMITS]
    eng = lambda k: per(sum(f[k] for f in fold.values()))  # noqa: E731
    out = {
        "session.get_spark_s": counters["session.get_spark_s"],
        "registry.load_all_s": counters["registry.load_all_s"],
        "sources.calls": per(len(src)),
        "sources.busy_s": per(sum(s["t1"] - s["t0"] for s in src)),
        "sources.relation_cache_hit_ratio": 1 - reads / len(src) if src else 0.0,
        "dataset.get_data_s": per(dur["dataset.get_data"]),
        "dataset.collect_s": per(dur["dataset.collect"]),
        "dataset.rows_returned": per(counters.get("dataset.rows_returned", 0)),
        "client.predict_date_range_s": per(dur["client.predict_date_range"] + dur["client.collect"]),
        "ml.islands.train_s": per(dur["ml.islands.train_collect"] + dur["ml.islands.trained_models"]),
        "ml.islands.machines_fitted": per(fitted),
        "ml.islands.fit_s_per_machine": dur["ml.islands.train_collect"] / fitted if fitted else 0.0,
        "ml.islands.score_s": per(dur["ml.islands.score_models"] + dur["client.collect"]),
        "ml.islands.predict_batch_s": per(dur["ml.islands.predict_batch"]
                                          + dur["ml.islands.predict_batch_count"]),
        "ml.islands.blob_map_bytes": counters.get("ml.islands.blob_map_bytes", 0),
        "builder.build_s": per(dur["builder.build"]),
        "workflow.load_config_s": per(dur["workflow.load_config"]),
        "plans.pipeline_compiler.from_definition_s": per(dur["plans.pipeline_compiler.from_definition"]),
        "plans.model_registry.hit_ratio": sum(s["hit"] for s in checks) / len(checks) if checks else 0.0,
        "plans.model_registry.dump_s": per(dur["plans.model_registry.dump"]),
        "streaming.batches": per(len(batches)),
        "streaming.input_rows": per(sum(b["input_rows"] for b in batches)),
        "streaming.trigger_s": per(sum(trig)),
        "streaming.add_batch_s": per(bsum("addBatch")),
        "streaming.planning_s": per(bsum("queryPlanning")),
        "streaming.wal_commit_s": per(bsum("walCommit")),
        "streaming.state_rows": per(sum(b["state_rows"] for b in batches)),
        "streaming.state_memory_bytes": max((b["state_memory_bytes"] for b in batches), default=0),
        "streaming.state_commit_s": per(sum(b["state_commit_ms"] for b in batches) / 1000),
        "streaming.job_overhead_s": per(max(0.0, sum(dur[f"streaming.{j}"] for j in STREAM_JOBS)
                                            - sum(trig))),
        "streaming.batch_latency_p50_s": statistics.median(trig) if trig else 0.0,
        "caches.materialized_builds": per(sum(s["built"] for s in mc)),
        "caches.materialized_hits": per(sum(not s["built"] for s in mc)),
        "caches.setup_materialized_builds": sum(s["built"] for s in setup_mc),
        "caches.setup_materialized_s": sum(s["t1"] - s["t0"] for s in setup_mc),
        "caches.persists": per(n["caches.persist_tracked"]),
        **{f"operators.{q}_s": per(dur[f"operators.{q}"]) for q in QUERIES},
        "plans.manifest_table.commits": per(sum(n[c] for c in commits)),
        "plans.manifest_table.commit_s": per(sum(dur[c] for c in commits)),
        "plans.manifest_table.read_s": per(dur["plans.manifest_table.read_pruned"]
                                           + dur["plans.manifest_table.read_collect"]),
        "plans.manifest_table.bytes_written_per_row": counters.get("plans.manifest_table.bytes_written_per_row", 0),
        "spark.jobs": eng("jobs"), "spark.stages": eng("stages"), "spark.tasks": eng("tasks"),
        "spark.driver_gap_s": eng("driver_gap_s"), "spark.executor_run_s": eng("run_s"),
        "spark.executor_cpu_s": eng("cpu_s"), "spark.gc_s": eng("gc_s"),
        "spark.shuffle_read_bytes": eng("shuffle_read"), "spark.shuffle_write_bytes": eng("shuffle_write"),
        "spark.spill_bytes": eng("spill"),
        "spark.task_skew": statistics.median(f["skew"] for f in fold.values()) if fold else 0.0,
        "spark.python_bytes_sent": eng("py_sent"), "spark.python_bytes_returned": eng("py_returned"),
        "spark.unattributed_task_s": eng("unattributed_task_s"),
        "trace.ops_per_s": ops / elapsed_s,
    }
    if set(out) != {m for m, _ in METRICS}:
        raise RuntimeError("per_layer() and BENCHMARK.json per_layer disagree: "
                           f"{sorted(set(out) ^ {m for m, _ in METRICS})}")
    return out


def shares(spans: list[dict], fold: dict, batches: list[dict], cpus: int) -> dict[str, float]:
    """Where each part's op wall time goes in a traced run: the Spark
    driver gap, executor busy time (task run time over wall × cores), and
    each package call made directly by an op (share of 2 % or more); on a
    stream part also the micro-batch phases as shares of
    ``triggerExecution``."""
    out: dict[str, float] = {}
    roots = {s["id"]: s for s in spans if s["op"] == s["id"]}
    wall: dict[str, float] = defaultdict(float)
    for r in roots.values():
        wall[r["part"]] += r["t1"] - r["t0"]
    direct: dict[tuple, float] = defaultdict(float)
    for s in spans:
        if s["parent"] in roots:
            direct[(roots[s["parent"]]["part"], s["name"])] += s["t1"] - s["t0"]
    for part, w in sorted(wall.items()):
        ops = [f for sid, f in fold.items() if roots[sid]["part"] == part]
        out[f"{part}.driver_gap"] = sum(f["driver_gap_s"] for f in ops) / w
        out[f"{part}.executor_busy"] = sum(f["run_s"] for f in ops) / (w * cpus)
        for (p, name), d in sorted(direct.items()):
            if p == part and d / w >= 0.02:
                out[f"{part}.{name}"] = d / w
    trig = sum(b["duration_ms"].get("triggerExecution", 0) for b in batches)
    if trig:
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
            out[f"stream.{k}/trigger"] = sum(b["duration_ms"].get(k, 0) for b in batches) / trig
        out["stream.state_commit/trigger"] = sum(b["state_commit_ms"] for b in batches) / trig
        jobs = sum(s["t1"] - s["t0"] for s in spans if s["name"].startswith("streaming.run_"))
        out["stream.trigger/job_wall"] = trig / 1000 / jobs if jobs else 0.0
    return out
