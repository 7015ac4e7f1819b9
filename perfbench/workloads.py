"""The benchmark's workloads, built from four op mixes ("parts").

Each part is a closed loop over *rounds*: a round is a fixed mix of
operations whose parameters the seed picks, so every run does the same
kind of work and runs differ only in the seeded details. ``setup`` warms
one fresh copy of the inputs; ``round`` returns the next round's ops;
``check`` compares sampled outputs with DuckDB after the timed window and
appends one message per failed op. A workload runs its parts one after
another within each round (see ``WORKLOADS``).
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from typing import Callable

from checks import Reference, same_rows
from layers import QUERIES, STREAM_JOBS

DAY0 = datetime(2024, 1, 1)


@dataclass(eq=False)
class Op:
    kind: str
    fn: Callable[[], int]  # runs the op, returns the work items it handled
    part: str = ""
    latency_s: float = 0.0
    items: int = 0
    error: str | None = None
    checks: list = field(default_factory=list)  # failure messages from check()


def _iso(day: float) -> str:
    return (DAY0 + timedelta(days=day)).isoformat() + "+00:00"


def _naive(day: float) -> str:
    return (DAY0 + timedelta(days=day)).isoformat(sep=" ")


class Part:
    name = ""
    clients = 1
    inputs: dict = {}
    items_name = "items_per_s"
    requests = True  # ops count in the latency percentiles

    def __init__(self, ctx):
        self.ctx = ctx  # run context: spark, sf_dir, work dir, spans, counters
        self.rng = random.Random(f"{ctx.seed}-{self.name}")

    def span(self, name: str):
        return self.ctx.spans.span(name)

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def check(self, ref: Reference) -> None:
        """Append failure messages to the ``checks`` of sampled ops."""


# -- serve_fleet ----------------------------------------------------------------


class ServeFleet(Part):
    name = "serve"
    clients = 2
    inputs = {"n_machines": 120, "per_machine": 300}
    items_name = "rows_per_s"
    min_buckets = 8  # the fleet train's per-machine gate

    def setup(self) -> None:
        from gordo_components_spark.ml import islands

        with self.span("ml.islands.trained_models"):
            rows = islands.trained_models(self.ctx.spark, self.ctx.sf_dir).collect()
        self.ctx.layer["ml.islands.blob_map_bytes"] = sum(
            len(r["model_pkl_b64"] or "") for r in rows
        )
        self.samples: list[tuple[Op, dict, list]] = []
        self.history: list[dict] = []

    def _dataset_req(self, days: int, resolution: str, n_tags: int, filt: str) -> dict:
        from gen import TAGS

        start = self.rng.randrange(0, 30 - days)
        tags = self.rng.sample(TAGS, n_tags)
        req = {"start": _naive(start), "end": _naive(start + days), "tags": tags,
               "resolution": resolution, "row_filter": None, "buffer": 0}
        if filt != "none":
            req["row_filter"] = f"{tags[0]} > {self.rng.choice((10, 20, 30))}"
        if filt == "buffer":
            req["buffer"] = self.rng.choice((1, 2, 3))
        return req

    def _dataset_op(self, req: dict) -> Op:
        from gordo_components_spark import dataset

        def fn():
            ds = dataset.TimeSeriesDataset(
                train_start_date=req["start"].replace(" ", "T") + "+00:00",
                train_end_date=req["end"].replace(" ", "T") + "+00:00",
                tag_list=req["tags"], resolution=req["resolution"],
                row_filter=req["row_filter"], row_filter_buffer_size=req["buffer"],
            )
            X, _ = ds.get_data(self.ctx.spark, self.ctx.sf_dir)
            with self.span("dataset.collect"):
                rows = [tuple(r) for r in X.orderBy("ts").collect()]
            self.ctx.count("dataset.rows_returned", len(rows))
            if op in self.sampled:
                self.samples.append((op, req, rows))
            return len(rows)

        op = Op("dataset", fn)
        return op

    def _score_op(self, days: int) -> Op:
        from gordo_components_spark import client

        start = self.rng.randrange(0, 30 - days)
        req = {"start": _naive(start), "end": _naive(start + days)}

        def fn():
            df = client.predict_date_range(self.ctx.spark, self.ctx.sf_dir, req["start"], req["end"])
            with self.span("client.collect"):
                rows = df.select("machine", "bucket").collect()
            if op in self.sampled:
                self.samples.append((op, req, [tuple(r) for r in rows]))
            return len(rows)

        op = Op("score", fn)
        return op

    def round(self, r: int) -> list[Op]:
        ops = self._batch()
        self.rng.shuffle(ops)
        # check the first round's responses plus one seeded op per round
        self.sampled = set(ops) if r == 0 else {self.rng.choice(ops)}
        return ops

    def _batch(self) -> list[Op]:
        # stratified mix: 4 dataset requests over 1, 3, 5 and 7 days, two
        # of them row-filtered (one with a buffer), one exact repeat of an
        # earlier request, and 2 scoring requests over 1 and 4 days
        days = self.rng.sample((1, 3, 5, 7), 4)
        res = ["10T", "30T", "60T", self.rng.choice(("10T", "30T", "60T"))]
        self.rng.shuffle(res)
        filt = ["none", "none", "filter", "buffer"]
        self.rng.shuffle(filt)
        reqs = [self._dataset_req(d, s, self.rng.randint(2, 4), f) for d, s, f in zip(days, res, filt)]
        # repeat an unfiltered request, so every round has one buffered filter
        self.history.extend(q for q in reqs if q["row_filter"] is None)
        repeat = self.rng.choice(self.history)
        ops = [self._dataset_op(q) for q in reqs + [repeat]]
        return ops + [self._score_op(d) for d in self.rng.sample((1, 4), 2)]

    def check(self, ref: Reference) -> None:
        for op, req, rows in self.samples:
            if op.kind == "dataset":
                if not same_rows(rows, ref.dataset(req)):
                    op.checks.append(f"dataset {req} differs from the DuckDB resample/pivot")
            else:
                want = ref.scored_keys(req["start"], req["end"], self.min_buckets)
                got = [(m, b) for m, b in rows]
                if len(got) != len(set(got)) or set(got) != want:
                    op.checks.append(f"score {req}: {len(got)} rows, want {len(want)} (machine, hour) rows")


# -- build_fleet ----------------------------------------------------------------

_LINEAR_AE = {"models.AutoEncoder": {"kind": "feedforward_hourglass", "func": "linear"}}
_TANH_AE = {"models.AutoEncoder": {"kind": "feedforward_hourglass", "func": "tanh", "epochs": 100}}


def _canonical(meta: dict) -> str:
    return json.dumps(meta, sort_keys=True, default=str)


def _detector(ae: dict) -> dict:
    return {"anomaly.DiffBasedAnomalyDetector": {"base_estimator": {"pipeline.Pipeline": {
        "steps": ["preprocessing.MinMaxScaler", ae]}}}}


class BuildFleet(Part):
    name = "build"
    inputs = {"n_machines": 120, "per_machine": 300}
    items_name = "models_per_s"
    requests = False  # batch builds, not client requests

    def setup(self) -> None:
        from gordo_components_spark.plans.model_registry import ModelRegistry

        self.registry = ModelRegistry(os.path.join(self.ctx.work, "registry"))
        self.built: list[tuple[dict, str, dict]] = []  # (config, key, metadata) of misses
        self.sparse: list[tuple[Op, str]] = []  # (op, outcome) of the sparse-window builds
        self.fleet: list[tuple[Op, list]] = []
        self.hits: list[tuple] = []  # (op, stored key, hit key, stored metadata, hit metadata)

    def _yaml(self, r: int) -> str:
        import yaml

        from gen import TAGS

        machines = []
        # a linear and a tanh autoencoder over 5-10 days, and a linear one
        # over 6 hours at 60T: at most 6 aligned rows, below the threshold
        for kind, ae, days in (("lin", _LINEAR_AE, self.rng.randint(5, 10)),
                               ("mlp", _TANH_AE, self.rng.randint(5, 10)), ("sparse", _LINEAR_AE, 0.25)):
            start = self.rng.randrange(0, 30 - math.ceil(days))
            machines.append({
                "name": f"m{r}-{kind}",
                "dataset": {
                    "tags": self.rng.sample(TAGS, self.rng.randint(2, 3)),
                    "train_start_date": _iso(start),
                    "train_end_date": _iso(start + days),
                    "resolution": "60T" if kind == "sparse" else self.rng.choice(("30T", "60T")),
                    # a positive threshold turns a too-small aligned matrix
                    # into InsufficientDataError instead of a failed fit
                    "n_samples_threshold": 20,
                },
                "model": _detector(ae),
            })
        return yaml.safe_dump({"machines": machines})

    def round(self, r: int) -> list[Op]:
        from gordo_components_spark import builder, workflow
        from gordo_components_spark.dataset import InsufficientDataError
        from gordo_components_spark.ml import islands

        text = self._yaml(r)
        machines: list[dict] = []

        def load():
            machines.extend(m.as_config() for m in workflow.load_config(text))
            return 0

        def build(i):
            def fn():
                b = builder.ModelBuilder(machines[i], self.registry)
                try:
                    _, meta = b.build(self.ctx.spark, self.ctx.sf_dir)
                except InsufficientDataError:  # an expected outcome, not a failure
                    self.ctx.count("builder.insufficient_data", 1)
                    if i == 2:
                        self.sparse.append((op_sparse, "insufficient_data"))
                    return 0
                if i == 2:
                    self.sparse.append((op_sparse, "built"))
                self.built.append((machines[i], b.model_key, meta))
                return 1
            return fn

        def hit():
            if not self.built:  # every build so far had too little data
                return 0
            cfg, key, meta = self.rng.choice(self.built)
            b = builder.ModelBuilder(cfg, self.registry)
            _, got = b.build(self.ctx.spark, self.ctx.sf_dir)
            want = {**meta, "model_key": key, "machine_config": cfg}
            self.hits.append((op_hit, key, b.model_key, want, got))
            return 0

        def fleet():
            feats = islands.machine_features(self.ctx.spark, self.ctx.sf_dir)
            with self.span("ml.islands.train_collect"):
                rows = islands.train_models(feats).collect()
            self.blobs = {r["machine"]: r["model_pkl_b64"] for r in rows if r["status"] == "ok"}
            self.ctx.layer["ml.islands.blob_map_bytes"] = sum(map(len, self.blobs.values()))
            self.ctx.count("ml.islands.machines_fitted", len(self.blobs))
            self.fleet.append((op_fleet, rows))
            return len(self.blobs)

        def predict():
            feats = islands.machine_features(self.ctx.spark, self.ctx.sf_dir)
            with self.span("ml.islands.predict_batch_count"):
                islands.predict_batch(feats, self.blobs).count()
            return 0

        op_hit, op_fleet, op_sparse = Op("build_hit", hit), Op("fleet_train", fleet), Op("build_sparse", build(2))
        return [Op("load_config", load), Op("build_linear", build(0)), Op("build_tanh", build(1)),
                op_sparse, op_hit, op_fleet, Op("predict_batch", predict)]

    def check(self, ref: Reference) -> None:
        for op, rows in self.fleet:
            for r in rows:
                if r["status"] not in ("ok", "insufficient_data"):
                    op.checks.append(f"machine {r['machine']}: status {r['status']}")
                elif r["status"] == "ok" and not math.isfinite(r["total_threshold"]):
                    op.checks.append(f"machine {r['machine']}: threshold {r['total_threshold']}")
        for op, key, got_key, want, got in self.hits:
            if got_key != key or _canonical(got) != _canonical(want):
                op.checks.append(f"registry hit for {key[:12]} returned another key or metadata")
        for op, outcome in self.sparse:
            if outcome != "insufficient_data":
                op.checks.append("a 6-hour 60T build passed n_samples_threshold 20")


# -- stream_detect ----------------------------------------------------------------


class StreamDetect(Part):
    name = "stream"
    inputs = {"n_machines": 60, "per_machine": 200}
    items_name = "events_per_s"
    # the stateful pandas fold (CUSUM) and the JVM-stateful window; the
    # TWA and EWMA folds share CUSUM's protocol and were cut to keep a run
    # inside the benchmark's time budget
    jobs = STREAM_JOBS

    def setup(self) -> None:
        from gordo_components_spark.streaming import micro_batch

        micro_batch.run_streaming_tumbling_agg(self.ctx.spark, self.ctx.sf_dir).count()
        self.outputs: dict[str, tuple[Op, object]] = {}

    def round(self, r: int) -> list[Op]:
        from gordo_components_spark.streaming import micro_batch

        def job(name):
            def fn():
                df = getattr(micro_batch, name)(self.ctx.spark, self.ctx.sf_dir)
                df.count()
                self.outputs.setdefault(name, (op_of[name], df))
                return self.ctx.facts["events"]
            return fn

        order = self.rng.sample(self.jobs, len(self.jobs))
        op_of = {name: Op(name.removeprefix("run_streaming_"), job(name)) for name in order}
        return [op_of[n] for n in order]

    def check(self, ref: Reference) -> None:
        n_events = self.ctx.facts["events"]
        for name, (op, df) in self.outputs.items():
            if name == "run_streaming_tumbling_agg":
                # append mode emits a window once the watermark (max event
                # time - 1 h) passes its end: every window up to there must
                # be present, and every emitted one must equal the batch one
                got = {(r[0], r[1]): tuple(r) for r in
                       df.select("event_type", "window_start", "n", "avg_value").collect()}
                want = {(r[0], r[1]): r for r in ref.tumbling()}
                horizon = ref.rows("SELECT max(ts) - INTERVAL 70 MINUTES FROM events")[0][0]
                final = {k for k in want if k[1] <= horizon}
                if not (final <= got.keys() <= want.keys()) or not same_rows(
                    list(got.values()), [want[k] for k in got if k in want]
                ):
                    op.checks.append("tumbling aggregate differs from the DuckDB batch window")
            elif name == "run_streaming_cusum":
                seen = df.agg({"n_seen": "sum"}).first()[0]
                if seen != n_events:
                    op.checks.append(f"cusum saw {seen} events, input has {n_events}")


# -- curate_corpus ----------------------------------------------------------------


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


class CurateCorpus(Part):
    name = "curate"
    inputs = {"n_docs": 600, "n_vecs": 300, "dup_rate": 0.05}
    items_name = "docs_per_s"
    # ext_dedup_canonical_rank and pipe_bpe_merges (5-8 s each, cold) were
    # cut to keep a run inside the benchmark's time budget
    queries = QUERIES
    batch = 40

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from gordo_components_spark.plans.manifest_table import ManifestTable
        from gordo_components_spark.registry import load_all

        spark = self.ctx.spark
        docs = pq.read_table(os.path.join(self.ctx.sf_dir, "documents.parquet")).to_pylist()
        self.schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
        self.cols = ("doc_id", "text", "lang", "source", "n_chars")
        self.expected = {d["doc_id"]: tuple(d[c] for c in self.cols) for d in docs}
        self.next_id = max(self.expected) + 1
        self.table = ManifestTable(os.path.join(self.ctx.work, "curated"))
        self.log = ManifestTable(os.path.join(self.ctx.work, "log"))
        # the append log starts with one small dir, so each pass's append
        # leaves two for commit_compact to merge
        self.log.commit_append(spark.createDataFrame([(-1, i) for i in range(10)], "pass int, doc_id bigint"))
        self.table.commit_clustered(
            spark.read.parquet(os.path.join(self.ctx.sf_dir, "documents.parquet")), "doc_id", n_dirs=8
        )
        self.bytes0 = _du(self.table.root) + _du(self.log.root)
        self.specs = load_all()
        self.query_ops: dict[str, Op] = {}
        self.reads: list[tuple[Op, set, list]] = []

    def _query_op(self, name: str) -> Op:
        from gordo_components_spark import caches

        def fn():
            with self.span(f"operators.{name}"):
                self.specs[name].fn(self.ctx.spark, self.ctx.sf_dir).write.format("noop").mode(
                    "overwrite").save()
                caches.release_caches()
            return self.ctx.facts["docs"]

        op = Op(name, fn)
        self.query_ops.setdefault(name, op)
        return op

    def round(self, r: int) -> list[Op]:
        spark = self.ctx.spark
        ids = sorted(self.expected)
        upd_ids = self.rng.sample(ids, self.batch - 10) + list(range(self.next_id, self.next_id + 10))
        self.next_id += 10
        updates = []
        for i in upd_ids:
            text = " ".join(self.rng.choice(("merge", "table", "row", "key")) for _ in range(12))
            updates.append((i, text, "en", f"src{i % 20}", len(text)))
        dels = self.rng.sample([i for i in ids if i not in set(upd_ids)], 10)
        lo = self.rng.choice(ids)
        hi = lo + 300

        def merge():
            self.table.commit_merge(spark, spark.createDataFrame(updates, self.schema),
                                    key_col="doc_id", prune_col="doc_id")
            self.expected.update({u[0]: u for u in updates})
            self.ctx.count("plans.manifest_table.rows_committed", len(updates))
            return len(updates)

        def delete():
            self.table.commit_delete(spark, f"doc_id IN ({', '.join(map(str, dels))})",
                                     prune=("doc_id", dels))
            for i in dels:
                self.expected.pop(i, None)
            return len(dels)

        def append():
            rows = [(r, i) for i in upd_ids]
            self.log.commit_append(spark.createDataFrame(rows, "pass int, doc_id bigint"))
            # a run is one pass: compacting every pass is what makes it run
            self.log.commit_compact(spark, small_rows=10_000)
            self.ctx.count("plans.manifest_table.rows_committed", len(rows))
            return len(rows)

        def read():
            with self.span("plans.manifest_table.read_collect"):
                got = [tuple(x) for x in self.table.read_pruned(spark, "doc_id", lo, hi).select(
                    *self.cols).collect()]
            want = {v for k, v in self.expected.items() if lo <= k <= hi}
            self.reads.append((op_read, want, got))
            return len(got)

        ops = [self._query_op(q) for q in self.rng.sample(self.queries, len(self.queries))]
        op_read = Op("read_pruned", read)
        return ops + [Op("commit_merge", merge), Op("commit_delete", delete),
                      Op("commit_append_compact", append), op_read]

    def check(self, ref: Reference) -> None:
        written = _du(self.table.root) + _du(self.log.root) - self.bytes0
        rows = self.ctx.layer.get("plans.manifest_table.rows_committed", 0)
        self.ctx.layer["plans.manifest_table.bytes_written_per_row"] = written / rows if rows else 0.0
        for op, want, got in self.reads:
            if len(got) != len(want) or set(got) != want:
                op.checks.append(f"read_pruned returned {len(got)} rows, want {len(want)}")
        for name, op in self.query_ops.items():
            oracle = self.specs[name].oracle
            if oracle is None:
                continue
            got = [tuple(r) for r in self.specs[name].fn(self.ctx.spark, self.ctx.sf_dir).collect()]
            if not same_rows(got, ref.rows(oracle)):
                op.checks.append(f"{name} differs from its DuckDB oracle")


class Workload:
    """Named mix of parts sharing one input set: a round runs each part's
    round in turn, each with its own client count."""

    def __init__(self, name: str, parts: tuple[type, ...]):
        self.name, self.parts = name, parts
        self.inputs: dict = {}
        for p in parts:
            for k, v in p.inputs.items():
                self.inputs[k] = max(v, self.inputs.get(k, v))


# Two workloads, not four: a run costs ~50 s, and the benchmark must fit
# 4 + 22 x workloads runs into 3420 s (README.md, "What was cut").
WORKLOADS = {w.name: w for w in (
    # short requests from two callers (planning, py4j, caches, scoring
    # islands), then model builds and a fleet train (pandas-island fits)
    Workload("serve_build", (ServeFleet, BuildFleet)),
    # stateful micro-batches and state-store commits, then JVM shuffles,
    # joins and persists of corpus queries, and the only writes
    Workload("stream_curate", (StreamDetect, CurateCorpus)),
)}
