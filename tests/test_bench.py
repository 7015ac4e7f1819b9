"""``bench.py``'s one timing protocol and its headline membership."""

import os

import bench
from gordo_components_spark.registry import load_all

SF01 = "/root/testdata/sf0.01"

# The headline set, pinned: a member dropped or renamed in the registry
# would read as a phantom speedup of the headline total.
HEADLINE = (
    "agg_countmin_estimate", "agg_groupby_sum", "agg_resample_mean",
    "agg_seasonal_profile", "agg_time_weighted_avg", "ext_cosine_topk",
    "ext_dedup_canonical_rank", "ext_dedup_minhash", "ext_dedup_ngram_jaccard",
    "ext_eval_retrieval", "ext_media_phash_neardup", "ext_tfidf_similar",
    "flagship_anomaly", "join_align_inner", "join_broadcast_dim",
    "join_equi_inner", "join_interval_overlap", "ml_drift_ks", "ml_lifecycle",
    "ml_predict_batch", "pipe_bpe_merges", "pipe_manifest_upsert",
    "scan_bucketed_join", "stream_cusum_genuine", "stream_genuine",
    "stream_tumbling_agg", "stream_twa_genuine", "tpch_q10", "tpch_q3",
    "tpch_q5", "window_cusum_alerts", "window_rolling_avg",
)


def test_headline_membership_is_pinned():
    tagged = sorted(n for n, s in load_all().items() if bench.HEADLINE_TAG in s.tags)
    assert tagged == sorted(HEADLINE)


def test_protocol_runs_each_query_rep1_plus_n_times(spark):
    fn = load_all()["join_broadcast_dim"].fn
    calls = []

    def counted(spark, sf_dir):
        calls.append(sf_dir)
        return fn(spark, sf_dir)

    mtime = os.stat(bench.SIDECAR).st_mtime_ns if os.path.exists(bench.SIDECAR) else None
    line, sidecar = bench.bench(spark, {"join_broadcast_dim": counted}, SF01, 2, load1=0.0, gated=False)

    assert calls == [SF01] * 3
    row = sidecar["spread"]["join_broadcast_dim"]
    assert set(row) == {"rep1", "min", "median", "max", "n_runs", "compile"}
    assert row["n_runs"] == 2 and row["min"] <= row["median"] <= row["max"]
    assert set(row["compile"]) == {"rep1", "timed"}
    assert set(line) == {"metric", "value", "unit", "sf", "load1", "load1_end", "gated", "queries"}
    assert line["queries"] == {"join_broadcast_dim": row["min"]} and line["value"] == row["min"]
    assert line["sf"] == 0.01 and line["gated"] is False
    assert (os.stat(bench.SIDECAR).st_mtime_ns if os.path.exists(bench.SIDECAR) else None) == mtime


def test_chosen_queries_leave_the_headline_sidecar(monkeypatch, capsys):
    """``bench.py -n N name…`` prints its line but does not rewrite the
    tracked ``BENCH_spread.json``: the sidecar is the headline run's."""
    import json

    calls = []

    def fake_bench(spark, fns, sf_dir, runs, load1, gated):
        calls.append((sorted(fns), runs))
        return {"value": 1.0}, {"spread": {}}

    monkeypatch.setattr(bench, "bench", fake_bench)
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: None)
    monkeypatch.setattr(bench, "_gate_on_load", lambda: (0.0, True))
    mtime = os.stat(bench.SIDECAR).st_mtime_ns if os.path.exists(bench.SIDECAR) else None
    bench.main(["-n", "1", "join_broadcast_dim"])
    assert calls == [(["join_broadcast_dim"], 1)]
    assert json.loads(capsys.readouterr().out) == {"value": 1.0}
    assert (os.stat(bench.SIDECAR).st_mtime_ns if os.path.exists(bench.SIDECAR) else None) == mtime
