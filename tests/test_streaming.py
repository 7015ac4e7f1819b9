"""Streaming ring tests (FIXTURES B5): stream-batch parity — the
Structured Streaming tumbling aggregation over the replayed events source
must equal the batch window() aggregation on the same data."""

import pytest

from pyspark.sql import functions as F

from gordo_components_spark.sources.tables import load_table
from gordo_components_spark.streaming.micro_batch import (
    run_streaming_tumbling_agg,
    run_streaming_watermark_dedup,
)


def test_stream_batch_parity(spark, sf_dir):
    streamed = run_streaming_tumbling_agg(spark, sf_dir).toPandas()
    events = load_table(spark, sf_dir, "events")
    batch = (
        events.groupBy("event_type", F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 9).alias("avg_value"))
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "avg_value",
        )
        .toPandas()
    )
    # append mode emits a window only once the watermark (max event time −
    # 1h) passes its end; later windows are held in state — that IS the
    # O36 semantic under test, so compare the finalized prefix.
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import pandas as pd

    finalized = batch[batch["window_end"] <= max_ts - pd.Timedelta(hours=1)]
    key = ["event_type", "window_start"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(finalized) <= len(s) <= len(b)
    merged = s.merge(
        b, on=key, how="left", suffixes=("_s", "_b"), validate="one_to_one", indicator=True
    )
    assert (merged["_merge"] == "both").all()  # streamed ⊆ batch
    assert (merged["n_s"].to_numpy() == merged["n_b"].to_numpy()).all()
    assert (merged["avg_value_s"].to_numpy() == merged["avg_value_b"].to_numpy()).all()
    # and every finalized window made it out
    got = set(zip(s["event_type"], s["window_start"]))
    want = set(zip(finalized["event_type"], finalized["window_start"]))
    assert want <= got


def test_watermark_drops_late_batches(spark, sf_dir):
    # one file per micro-batch: each file is a random month-wide slice, so
    # once the watermark advances to ~month-end it marks later batches'
    # rows late.  Spark updates the watermark at the END of each batch
    # (it lags one batch): batch 1 all accepted, batch 2 accepted under
    # batch-1's watermark... practically: one full batch of rows must be
    # dropped/held — late-data enforcement observable as missing counts
    streamed = run_streaming_tumbling_agg(
        spark, sf_dir, max_files_per_trigger=1
    ).toPandas()
    batch_total = load_table(spark, sf_dir, "events").count()
    streamed_total = int(streamed["n"].sum())
    assert streamed_total < batch_total * 0.75, (
        f"expected late-drop, got {streamed_total}/{batch_total}"
    )
    # and what WAS emitted is per-window consistent with batch-1-only
    # input, i.e. every window count ≤ the full-batch window count
    full = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_full"))
        .select("event_type", F.col("w.start").alias("window_start"), "n_full")
        .toPandas()
    )
    merged = streamed.merge(full, on=["event_type", "window_start"], how="left")
    assert (merged["n"] <= merged["n_full"]).all()


def test_stateful_ewma_state_carries_across_batches(spark, sf_dir):
    from gordo_components_spark.streaming.micro_batch import run_streaming_stateful_ewma

    out = run_streaming_stateful_ewma(spark, sf_dir).toPandas().set_index("user_id")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .toPandas()
        .set_index("user_id")
    )
    assert len(out) == len(batch)
    # state accumulated across ALL micro-batches: final per-machine count
    # and (order-independent) total match the batch aggregation
    joined = out.join(batch, lsuffix="_s")
    assert (joined["n_s"] == joined["n"]).all()
    assert (abs(joined["total_s"] - joined["total"]) < 1e-6).all()
    assert out["ewma"].notna().all()


def test_stateful_ewma_leaves_no_table_or_checkpoint(spark, sf_dir):
    # a run must release what it created: no uuid-named memory table in
    # the session catalog, no run-scoped checkpoint dir on disk
    import glob

    from gordo_components_spark.streaming.micro_batch import run_streaming_stateful_ewma

    run_streaming_stateful_ewma(spark, sf_dir).collect()
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_ewma_")]
    assert not glob.glob("/tmp/gordo_spark_stream/chk/stream_ewma_*")


@pytest.fixture
def fold_chk(tmp_path, monkeypatch):
    """Run every ``_fold_stream`` face on a kept checkpoint, so the test
    can read back the file source's delivery log and the fold state."""
    from gordo_components_spark.streaming import micro_batch as mb

    chk = str(tmp_path / "chk")
    real = mb._fold_stream
    monkeypatch.setattr(mb, "_fold_stream", lambda *a, **k: real(*a, **{**k, "checkpoint": chk}))
    return chk


@pytest.mark.parametrize("n_batches", [1, 3])
def test_streaming_ewma_matches_sequential_replay(spark, sf_dir, fold_chk, monkeypatch, n_batches):
    # ewma and n must equal the literal sequential fold of the replay
    # files in delivery order, (ts, event_id) order within a batch —
    # bit-exact; total only up to summation order
    from gordo_components_spark.streaming import micro_batch as mb

    if n_batches == 1:
        real = mb._replay_stream
        # one micro-batch: drop the face's maxFilesPerTrigger
        monkeypatch.setattr(mb, "_replay_stream", lambda spark, sf_dir, _max=None: real(spark, sf_dir))
    got = mb.run_streaming_stateful_ewma(spark, sf_dir, alpha=0.2).collect()
    assert len(_delivered_batches(fold_chk)) == n_batches
    ref = {}
    for b in _delivered_frames(fold_chk):
        for uid, v in zip(b["user_id"], b["value"]):
            e, n, t = ref.get(uid, (None, 0, 0.0))
            ref[uid] = (v if e is None else 0.2 * v + (1 - 0.2) * e, n + 1, t + v)
    assert {r.user_id for r in got} == set(ref)
    for r in got:
        e, n, t = ref[r.user_id]
        assert (r.ewma, r.n) == (e, n), r.user_id
        assert abs(r.total - t) < 1e-9


def test_stream_dedup_complete(spark, sf_dir):
    deduped = run_streaming_watermark_dedup(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert deduped.count() == n_events
    assert deduped.select("event_id").distinct().count() == n_events


def test_stream_stream_join_batch_parity(spark):
    # the availableNow replay delivers everything in one batch (nothing
    # is late), so the stream-stream interval join must equal the batch
    # interval join bit-for-bit
    from pyspark.sql import functions as F

    from gordo_components_spark.sources.tables import load_table
    from gordo_components_spark.streaming.micro_batch import (
        run_streaming_stream_join,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = run_streaming_stream_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes")),
    )
    assert got.count() == want.count() > 0
    g = {(r["purchase_id"], r["click_id"]) for r in got.collect()}
    w = {(r["purchase_id"], r["click_id"]) for r in want.collect()}
    assert g == w


def test_enrich_dim_batch_parity(spark):
    # stream-static broadcast enrichment: availableNow delivers everything
    # in one batch, so every window CLOSED by the final watermark
    # (window end <= max_ts - 1h) must equal the batch join+window
    # bit-for-bit (decimal-routed sums); the trailing open window is
    # correctly withheld by append mode
    import datetime

    from pyspark.sql import functions as F

    from gordo_components_spark.sources.tables import load_table
    from gordo_components_spark.streaming.micro_batch import run_streaming_enrich_dim

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["c_mktsegment"], r["window_start"]): (r["n"], r["total_value"])
        for r in run_streaming_enrich_dim(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=1)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    want = {
        (r["c_mktsegment"], r["window_start"]): (r["n"], r["total_value"])
        for r in (
            ev.join(F.broadcast(dim), "user_id")
            .groupBy("c_mktsegment", F.window("ts", "1 day").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias("total_value"),
            )
            .select("c_mktsegment", F.col("w.start").alias("window_start"), "n", "total_value")
            .collect()
        )
        if r["window_start"] + datetime.timedelta(days=1) <= cutoff
    }
    assert len(got) >= len(want) > 0
    for k, v in want.items():
        assert got[k] == v, (k, got[k], v)


def test_incremental_dedup_stream_batch_parity(spark):
    """The streaming survivors' digest SET must equal the batch face's
    (keep_id is arrival-order-dependent; the set is the contract)."""
    from gordo_components_spark.operators.extensions_corpus import (
        pipe_dedup_incremental,
    )
    from gordo_components_spark.streaming.micro_batch import (
        run_streaming_incremental_dedup,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["text_hash"] for r in run_streaming_incremental_dedup(spark, sf).collect()
    }
    want = {r["text_hash"] for r in pipe_dedup_incremental(spark, sf).collect()}
    assert got == want and len(want) > 0


def test_session_window_stream_batch_parity(spark, sf_dir):
    from gordo_components_spark.streaming.micro_batch import run_streaming_session_agg

    streamed = run_streaming_session_agg(spark, sf_dir).toPandas()
    events = load_table(spark, sf_dir, "events")
    batch = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE)").alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .toPandas()
    )
    # append mode finalizes a session only once the watermark (max event
    # time - 1h) passes its close; later sessions legitimately stay in
    # state — that is the O35/O36 semantic under test
    import pandas as pd

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    finalized = batch[batch["session_end"] <= max_ts - pd.Timedelta(hours=1)]
    key = ["user_id", "session_start"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(finalized) <= len(s) <= len(b)
    merged = s.merge(
        b, on=key, how="left", suffixes=("_s", "_b"), validate="one_to_one",
        indicator=True,
    )
    assert (merged["_merge"] == "both").all()  # streamed subset of batch
    assert (merged["session_end_s"] == merged["session_end_b"]).all()
    assert (merged["n_events_s"].to_numpy() == merged["n_events_b"].to_numpy()).all()
    assert (
        merged["session_value_s"].to_numpy() == merged["session_value_b"].to_numpy()
    ).all()
    got = set(zip(s["user_id"], s["session_start"]))
    want = set(zip(finalized["user_id"], finalized["session_start"]))
    assert want <= got


def test_streaming_cusum_single_batch_matches_sequential(spark, sf_dir):
    # single-batch delivery = exact (ts, event_id) order: the streaming
    # state machine must agree with the literal Page recurrence run
    # sequentially against the train-window baseline
    from gordo_components_spark.operators.windows import _CUSUM_H100, _CUSUM_K100
    from gordo_components_spark.sources.tables import load_table
    from gordo_components_spark.streaming.micro_batch import _v100, run_streaming_cusum

    import pandas as pd

    got = (
        run_streaming_cusum(spark, sf_dir, single_batch=True)
        .toPandas()
        .set_index(["user_id", "event_type"])
        .sort_index()
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .toPandas()
    )
    split = pd.Timestamp("2024-01-16 00:00:00")
    for (uid, et), g in ev.groupby(["user_id", "event_type"]):
        tr = g[g["ts"] < split]
        # _v100 mirrors Spark SQL round (shortest-repr HALF_UP) — the
        # operator's baseline aggregate and its island use the same
        bn, bs1 = len(tr), sum(_v100(v) for v in tr["value"])
        row = got.loc[(uid, et)]
        if bn == 0:
            assert row["n_seen"] == len(g) and pd.isna(row["cusum"])
            continue
        s = n_alerts = 0
        for v in g.sort_values(["ts", "event_id"])["value"]:
            s = max(0, s + bn * (_v100(v) - _CUSUM_K100) - bs1)
            if s > bn * _CUSUM_H100:
                n_alerts += 1
        assert row["n_seen"] == len(g)
        assert row["n_alerts"] == n_alerts, (uid, et)
        assert abs(row["cusum"] - s / (bn * 100.0)) < 1e-12


def _delivered_batches(chk):
    """The replay file of each micro-batch, in delivery order, read from
    the query's file-source log (``sources/0/<batch>``: "v1" then one JSON
    line per file)."""
    import json
    import os
    from urllib.parse import unquote, urlparse

    log = os.path.join(chk, "sources", "0")
    batches = sorted(int(f) for f in os.listdir(log) if f.isdigit())
    out = []
    for b in batches:
        with open(os.path.join(log, str(b))) as fh:
            lines = fh.read().splitlines()[1:]
        out.append([unquote(urlparse(json.loads(l)["path"]).path) for l in lines])
    return out


def _delivered_frames(chk):
    """Each micro-batch's rows as one pandas frame in (ts, event_id)
    order, in delivery order."""
    import pandas as pd
    import pyarrow.parquet as pq

    for files in _delivered_batches(chk):
        yield pd.concat(pq.read_table(f).to_pandas() for f in files).sort_values(["ts", "event_id"])


def _sequential_replay(spark, sf_dir, chk):
    """Literal per-key Page CUSUM and trapezoid folds over the replay
    files one micro-batch at a time, in the order the file source
    delivered them; (ts, event_id) order within a batch.  Returns
    {key: dict(cusum, n_seen, n_alerts, num, span_us, twa)}."""
    import pandas as pd

    from gordo_components_spark.operators.windows import _CUSUM_H100, _CUSUM_K100
    from gordo_components_spark.streaming.micro_batch import _v100

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    ).toPandas()
    tr = ev[ev["ts"] < pd.Timestamp("2024-01-16 00:00:00")]
    base = {
        k: (len(g), sum(_v100(v) for v in g["value"]))
        for k, g in tr.groupby(["user_id", "event_type"])
    }
    st = {}
    for b in _delivered_frames(chk):
        for k, g in b.groupby(["user_id", "event_type"]):
            bn, bs1 = base.get(k, (0, 0))
            r = st.setdefault(k, dict(s=0, n_seen=0, n_alerts=0, us=None, v=None, num=0, span_us=0))
            for ts, v in zip(g["ts"], g["value"]):
                v100, us = _v100(v), ts.value // 1000
                r["s"] = max(0, r["s"] + bn * (v100 - _CUSUM_K100) - bs1)
                r["n_seen"] += 1
                r["n_alerts"] += r["s"] > bn * _CUSUM_H100
                if r["us"] is not None:
                    r["num"] += (r["v"] + v100) * (us - r["us"])
                    r["span_us"] += us - r["us"]
                r["us"], r["v"] = us, v100
            r["cusum"] = r["s"] / (bn * 100.0) if bn else None
            r["twa"] = r["num"] / (200.0 * r["span_us"]) if r["span_us"] else None
    return st


def _assert_matches_replay(got, ref, cols):
    assert {(r.user_id, r.event_type) for r in got} == set(ref)
    for r in got:
        want = ref[(r.user_id, r.event_type)]
        for c in cols:  # exact, floats included
            assert r[c] == want[c], ((r.user_id, r.event_type), c, r[c], want[c])


def test_streaming_cusum_state_carries_across_batches(spark, sf_dir, tmp_path):
    # 3 forced micro-batches (one replay file each, arriving out of time
    # order): every column of every key must equal the literal sequential
    # fold of the files in delivery order — the carried state (s,
    # n_seen, n_alerts) seeds each batch exactly
    from gordo_components_spark.streaming.micro_batch import run_streaming_cusum

    chk = str(tmp_path / "chk")
    got = run_streaming_cusum(spark, sf_dir, checkpoint=chk).collect()
    assert len(_delivered_batches(chk)) == 3
    ref = _sequential_replay(spark, sf_dir, chk)
    _assert_matches_replay(got, ref, ("cusum", "n_seen", "n_alerts"))
    assert sum(r.n_alerts for r in got) > 0  # the alarm path is exercised


def test_streaming_cusum_restart_resumes_exactly_once(spark, sf_dir, tmp_path, monkeypatch):
    # kill a maxFilesPerTrigger=1 run inside batch 2 and restart it on the
    # same checkpoint: Spark replays batch 2 (offsets logged, no commit),
    # which folds batch 1's state once.  Then replay batch 2 again over
    # its OWN written state (commit removed): the state is overwritten,
    # not double-counted.  Both must equal an uninterrupted run.
    import os

    from pyspark.errors import StreamingQueryException

    from gordo_components_spark.streaming import micro_batch as mb

    def rows(chk):
        return sorted(map(tuple, mb.run_streaming_cusum(spark, sf_dir, checkpoint=chk).collect()))

    want = rows(str(tmp_path / "uninterrupted"))
    chk = str(tmp_path / "chk")
    real, calls = mb._cusum_fold, []

    def fold_counting(baseline, kill_at=None):
        fold = real(baseline)

        def counted(batch, prior):
            calls.append(1)
            if len(calls) == kill_at:
                raise RuntimeError("killed inside batch 2")
            return fold(batch, prior)

        return counted

    monkeypatch.setattr(mb, "_cusum_fold", lambda b: fold_counting(b, kill_at=3))
    with pytest.raises(StreamingQueryException, match="killed inside batch 2"):
        rows(chk)
    assert sorted(os.listdir(os.path.join(chk, "fold"))) == ["0", "1"]
    monkeypatch.setattr(mb, "_cusum_fold", fold_counting)
    calls.clear()
    assert rows(chk) == want
    assert len(calls) == 1  # only batch 2 was re-run
    for f in ("2", ".2.crc"):
        os.remove(os.path.join(chk, "commits", f))
    calls.clear()
    assert rows(chk) == want
    assert len(calls) == 1
    calls.clear()
    assert rows(chk) == want  # nothing new: the final state is read back
    assert calls == []


def test_streaming_hampel_single_batch_matches_sequential(spark, sf_dir):
    # single-batch delivery = exact (ts, event_id) order: the streaming
    # trailing-Hampel must agree with an independent sequential
    # statistics.median reference using the batch face's integer fence
    import statistics

    from gordo_components_spark.sources.tables import load_table
    from gordo_components_spark.streaming.micro_batch import _v100, run_streaming_hampel

    got = (
        run_streaming_hampel(spark, sf_dir, single_batch=True)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .toPandas()
    )
    for uid, g in ev.groupby("user_id"):
        hv, hd, n_flagged = [], [], 0
        last_med = last_dev = None
        for v in g.sort_values(["ts", "event_id"])["value"]:
            v100 = _v100(v)
            win = hv[-20:] + [v100]
            med = statistics.median(win)  # int or .5 — exact
            dev200 = round(abs(v100 - med) * 2)
            mad = statistics.median(hd[-20:] + [dev200])
            mad400 = round(mad * 2)
            if len(hv) >= 20 and 10000 * dev200 > 22239 * mad400:
                n_flagged += 1
            hv.append(v100)
            hd.append(dev200)
            last_med, last_dev = float(med) / 100.0, dev200 / 200.0
        row = got.loc[uid]
        assert row["n_seen"] == len(g)
        assert row["n_flagged"] == n_flagged, uid
        assert abs(row["last_med"] - last_med) < 1e-12
        assert abs(row["last_dev"] - last_dev) < 1e-12


def test_streaming_hampel_state_carries_across_batches(spark, sf_dir):
    # 3 forced micro-batches: every event seen exactly once per machine
    from gordo_components_spark.sources.tables import load_table
    from gordo_components_spark.streaming.micro_batch import run_streaming_hampel

    got = run_streaming_hampel(spark, sf_dir).toPandas()
    want = load_table(spark, sf_dir, "events").groupBy("user_id").count().toPandas()
    merged = got.merge(want, on="user_id", validate="one_to_one")
    assert (merged["n_seen"] == merged["count"]).all()
    assert (merged["n_flagged"] <= merged["n_seen"]).all()


def test_streaming_hampel_matches_sequential_replay(spark, sf_dir, fold_chk):
    # 3 forced micro-batches: counts, last_med, last_dev AND the carried
    # trailing window must equal the literal sequential trailing-Hampel
    # fold of the replay files in delivery order — exact, floats included
    import os
    import statistics

    from gordo_components_spark.streaming.micro_batch import _v100, run_streaming_hampel

    got = run_streaming_hampel(spark, sf_dir).collect()
    delivered = len(_delivered_batches(fold_chk))
    assert delivered == 3
    ref = {}
    for b in _delivered_frames(fold_chk):
        for uid, v in zip(b["user_id"], b["value"]):
            r = ref.setdefault(uid, dict(hv=[], hd=[], n_seen=0, n_flagged=0))
            v100 = _v100(v)
            med = statistics.median(r["hv"][-20:] + [v100])
            dev200 = round(abs(v100 - med) * 2)
            mad400 = round(statistics.median(r["hd"][-20:] + [dev200]) * 2)
            if len(r["hv"]) >= 20 and 10000 * dev200 > 22239 * mad400:
                r["n_flagged"] += 1
            r["n_seen"] += 1
            r["hv"].append(v100)
            r["hd"].append(dev200)
            r["last_med"], r["last_dev"] = float(med) / 100.0, dev200 / 200.0
    assert {r.user_id for r in got} == set(ref)
    for r in got:
        want = ref[r.user_id]
        for c in ("n_seen", "n_flagged", "last_med", "last_dev"):
            assert r[c] == want[c], (r.user_id, c, r[c], want[c])
    assert sum(r.n_flagged for r in got) > 0  # the fence is exercised
    state = spark.read.parquet(os.path.join(fold_chk, "fold", str(delivered - 1))).collect()
    assert {r.user_id: (r.hv, r.hd) for r in state} == {
        uid: (r["hv"][-20:], r["hd"][-20:]) for uid, r in ref.items()
    }


def test_streaming_hampel_med2_matches_statistics_median(spark):
    # property ring for the doubled-median SQL the Hampel fold evaluates:
    # over a sorted array it must equal 2x statistics.median exactly
    # (selection for odd counts, midpoint sum for even) — the invariant
    # that keeps the streaming fence bit-compatible with the batch face's
    # percentile(…, 0.5) semantics.  Narrow value ranges force ties.
    import random
    import statistics

    from gordo_components_spark.streaming.micro_batch import _doubled_median

    rng = random.Random(20240116)
    lists = [
        [rng.randint(0, rng.choice((3, 10**6))) for _ in range(rng.randint(1, 41))]
        for _ in range(400)
    ]
    df = spark.createDataFrame(list(enumerate(lists)), "i int, vals array<bigint>")
    got = dict(df.selectExpr("i", f"{_doubled_median('array_sort(vals)')} AS m2").collect())
    for i, vals in enumerate(lists):
        assert got[i] == round(2 * statistics.median(vals)), vals


def test_streaming_m4_matches_batch_face(spark, sf_dir):
    # append-mode watermark contract (the session-face precedent):
    # emitted ⊆ batch with BIT-EQUAL aggregates, and every window the
    # final watermark (max ts − 1h) closed must have emitted — only
    # the trailing not-yet-closed windows may be withheld
    import datetime

    from pyspark.sql import functions as F

    from gordo_components_spark.registry import load_all
    from gordo_components_spark.sources.tables import load_table
    from gordo_components_spark.streaming.micro_batch import run_streaming_m4

    got = {
        (r.user_id, r.event_type, r.bucket): (r.v_first, r.v_last, r.v_min, r.v_max, r.n)
        for r in run_streaming_m4(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.event_type, r.bucket): (r.v_first, r.v_last, r.v_min, r.v_max, r.n)
        for r in load_all()["agg_m4_downsample"].fn(spark, sf_dir).collect()
    }
    assert set(got) <= set(want)
    for k, v in got.items():
        assert v == want[k], k  # bit-equal where emitted
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    wm = max_ts - datetime.timedelta(hours=1)
    closed = {
        k for k in want if k[2] + datetime.timedelta(hours=6) <= wm
    }
    assert closed <= set(got)  # every watermark-closed window emitted
    assert len(got) >= len(closed) > 0


def test_streaming_twa_single_batch_matches_sequential(spark, sf_dir):
    # single-batch delivery = exact (ts, event_id) order: the integer
    # trapezoid state must agree with a literal sequential fold
    from gordo_components_spark.sources.tables import load_table
    from gordo_components_spark.streaming.micro_batch import _v100, run_streaming_twa

    import pandas as pd

    got = (
        run_streaming_twa(spark, sf_dir, single_batch=True)
        .toPandas()
        .set_index(["user_id", "event_type"])
        .sort_index()
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id", "value")
        .toPandas()
    )
    assert len(got) > 0
    for (uid, et), g in ev.groupby(["user_id", "event_type"]):
        g = g.sort_values(["ts", "event_id"])
        us = g["ts"].values.astype("datetime64[us]").astype("int64")
        vs = [_v100(v) for v in g["value"]]
        num = sum(
            (vs[i] + vs[i + 1]) * int(us[i + 1] - us[i])
            for i in range(len(vs) - 1)
        )
        span = int(us[-1] - us[0]) if len(us) > 1 else 0
        # column-first indexing: a row-wise .loc Series would upcast the
        # int64 num through the float twa column and lose exactness
        assert int(got["num"].loc[(uid, et)]) == num, (uid, et)
        assert int(got["span_us"].loc[(uid, et)]) == span, (uid, et)
        if span:
            assert abs(got["twa"].loc[(uid, et)] - num / (200.0 * span)) < 1e-12


def test_streaming_twa_state_carries_across_batches(spark, sf_dir, tmp_path):
    # 3 forced micro-batches: every key's integer state and twa must equal
    # the literal sequential trapezoid fold of the replay files in
    # delivery order — the cross-batch segment connects through the
    # carried last reading.  The files are random month-wide slices, so
    # a batch may arrive with readings older than the carried one: under
    # the arrival-order contract that segment's Δµs is negative, and the
    # fold must carry it exactly like the sequential reference does.
    from gordo_components_spark.streaming.micro_batch import run_streaming_twa

    chk = str(tmp_path / "chk")
    got = run_streaming_twa(spark, sf_dir, checkpoint=chk).collect()
    assert len(_delivered_batches(chk)) == 3
    ref = _sequential_replay(spark, sf_dir, chk)
    _assert_matches_replay(got, ref, ("num", "span_us", "twa"))


def test_streaming_twa_overflow_raises_instead_of_wrapping(spark):
    # two extreme readings a day apart: (v_prev + v)·Δµs = 2e17 · 8.64e10
    # is past 2⁶³.  The bigint fold must fail loud (ANSI, the Spark 4
    # default) — a silently wrapped num would emit a plausible twa
    from gordo_components_spark.streaming.micro_batch import _TWA_STATE, _empty_state, _twa_fold

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    batch = spark.sql(
        "SELECT * FROM VALUES"
        " (1L, TIMESTAMP'2024-01-01 00:00:00', 7L, 'click', 1.0E15D),"
        " (2L, TIMESTAMP'2024-01-02 00:00:00', 7L, 'click', 1.0E15D)"
        " AS t(event_id, ts, user_id, event_type, value)"
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _twa_fold(batch, _empty_state(spark, _TWA_STATE)).collect()


def _plan_nodes(jplan):
    """Every node of a physical plan, through AQE wrappers and subqueries."""
    stack, out = [jplan], []
    while stack:
        node = stack.pop()
        out.append(node)
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out


def test_streaming_folds_plan_on_jvm_only(spark, sf_dir, monkeypatch):
    # no fold face's streaming query keeps a state store, and no face
    # nor one fold batch plans a Python-eval node or an RDD scan that is not a
    # materialized localCheckpoint — a driver-list createDataFrame plans
    # as the same `Scan ExistingRDD` node over a parallelized Python RDD
    # and starts Python workers on every micro-batch
    import os

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from gordo_components_spark.streaming import micro_batch as mb

    started, start = [], DataStreamWriter.start
    monkeypatch.setattr(
        DataStreamWriter, "start", lambda self, *a, **k: started.append(start(self, *a, **k)) or started[-1]
    )
    src = mb._replay_dir(spark, sf_dir)
    one_file = os.path.join(src, sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0])
    batch = spark.read.schema(mb._RAW_SCHEMA).parquet(one_file)
    folds = {
        "cusum": (mb._cusum_fold(mb._cusum_baseline(spark, sf_dir)), mb._CUSUM_STATE),
        "twa": (mb._twa_fold, mb._TWA_STATE),
        "ewma": (mb._ewma_fold(0.2), mb._EWMA_STATE),
        "hampel": (mb._hampel_fold, mb._HAMPEL_STATE),
        "bottomk": (mb._bottomk_fold(10), mb._BOTTOMK_STATE),
        "mg": (mb._mg_fold(8), mb._MG_STATE),
    }
    plans = {
        "cusum face": mb.run_streaming_cusum(spark, sf_dir),
        "twa face": mb.run_streaming_twa(spark, sf_dir),
        "ewma face": mb.run_streaming_stateful_ewma(spark, sf_dir),
        "hampel face": mb.run_streaming_hampel(spark, sf_dir),
        "bottomk face": mb.run_streaming_bottomk_sample(spark, sf_dir),
        "mg face": mb.run_streaming_heavy_hitters(spark, sf_dir),
        **{
            f"{name} fold": fold(batch, mb._empty_state(spark, ddl))
            for name, (fold, ddl) in folds.items()
        },
        "trap": spark.createDataFrame([(1, "a")], "user_id bigint, event_type string"),
    }
    n_events = load_table(spark, sf_dir, "events").count()
    assert len(started) == 6
    for q in started:
        progress = [p for p in q.recentProgress if p.numInputRows]
        assert len(progress) == 3 and sum(p.numInputRows for p in progress) == n_events
        assert not any(p.stateOperators for p in q.recentProgress)
    bad = {}
    for name, df in plans.items():
        for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
            cls = node.getClass().getSimpleName()
            if (
                "Python" in cls
                or "InPandas" in cls
                or "ArrowEval" in cls
                or (cls == "RDDScanExec" and not node.rdd().isCheckpointed())
            ):
                bad.setdefault(name, []).append(cls)
    assert bad == {"trap": ["RDDScanExec"]}  # the guard sees the trap, nothing else


def test_streaming_benford_matches_batch_exactly(spark, sf_dir):
    # digit counts are order-independent, so after the full replay the
    # streaming aggregation's final per-tag rows must equal the BATCH
    # face bit-for-bit — including the chi2 float chain (identical
    # compile-time expressions over identical integer counts)
    from gordo_components_spark.registry import load_all
    from gordo_components_spark.streaming.micro_batch import run_streaming_benford

    got = (
        run_streaming_benford(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    ref = (
        load_all()["agg_benford_screen"].fn(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    assert list(got.index) == list(ref.index)
    for col in ("n", "o1", "o9"):
        assert (got[col].to_numpy() == ref[col].to_numpy()).all()
    assert (got["chi2"].to_numpy() == ref["chi2"].to_numpy()).all()
    assert (got["conforms"].to_numpy() == ref["conforms"].to_numpy()).all()


def test_streaming_bottomk_matches_batch_exactly(spark, sf_dir):
    # the mergeability claim, asserted: the multi-batch stateful sketch
    # (arrival order = replay-file order, NOT time order) must land
    # bit-exactly on the batch face's per-tag bottom-10 — bottom-k is
    # order-free, unlike reservoir sampling
    from gordo_components_spark.registry import load_all
    from gordo_components_spark.streaming.micro_batch import (
        run_streaming_bottomk_sample,
    )

    reg = load_all()
    batch = (
        reg["stream_sample_bottomk"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values(["event_type", "rk"])
        .reset_index(drop=True)
    )
    streamed = (
        run_streaming_bottomk_sample(spark, sf_dir)
        .toPandas()
        .sort_values(["event_type", "rk"])
        .reset_index(drop=True)
    )
    assert list(batch.columns) == list(streamed.columns)
    assert batch.equals(streamed)


def test_streaming_bottomk_state_carries_across_batches(spark, sf_dir):
    # single-batch and multi-batch runs agree too (same sketch algebra,
    # different slicings) — the cheap two-point mergeability check
    from gordo_components_spark.streaming.micro_batch import (
        run_streaming_bottomk_sample,
    )

    multi = (
        run_streaming_bottomk_sample(spark, sf_dir)
        .toPandas()
        .sort_values(["event_type", "rk"])
        .reset_index(drop=True)
    )
    single = (
        run_streaming_bottomk_sample(spark, sf_dir, single_batch=True)
        .toPandas()
        .sort_values(["event_type", "rk"])
        .reset_index(drop=True)
    )
    assert multi.equals(single)


def test_countmin_stream_batch_parity(spark, sf_dir):
    # Count-Min is linear: the streaming sketch (one +1 per raw event per
    # hash row, accumulated across micro-batches) must equal the batch
    # sketch built from per-key exact counts — cell for cell.
    from gordo_components_spark.operators.relational_extra import _cm_cell, _CM_D
    from gordo_components_spark.streaming.micro_batch import run_streaming_countmin

    streamed = {
        (r["r"], r["cell"]): r["cnt"]
        for r in run_streaming_countmin(spark, sf_dir).collect()
    }
    cell = _cm_cell("h", "instr", "r")
    batch = {
        (r["r"], r["cell"]): r["cnt"]
        for r in (
            load_table(spark, sf_dir, "events")
            .withColumn("h", F.expr("md5(event_type || ':' || CAST(user_id AS STRING))"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, %d), r -> struct(CAST(r AS INT) AS r, %s AS cell))"
                        % (_CM_D - 1, cell)
                    )
                ).alias("t")
            )
            .groupBy("t.r", "t.cell")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .select(F.col("r"), F.col("cell"), F.col("cnt"))
            .collect()
        )
    }
    assert streamed == batch
    assert sum(streamed.values()) % _CM_D == 0


def test_heavy_hitters_stream_mg_bounds(spark, sf_dir):
    # Misra-Gries guarantees vs exact batch counts: (a) n_seen is the
    # exact per-tag total, (b) every kept counter UNDERSTATES its true
    # count by at most the decrement mass, (c) any user with true count
    # > N/k must be in the candidate set, (d) at most k counters per tag.
    from gordo_components_spark.streaming.micro_batch import (
        run_streaming_heavy_hitters,
    )

    k = 8
    rows = run_streaming_heavy_hitters(spark, sf_dir, k=k).collect()
    exact: dict = {}
    totals: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .count()
        .collect()
    ):
        exact[(r["event_type"], r["user_id"])] = r["count"]
        totals[r["event_type"]] = totals.get(r["event_type"], 0) + r["count"]
    by_tag: dict = {}
    for r in rows:
        by_tag.setdefault(r["event_type"], []).append(r)
    assert set(by_tag) == set(totals)
    for tag, rs in by_tag.items():
        assert len(rs) <= k
        n_seen = rs[0]["n_seen"]
        decr = rs[0]["n_decrements"]
        assert n_seen == totals[tag]
        cand = set()
        for r in rs:
            assert r["n_seen"] == n_seen and r["n_decrements"] == decr
            true = exact[(tag, r["user_id"])]
            assert r["mg_count"] <= true
            assert true <= r["mg_count"] + decr
            cand.add(r["user_id"])
        for (t, uid), c in exact.items():
            if t == tag and c * k > n_seen:
                assert uid in cand
    # the merged summary is deterministic for a given delivery order
    again = run_streaming_heavy_hitters(spark, sf_dir, k=k).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
