"""Golden anomaly pipeline — ring 3 (FIXTURES B4): synthetic sine+noise
series, injected 10σ spikes in a held-out window, full Spark lifecycle:
resample features → per-machine train island → score island → spike
buckets flag, clean buckets mostly don't."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from gordo_components_spark.ml.islands import (
    FEATURES,
    score_models,
    train_models,
)

N_HOURS = 24 * 14
SPIKE_HOURS = [24 * 12 + h for h in (1, 5, 9, 13)]  # day 13, held-out window


@pytest.fixture(scope="module")
def synthetic_events(spark):
    rng = np.random.default_rng(42)
    rows = []
    for machine in (1, 2):
        for h in range(N_HOURS):
            # ~6 readings per hour, sine daily cycle + noise
            for j in range(6):
                ts = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h, minutes=10 * j)
                v = 100 + 30 * np.sin(2 * np.pi * h / 24) + rng.normal(0, 2)
                if h in SPIKE_HOURS:
                    v += 10 * 30  # 10σ-scale spike
                rows.append((machine, ts, float(v)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    return spark.createDataFrame(pdf)


def _features(events):
    return (
        events.groupBy("user_id", F.window("ts", "60 minutes").alias("w"))
        .agg(
            F.round(F.avg("value"), 9).alias("value__avg"),
            F.max("value").alias("value__max"),
            F.min("value").alias("value__min"),
            F.count("value").cast("double").alias("value__count"),
        )
        .select("user_id", F.col("w.start").alias("bucket"), *FEATURES)
    )


def test_golden_anomaly_pipeline(spark, synthetic_events):
    feats = _features(synthetic_events)
    clean = feats.where(
        F.col("bucket") < F.lit("2024-01-12 00:00:00").cast("timestamp")
    )
    # reference-default backend (feedforward_hourglass func="tanh"):
    # since the round-6 residual-space fix, anomaly errors are GENUINE
    # scaled reconstruction errors — the linear (PCA) face reconstructs
    # the spike's common-mode direction perfectly (it spans PC1), so
    # only a saturating nonlinear AE flags out-of-range spikes through
    # reconstruction error, exactly like the reference's Keras default
    definition = {
        "anomaly.DiffBasedAnomalyDetector": {
            "base_estimator": {
                "pipeline.Pipeline": {
                    "steps": [
                        "preprocessing.MinMaxScaler",
                        {"models.AutoEncoder": {
                            "kind": "feedforward_hourglass",
                            "compression_factor": 0.5,
                            "encoding_layers": 2,
                            "func": "tanh",
                            "epochs": 120,
                        }},
                    ]
                }
            }
        }
    }
    models = train_models(clean, definition=definition)
    meta = {r["machine"]: r.asDict() for r in models.collect()}
    assert set(meta) == {"1", "2"}
    assert all(m["status"] == "ok" for m in meta.values())
    assert all(m["total_threshold"] > 0 for m in meta.values())

    blobs = {m: r["model_pkl_b64"] for m, r in meta.items()}
    scored = score_models(feats, blobs).toPandas()
    scored["hour"] = (
        (scored["bucket"] - pd.Timestamp("2024-01-01")).dt.total_seconds() // 3600
    ).astype(int)

    spikes = scored[scored["hour"].isin(SPIKE_HOURS)]
    clean_rows = scored[~scored["hour"].isin(SPIKE_HOURS)]
    # every injected spike bucket flags, on every machine
    assert spikes["is_anomaly"].all(), spikes
    # ≥95% of clean buckets stay quiet (B4 criterion)
    assert (1 - clean_rows["is_anomaly"].mean()) >= 0.95


def test_scoring_after_a_retrain_uses_the_new_blobs(spark):
    """Scoring keeps one broadcast per blob-map content: an equal map
    reuses it, a retrain's map replaces it, and a frame built on the
    replaced broadcast still runs (unpersisted, not destroyed)."""
    import base64
    import pickle

    from gordo_components_spark.ml import islands

    rng = np.random.default_rng(7)

    def features(scale):
        rows = [
            (m, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h), *(scale * rng.normal(10, 2, 4)))
            for m in ("1", "2") for h in range(24)
        ]
        return spark.createDataFrame(pd.DataFrame(rows, columns=["user_id", "bucket", *FEATURES]))

    def blob_map(feats):
        return {r["machine"]: r["model_pkl_b64"] for r in train_models(feats).collect()}

    def expected(feats, blobs):
        pdf = feats.toPandas().sort_values(["user_id", "bucket"])
        return {
            m: pickle.loads(base64.b64decode(blobs[m])).anomaly(g[list(FEATURES)].to_numpy())["total_anomaly"]
            for m, g in pdf.groupby("user_id")
        }

    def scored(df):
        pdf = df.toPandas().sort_values(["machine", "bucket"])
        return {m: g["total_anomaly"].to_numpy() for m, g in pdf.groupby("machine")}

    feats_a, feats_b = features(1.0), features(50.0)
    blobs_a = blob_map(feats_a)
    old = score_models(feats_b, blobs_a)
    held = islands._BLOBS[2]
    score_models(feats_b, dict(blobs_a))
    assert islands._BLOBS[2] is held  # equal content: no new broadcast

    blobs_b = blob_map(feats_b)  # retrained on changed data
    assert blobs_b != blobs_a
    new = scored(score_models(feats_b, blobs_b))
    assert islands._BLOBS[2] is not held
    want = expected(feats_b, blobs_b)
    assert set(new) == set(want) == {"1", "2"}
    for m in want:
        np.testing.assert_allclose(new[m], want[m], rtol=1e-9)
    stale = scored(old)  # built on the replaced broadcast
    for m, v in expected(feats_b, blobs_a).items():
        np.testing.assert_allclose(stale[m], v, rtol=1e-9)
