"""Client path — §3.3 restated: bulk scoring over a date range.

Reference: ``gordo_components/client/client.py`` — ``make_date_ranges``
chunks [start, end) into windows, an aiohttp pool POSTs each chunk to
the model server, and a forwarder writes results to Influx.  On Spark
the client machinery *disappears*: chunking ≡ partitioning, async
fan-out ≡ task parallelism, the forwarder ≡ ``df.write`` — one job.

``make_date_ranges`` is kept for API parity (callers use it to iterate
re-scoring jobs); ``predict_date_range`` is the whole §3.3 pipeline.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

from gordo_components_spark.ml.islands import machine_features, score_models, trained_blob_map


def make_date_ranges(
    start: str | datetime, end: str | datetime, max_interval_days: int = 7
) -> list[tuple[datetime, datetime]]:
    """Chunk [start, end) into ≤max_interval windows (reference
    ``client.client``).  On Spark these drive *job* boundaries (e.g. one
    backfill job per week), not request boundaries."""

    def parse(v):
        if isinstance(v, str):
            v = datetime.fromisoformat(v.replace("Z", "+00:00"))
        return v if v.tzinfo else v.replace(tzinfo=timezone.utc)

    t0, t1 = parse(start), parse(end)
    if t0 >= t1:
        raise ValueError("start must be before end")
    step = timedelta(days=max_interval_days)
    out = []
    while t0 < t1:
        out.append((t0, min(t0 + step, t1)))
        t0 += step
    return out


def predict_date_range(
    spark: SparkSession,
    sf_dir: str,
    start: str,
    end: str,
    duration: str = "60 minutes",
) -> DataFrame:
    """Score every machine over [start, end): the machine features of the
    pushdown range scan (one SQL text) → broadcast batch-trained models →
    anomaly frame.  No Spark job runs before the caller's action once the
    trained models are cached.  The write step is the caller's
    ``df.write.parquet`` (O7)."""
    feats = machine_features(spark, sf_dir, duration, start, end)
    return score_models(feats, trained_blob_map(spark, sf_dir, duration))


def watchman_status(registry) -> list[dict]:
    """Watchman analog (reference ``watchman/``): per-deployed-model
    status from the registry — key, machine name, build health."""
    import json
    import os

    out = []
    for key in sorted(os.listdir(registry.root)):
        meta_path = os.path.join(registry.root, key, "metadata.json")
        if not os.path.isfile(meta_path):
            continue
        with open(meta_path) as f:
            meta = json.load(f)
        out.append(
            {
                "model_key": key,
                "machine": meta.get("machine_config", {}).get("name"),
                "healthy": os.path.isfile(os.path.join(registry.root, key, "model.pkl")),
                "n_samples": meta.get("dataset", {}).get("n_samples"),
            }
        )
    return out
