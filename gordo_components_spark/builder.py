"""ModelBuilder — the §3.1 flagship lifecycle as a user-facing API.

Reference: ``gordo_components/builder/build_model.py::ModelBuilder`` —
given one machine config: check the registry cache (O39), materialize
the dataset (O9–O18), compile the model definition (O38), fit, evaluate
with time-ordered CV (O45, thresholds O21), and dump model + metadata
(O6/D7).  The Spark restatement of *many* machines at once is
``ml/islands.py::train_models`` (one applyInPandas group per machine);
this class is the single-machine path with the registry semantics, used
by notebooks/services and the workflow loader (``workflow.py``).
"""

from __future__ import annotations

import time
from typing import Any

import numpy as np

from pyspark.sql import SparkSession

from gordo_components_spark.dataset import TimeSeriesDataset
from gordo_components_spark.plans.model_registry import ModelRegistry, calculate_model_key
from gordo_components_spark.plans.pipeline_compiler import from_definition


class ModelBuilder:
    def __init__(self, machine_config: dict, registry: ModelRegistry | None = None):
        self.machine = machine_config
        self.registry = registry

    @property
    def model_key(self) -> str:
        return calculate_model_key(self.machine)

    def build(self, spark: SparkSession, sf_dir: str) -> tuple[Any, dict]:
        """Return (model, metadata); registry cache hit skips the rebuild
        entirely (reference ``check_cache``).

        Size bound: this path collects ONE machine's aligned feature
        matrix to the driver — rows ≈ train window / resolution (e.g. a
        year at 10-minute resolution ≈ 52k rows × n_tags), mirroring the
        reference's pod-per-machine build. It is NOT the many-machine
        path: building a fleet goes through the distributed island
        (``ml/islands.py::train_models``, one executor task per machine,
        nothing driver-side)."""
        if self.registry is not None:
            cached = self.registry.check_cache(self.machine)
            if cached is not None:
                return self.registry.load(cached), self.registry.load_metadata(cached)

        t0 = time.time()
        ds_cfg = dict(self.machine["dataset"])
        dataset = TimeSeriesDataset(
            train_start_date=ds_cfg["train_start_date"],
            train_end_date=ds_cfg["train_end_date"],
            tag_list=ds_cfg["tags"],
            target_tag_list=ds_cfg.get("target_tag_list"),
            resolution=ds_cfg.get("resolution", "10T"),
            row_filter=ds_cfg.get("row_filter"),
            row_filter_buffer_size=ds_cfg.get("row_filter_buffer_size", 0),
            known_filter_periods=ds_cfg.get("known_filter_periods"),
            n_samples_threshold=ds_cfg.get("n_samples_threshold", 0),
            aggregation_methods=ds_cfg.get("aggregation_methods", "mean"),
            asset_id=ds_cfg.get("asset_id"),
        )
        # one evaluation: the O13 gate reads the collected row count
        X_df, _ = dataset.frames(spark, sf_dir)
        x_cols = [c for c in X_df.columns if c != "ts"]
        X = np.asarray(X_df.orderBy("ts").drop("ts").collect(), dtype=np.float64)
        dataset.require_samples(len(X))

        model = from_definition(self.machine["model"])
        model.fit(X)
        evaluation = dict(self.machine.get("evaluation", {"cv_mode": "full_build"}))
        cv_scores: dict = {}
        if hasattr(model, "cross_validate") and evaluation.get("cv_mode") != "no_cv":
            model.cross_validate(X)
            cv_scores = {
                "fold_mae": list(map(float, model.fold_mae_)),
                "total_threshold": float(model.total_threshold_),
                "tag_thresholds": dict(
                    zip(x_cols, map(float, model.tag_thresholds_))
                ),
            }
        metadata = {
            "machine_name": self.machine.get("name"),
            "model_key": self.model_key,
            "build_seconds": round(time.time() - t0, 3),
            "dataset": {
                "n_samples": int(X.shape[0]),
                "n_features": int(X.shape[1]),
                "feature_columns": x_cols,
                "resolution": dataset.resolution,
            },
            "cv_scores": cv_scores,
        }
        if self.registry is not None:
            self.registry.dump(self.machine, model, metadata)
        return model, metadata
