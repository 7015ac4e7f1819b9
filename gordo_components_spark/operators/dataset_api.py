"""Harness entries for the user-facing API layer (dataset/builder/workflow
— the reference's public surface, SURVEY §3.1)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gordo_components_spark.functions.timeseries import sql_over
from gordo_components_spark.registry import register

_START, _END = "2024-01-01T00:00:00Z", "2024-01-20T00:00:00Z"
_TAGS = ["click", "purchase", "view"]


@register(
    "dataset_get_data",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL '1440 minutes', CAST(ts AS TIMESTAMP)) AS ts,
             round(avg(CASE WHEN event_type = 'click'    THEN value END), 9) AS click,
             round(avg(CASE WHEN event_type = 'purchase' THEN value END), 9) AS purchase,
             round(avg(CASE WHEN event_type = 'view'     THEN value END), 9) AS view
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY 1
    )
    SELECT ts, click, purchase, view FROM w
    WHERE click IS NOT NULL AND purchase IS NOT NULL AND view IS NOT NULL
    """,
)
def dataset_get_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TimeSeriesDataset.get_data`` X-side through the public API:
    time-range scan → resample → align → dropna → projection, exactly the
    reference's dataset contract (here pooled across machines; per-asset
    adds ``asset_id=``)."""
    from gordo_components_spark.dataset import TimeSeriesDataset

    X, _ = TimeSeriesDataset(_START, _END, _TAGS, resolution="1D").get_data(spark, sf_dir)
    return X


@register("api_client_predict", oracle=None)
def api_client_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 client bulk-prediction path (rows-only): the reference's
    chunked async predict collapses to one Spark job — pushdown range
    scan → features → broadcast models → anomaly frame."""
    from gordo_components_spark.client import predict_date_range

    return predict_date_range(
        spark, sf_dir, "2024-01-08T00:00:00", "2024-01-15T00:00:00"
    )


@register("api_model_builder", oracle=None)
def api_model_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 ModelBuilder end-to-end through the public API (rows-only):
    config → dataset → compile → fit → CV thresholds → registry dump +
    cache-hit check.  Returns the build metadata as a one-row frame."""
    import tempfile

    from gordo_components_spark.builder import ModelBuilder
    from gordo_components_spark.plans.model_registry import ModelRegistry

    config = {
        "name": "machine-harness",
        "dataset": {
            "tags": _TAGS,
            "train_start_date": _START,
            "train_end_date": _END,
            "resolution": "1D",
        },
        "model": {
            "anomaly.DiffBasedAnomalyDetector": {
                "base_estimator": {
                    "pipeline.Pipeline": {
                        "steps": [
                            "preprocessing.MinMaxScaler",
                            {"models.AutoEncoder": {"compression_factor": 0.5}},
                        ]
                    }
                }
            }
        },
    }
    with tempfile.TemporaryDirectory() as d:
        reg = ModelRegistry(d)
        builder = ModelBuilder(config, registry=reg)
        _, meta = builder.build(spark, sf_dir)
        cache_hit = reg.check_cache(config) is not None
    return spark.createDataFrame(
        [
            (
                meta["machine_name"],
                meta["model_key"],
                meta["dataset"]["n_samples"],
                meta["dataset"]["n_features"],
                float(meta["cv_scores"]["total_threshold"]),
                cache_hit,
            )
        ],
        "machine string, model_key string, n_samples bigint, n_features int, "
        "total_threshold double, cache_hit boolean",
    )


# ---- workflow generation (SURVEY §3.4, reference `gordo workflow
# generate`: machine-config YAML → one training job per machine/tag) ----
#
# Machine configs are built deterministically from constants at module
# import, so the expected expansion is known statically and the oracle
# can declare it as a VALUES table: the driver then verifies that
# Spark's actual UDTF machinery (Python YAML parsing inside an
# arrow-batched lateral join) reproduces the declared job matrix.
_WF_MACHINES = {
    "machine-a": {"tags": ["click", "view"], "resolution": "10min", "kind": "feedforward", "n_splits": 3},
    "machine-b": {"tags": ["click", "purchase", "view"], "resolution": "30min", "kind": "lstm", "n_splits": 3},
    "machine-c": {"tags": ["error", "signup"], "resolution": "60min", "kind": "feedforward", "n_splits": 5},
}


def _wf_config_yaml(name: str) -> str:
    import yaml

    m = _WF_MACHINES[name]
    return yaml.safe_dump(
        {
            "name": name,
            "dataset": {"tags": m["tags"], "resolution": m["resolution"]},
            "model": {"kind": m["kind"]},
            "evaluation": {"cv_mode": "full_build", "n_splits": m["n_splits"]},
        },
        sort_keys=True,
    )


def _wf_expected_rows():
    return [
        (name, tag, m["resolution"], m["kind"], m["n_splits"])
        for name, m in sorted(_WF_MACHINES.items())
        for tag in m["tags"]
    ]


_WF_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{m}', '{t}', '{r}', '{k}', {n})" for m, t, r, k, n in _wf_expected_rows()
) + ") AS j(machine, tag, resolution, model_kind, n_splits)"


@register("udtf_workflow_expand", oracle=_WF_ORACLE)
def udtf_workflow_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.4 `gordo workflow generate` restated: machine-config YAML in,
    one row per (machine, tag) training job out — the job matrix the
    reference hands to Argo, here the frame a scheduler hands to
    `groupBy(machine).applyInPandas(train)`.  Implemented as a Python
    UDTF in a LATERAL join (the §2.10 table-function surface): YAML
    parsing is genuinely Python, and it runs at the metadata layer
    (hundreds of configs), never the data hot path.

    The UDTF is arrow-batched (``useArrow=True`` →
    ``ArrowEvalPythonUDTF`` — the sanctioned island node, NOT the
    row-wise ``BatchEvalPython`` the plan audit hard-fails).  The
    oracle is the statically-known job matrix: configs are module-level
    constants, so the driver checks that the real UDTF machinery
    reproduces the declared expansion bit-for-bit."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="machine string, tag string, resolution string, "
        "model_kind string, n_splits int",
        useArrow=True,
    )
    class WorkflowExpand:
        def eval(self, name: str, cfg_yaml: str):
            import yaml

            cfg = yaml.safe_load(cfg_yaml)
            for tag in cfg["dataset"]["tags"]:
                yield (
                    cfg["name"],
                    tag,
                    cfg["dataset"]["resolution"],
                    cfg["model"]["kind"],
                    int(cfg["evaluation"]["n_splits"]),
                )

    spark.udtf.register("workflow_expand", WorkflowExpand)
    configs = spark.createDataFrame(
        [(n, _wf_config_yaml(n)) for n in sorted(_WF_MACHINES)],
        "name string, cfg string",
    )
    return sql_over(
        configs, lambda v: f"SELECT f.* FROM {v} c, LATERAL workflow_expand(c.name, c.cfg) f"
    )
