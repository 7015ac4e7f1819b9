"""Client-path tests (§3.3): date-range chunking, bulk predict, watchman."""

import pytest

from gordo_components_spark.client import make_date_ranges, predict_date_range, watchman_status


def test_make_date_ranges_chunks_and_validates():
    ranges = make_date_ranges("2024-01-01T00:00:00Z", "2024-01-20T00:00:00Z", 7)
    assert len(ranges) == 3
    assert ranges[0][0].isoformat().startswith("2024-01-01")
    assert ranges[-1][1].isoformat().startswith("2024-01-20")
    # contiguous, non-overlapping
    for (_, e0), (s1, _) in zip(ranges, ranges[1:]):
        assert e0 == s1
    with pytest.raises(ValueError):
        make_date_ranges("2024-02-01T00:00:00Z", "2024-01-01T00:00:00Z")


def test_predict_date_range_scores_window_only(spark, sf_dir):
    scored = predict_date_range(spark, sf_dir, "2024-01-08T00:00:00", "2024-01-15T00:00:00")
    pdf = scored.toPandas()
    assert len(pdf) > 0
    assert pdf["bucket"].min().isoformat() >= "2024-01-08"
    assert pdf["bucket"].max().isoformat() < "2024-01-15"


def test_predict_date_range_runs_no_job_before_collect(spark, sf_dir):
    """Scoring reads the trained models as the cached machine→blob map:
    building the request starts no Spark job (collecting them back from a
    models frame started one)."""
    start, end = "2024-01-08T00:00:00", "2024-01-15T00:00:00"
    predict_date_range(spark, sf_dir, start, end).collect()  # warm the model cache
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    scored = predict_date_range(spark, sf_dir, start, end)
    assert dag.numTotalJobs() == before
    assert scored.count() > 0


def test_watchman_status_lists_registry(spark, sf_dir, tmp_path):
    from gordo_components_spark.builder import ModelBuilder
    from gordo_components_spark.plans.model_registry import ModelRegistry
    from tests.test_dataset_api import MACHINE_CONFIG

    reg = ModelRegistry(str(tmp_path))
    ModelBuilder(MACHINE_CONFIG, registry=reg).build(spark, sf_dir)
    status = watchman_status(reg)
    assert len(status) == 1
    assert status[0]["machine"] == "machine-a"
    assert status[0]["healthy"] is True
    assert status[0]["n_samples"] > 0
