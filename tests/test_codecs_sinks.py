"""O7/O8 tests: wire codec roundtrips are lossless, prediction sink
re-reads complete, foreachBatch streaming scoring matches batch scoring."""

from gordo_components_spark.registry import load_all


def test_codec_roundtrip_flags_true(spark, sf_dir):
    row = load_all()["codec_roundtrip"].fn(spark, sf_dir).collect()[0]
    assert row["json_roundtrip"] is True
    assert row["parquet_roundtrip"] is True
    assert row["parquet_bytes"] > 0


def test_prediction_sink_roundtrip(spark, sf_dir):
    df = load_all()["sink_predictions_parquet"].fn(spark, sf_dir)
    assert df.count() > 0
    assert set(df.columns) >= {"machine", "bucket", "total_anomaly", "is_anomaly"}


def test_streaming_scoring_matches_batch(spark, sf_dir):
    from gordo_components_spark.ml.islands import machine_features, score_models, train_models
    from gordo_components_spark.streaming.micro_batch import run_streaming_scoring

    streamed = run_streaming_scoring(spark, sf_dir).toPandas()
    feats = machine_features(spark, sf_dir)
    blobs = {r["machine"]: r["model_pkl_b64"] for r in train_models(feats).collect()
             if r["status"] == "ok"}
    batch = score_models(feats, blobs).toPandas()
    # micro-batches may split a machine's buckets across file boundaries;
    # with the fixture replay (3 files of a month each covering the whole
    # range randomly, processed in one availableNow batch) counts match.
    assert len(streamed) == len(batch)
    key = ["machine", "bucket"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert (s["is_anomaly"] == b["is_anomaly"]).all()


def test_wire_codecs_bounded(spark):
    # r2 verdict item 7: the codecs are driver-side payloads — past the
    # documented bound they must raise, not silently OOM the driver
    import pytest

    from gordo_components_spark.functions.codecs import (
        dataframe_into_parquet_bytes,
        dataframe_to_dict,
    )

    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    with pytest.raises(ValueError, match="exceeds 10 rows"):
        dataframe_to_dict(df, max_rows=10)
    with pytest.raises(ValueError, match="exceeds 10 rows"):
        dataframe_into_parquet_bytes(df, max_rows=10)
    # within the bound both faces still round-trip
    assert len(dataframe_to_dict(df, max_rows=50)["data"]) == 50
    assert dataframe_into_parquet_bytes(df, max_rows=50)[:4] == b"PAR1"
