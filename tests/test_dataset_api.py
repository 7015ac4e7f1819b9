"""User-facing API tests: TimeSeriesDataset / ModelBuilder / workflow
loader (reference ``tests/.../dataset/test_dataset.py``,
``builder/test_builder.py``, workflow tests; FIXTURES B1/B3 semantics)."""

import pytest

from gordo_components_spark.builder import ModelBuilder
from gordo_components_spark.dataset import (
    InsufficientDataError,
    SensorTag,
    TimeSeriesDataset,
    normalize_sensor_tags,
    resolution_to_duration,
)
from gordo_components_spark.plans.model_registry import ModelRegistry
from gordo_components_spark.workflow import ConfigError, load_config

START, END = "2024-01-01T00:00:00Z", "2024-01-20T00:00:00Z"
TAGS = ["click", "view", "purchase"]


def test_normalize_sensor_tags_forms():
    tags = normalize_sensor_tags(
        ["T1", {"name": "T2", "asset": "a2"}, SensorTag("T3", "a3"), ("T4", "a4")],
        asset="dflt",
    )
    assert tags == [
        SensorTag("T1", "dflt"),
        SensorTag("T2", "a2"),
        SensorTag("T3", "a3"),
        SensorTag("T4", "a4"),
    ]
    with pytest.raises(ValueError):
        normalize_sensor_tags([42])


def test_resolution_mapping():
    assert resolution_to_duration("10T") == "10 minutes"
    assert resolution_to_duration("1H") == "1 hours"
    assert resolution_to_duration("30S") == "30 seconds"
    with pytest.raises(ValueError):
        resolution_to_duration("10X")


def test_tz_naive_rejected():
    with pytest.raises(ValueError, match="timezone-aware"):
        TimeSeriesDataset("2024-01-01T00:00:00", END, TAGS)


def test_reversed_range_rejected():
    with pytest.raises(ValueError, match="before"):
        TimeSeriesDataset(END, START, TAGS)


def test_get_data_aligned_and_projected(spark, sf_dir):
    ds = TimeSeriesDataset(
        START, END, TAGS, target_tag_list=["purchase"], resolution="1D"
    )
    X, y = ds.get_data(spark, sf_dir)
    assert X.columns == ["ts"] + TAGS
    assert y.columns == ["ts", "purchase"]
    # inner alignment: no nulls survive
    n = X.count()
    assert n > 0 and X.dropna().count() == n


def test_multi_agg_flattens(spark, sf_dir):
    ds = TimeSeriesDataset(START, END, ["click"], resolution="1D",
                           aggregation_methods=["mean", "max"])
    X, _ = ds.get_data(spark, sf_dir)
    assert X.columns == ["ts", "click__avg", "click__max"]


def test_row_filter_applied(spark, sf_dir):
    base = TimeSeriesDataset(START, END, TAGS, resolution="1D")
    filt = TimeSeriesDataset(START, END, TAGS, resolution="1D",
                             row_filter="`click` > 100")
    n_base = base.get_data(spark, sf_dir)[0].count()
    filtered = filt.get_data(spark, sf_dir)[0]
    assert 0 < filtered.count() < n_base
    assert filtered.where("click <= 100").count() == 0


def test_row_filter_buffer_matches_global_window(spark, sf_dir):
    """_buffered_filter (distributed block-overlap form) must be
    row-identical to the single-partition global window it replaced."""
    from gordo_components_spark.dataset import _buffered_filter

    ds = TimeSeriesDataset(START, "2024-02-20T00:00:00Z", TAGS, resolution="1H")
    wide = ds._wide(spark, sf_dir)
    for pred, b in [("click > 5.0", 2), ("click > 2.0", 5)]:
        new = _buffered_filter(wide, pred, b)
        old = _global_window(wide, pred, b)
        assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0
        assert 0 < new.count() < wide.count()  # non-vacuous: partial drop


def _global_window(wide, pred, b):
    """The single-partition reference ``_buffered_filter`` replaced."""
    from pyspark.sql import functions as F

    return (
        wide.withColumn("__ok", F.when(F.expr(pred), 1).otherwise(0))
        .withColumn(
            "__keep",
            F.expr(f"MIN(__ok) OVER (ORDER BY ts ROWS BETWEEN {b} PRECEDING AND {b} FOLLOWING)"),
        )
        .where("__keep = 1")
        .drop("__ok", "__keep")
    )


def _matrix(spark, n, failing):
    """n-row aligned matrix, one row per minute; ``x`` is 0 exactly at
    the row indices in ``failing`` (the rows ``x > 0`` rejects)."""
    from pyspark.sql import functions as F

    bad = F.col("id").isin(sorted(failing)) if failing else F.lit(False)
    return spark.range(n).select(
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        F.when(bad, 0.0).otherwise(1.0).alias("x"),
    )


@pytest.mark.parametrize("b", [1, 7, 63])
def test_buffered_filter_exact_across_block_edges(spark, b):
    """Failing rows sit on both sides of every block edge the index is cut
    at (B = max(64, 8b)): the edge copies must supply each neighbor."""
    from gordo_components_spark.dataset import _buffered_filter

    block = max(64, 8 * b)
    n = 4 * block + 37
    failing = {0, n - 1} | {k * block + d for k in (1, 2, 3) for d in (-1, 0)}
    wide = _matrix(spark, n, failing)
    got = [r.ts for r in _buffered_filter(wide, "x > 0", b).orderBy("ts").collect()]
    want = [r.ts for r in _global_window(wide, "x > 0", b).orderBy("ts").collect()]
    assert got == want and 0 < len(got) < n


def test_buffered_filter_empty_partitions(spark):
    """Fewer rows than range partitions leaves partitions empty (no
    offset entry); an empty matrix yields no partition at all."""
    from gordo_components_spark.dataset import _buffered_filter

    wide = _matrix(spark, 5, {2})
    assert wide.sparkSession.sparkContext.defaultParallelism > 5
    got = [r.ts for r in _buffered_filter(wide, "x > 0", 1).orderBy("ts").collect()]
    want = [r.ts for r in _global_window(wide, "x > 0", 1).orderBy("ts").collect()]
    assert got == want and len(got) == 2
    assert _buffered_filter(wide.limit(0), "x > 0", 1).count() == 0


def _long(spark):
    """Hourly buckets 0-5 over long-format readings: ``a`` twice per
    bucket, ``b`` once (plus a NULL reading in bucket 5), ``c`` in even
    buckets only, ``d`` a NULL reading in bucket 1 and a value in 3.
    Tags that SQL text must quote: ``it's`` and ``p q`` once per bucket,
    ``x-y`` in even buckets, ``a`b`` and ``e\\f`` in odd ones."""
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    for h in range(6):
        at = lambda m: t0 + timedelta(hours=h, minutes=m)  # noqa: E731
        rows += [(at(5), "a", h + 0.25), (at(35), "a", h + 0.75), (at(10), "b", 2.0 * h)]
        rows += [(at(15), "it's", h + 0.5), (at(45), "p q", 3.0 * h)]
        if h % 2 == 0:
            rows.append((at(20), "c", -1.0 * h))
            rows.append((at(25), "x-y", 10.0 + h))
        else:
            rows += [(at(30), "a`b", -2.0 * h), (at(40), "e\\f", 0.5 * h)]
    rows += [(t0 + timedelta(hours=5, minutes=40), "b", None),
             (t0 + timedelta(hours=1, minutes=50), "d", None),
             (t0 + timedelta(hours=3, minutes=50), "d", 1.0)]
    return spark.createDataFrame(rows, "ts timestamp, tag string, value double")


@pytest.mark.parametrize(
    "tags, methods",
    [
        (["a", "b", "d"], ["count"]),
        (["b", "c"], ["first"]),
        (["b", "c"], ["last"]),
        (["a", "b", "c"], ["mean", "count"]),
        (["b", "c"], ["first", "last", "max", "median"]),
        (["a", "it's", "p q", "x-y"], ["mean", "count"]),
        (["a`b", "e\\f", "it's"], ["last", "max"]),
    ],
)
def test_fused_wide_matches_pivot_reference(spark, tags, methods):
    """The one-aggregation ``_wide`` equals resample → ``groupBy.pivot``
    (the plan it replaced), cell for cell, where tags are missing from
    some buckets: a missing tag still drops the bucket (``count`` stays
    NULL there, yet 0 where the tag has only NULL readings)."""
    from pyspark.sql import functions as F

    long_df = _long(spark)
    ds = TimeSeriesDataset(START, END, tags, resolution="1H",
                           aggregation_methods=methods, provider=lambda _: long_df)
    methods = ds.aggregation_methods  # "mean" → "avg"
    per_tag = [
        (F.round(F.expr(f"{m}(value)"), 9) if m == "avg" else F.expr(f"{m}(value)")).alias(m)
        for m in methods
    ]
    ref = (
        long_df.groupBy(F.window("ts", "1 hour").alias("w"), "tag")
        .agg(*per_tag)
        .groupBy(F.col("w.start").alias("ts"))
        .pivot("tag", sorted(tags))
        .agg(*[F.first(m).alias(m) for m in methods])
    )
    # dropna by position: name-based dropna parses each pivoted column
    # name as an attribute name and rejects one like ``a`b``
    ref = ref.toDF(*(f"c{i}" for i in range(len(ref.columns)))).dropna()
    got = ds._wide(spark, "")
    assert len(got.columns) == len(ref.columns)
    want = sorted(tuple(r) for r in ref.collect())
    assert sorted(tuple(r) for r in got.collect()) == want and want


def test_insufficient_data_gate(spark, sf_dir):
    ds = TimeSeriesDataset(START, END, TAGS, resolution="1D",
                           n_samples_threshold=10**9)
    with pytest.raises(
        InsufficientDataError,
        match=r"^\d+ rows after filtering < n_samples_threshold=1000000000$",
    ):
        ds.get_data(spark, sf_dir)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_get_data_lazy_without_threshold(spark, sf_dir):
    """At the default threshold 0 the gate can never fire, so ``get_data``
    must not evaluate the plan; a positive threshold counts once."""
    kw = dict(resolution="1D", row_filter="`click` > 100")
    TimeSeriesDataset(START, END, TAGS, **kw).get_data(spark, sf_dir)  # warm the scan
    before = _jobs(spark)
    X, _ = TimeSeriesDataset(START, END, TAGS, **kw).get_data(spark, sf_dir)
    assert _jobs(spark) == before
    TimeSeriesDataset(START, END, TAGS, n_samples_threshold=1, **kw).get_data(spark, sf_dir)
    assert _jobs(spark) > before


def test_model_builder_sparse_window_raises(spark, sf_dir):
    """The builder gates the row count it collected, with the message
    ``get_data`` raises."""
    cfg = {**MACHINE_CONFIG, "dataset": {**MACHINE_CONFIG["dataset"],
                                         "n_samples_threshold": 10**6}}
    with pytest.raises(
        InsufficientDataError,
        match=r"^\d+ rows after filtering < n_samples_threshold=1000000$",
    ):
        ModelBuilder(cfg).build(spark, sf_dir)


MACHINE_CONFIG = {
    "name": "machine-a",
    "dataset": {
        "tags": TAGS,
        "train_start_date": START,
        "train_end_date": END,
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
    "evaluation": {"cv_mode": "full_build", "n_splits": 3},
}


def test_model_builder_end_to_end(spark, sf_dir, tmp_path):
    reg = ModelRegistry(str(tmp_path))
    builder = ModelBuilder(MACHINE_CONFIG, registry=reg)
    model, meta = builder.build(spark, sf_dir)
    assert meta["cv_scores"]["total_threshold"] > 0
    assert meta["dataset"]["n_samples"] > 0
    assert reg.check_cache(MACHINE_CONFIG) == builder.model_key
    # second build: cache hit returns persisted metadata (no rebuild)
    _, meta2 = builder.build(spark, sf_dir)
    assert meta2["model_key"] == meta["model_key"]


def test_workflow_loader_normalizes_and_validates():
    cfg = """
globals:
  dataset: {resolution: "1D"}
machines:
  - name: machine-a
    dataset: {tags: [click, view], train_start_date: "2024-01-01T00:00:00Z",
              train_end_date: "2024-01-20T00:00:00Z"}
  - name: machine-b
    dataset: {tags: [purchase], resolution: "1H",
              train_start_date: "2024-01-01T00:00:00Z",
              train_end_date: "2024-01-20T00:00:00Z"}
"""
    machines = load_config(cfg)
    assert [m.name for m in machines] == ["machine-a", "machine-b"]
    assert machines[0].dataset["resolution"] == "1D"  # global applied
    assert machines[1].dataset["resolution"] == "1H"  # override wins
    assert machines[0].model  # default model injected
    assert machines[0].evaluation["n_splits"] == 3


@pytest.mark.parametrize(
    "name", ["Machine-A", "1machine", "bad_name", "x" * 64, "trailing-"]
)
def test_workflow_loader_rejects_bad_names(name):
    cfg = f"""
machines:
  - name: {name}
    dataset: {{tags: [click], train_start_date: "2024-01-01T00:00:00Z",
               train_end_date: "2024-01-02T00:00:00Z"}}
"""
    with pytest.raises(ConfigError):
        load_config(cfg)


def test_time_bounds_accept_datetimes_and_convert_offsets(spark, sf_dir):
    """Review-hardened bound contract: datetime objects work (YAML
    resolves unquoted timestamps to datetimes), and an offset-bearing
    bound selects the same rows as its UTC equivalent (the offset used
    to be silently discarded, shifting the window)."""
    from datetime import datetime, timedelta, timezone

    from gordo_components_spark.sources.tables import load_events_in_range

    lo_utc = "2024-01-05T00:00:00"
    hi_utc = "2024-01-06T00:00:00"
    base = load_events_in_range(spark, sf_dir, lo_utc, hi_utc).count()
    # same instants as datetimes
    as_dt = load_events_in_range(
        spark,
        sf_dir,
        datetime(2024, 1, 5, tzinfo=timezone.utc),
        datetime(2024, 1, 6, tzinfo=timezone.utc),
    ).count()
    # same instants expressed in +02:00 wall clock
    tz2 = timezone(timedelta(hours=2))
    as_offset = load_events_in_range(
        spark,
        sf_dir,
        datetime(2024, 1, 5, 2, 0, tzinfo=tz2),
        datetime(2024, 1, 6, 2, 0, tzinfo=tz2),
    ).count()
    assert base == as_dt == as_offset and base > 0
