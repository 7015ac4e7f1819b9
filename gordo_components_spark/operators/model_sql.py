"""SQL-expressible faces of the model plane (SURVEY §2.10).

The model plane proper (Keras/sklearn fit+predict) lives in ``ml/`` as
pandas-UDF islands; these queries declare the *column-algebra* halves the
reference implements around the estimator — scaling (O40), anomaly
scoring given ŷ (O44), CV fold metrics (O45) and grouped normalization
(O46) — so the driver's oracle can hash-check them.  This split is the
point of the design: everything around the estimator is native Spark
expressions reused verbatim by batch and streaming paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.functions.timeseries import pivot_wide, pivot_wide_sql
from gordo_components_spark.operators.relational import _fshift, _fshift_expr
from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table


# Two bodies: the Spark body is a pandas UDF.
@register(
    "udf_minmax_scale",
    oracle="""
    WITH stats AS (
      SELECT event_id, event_type, value,
             min(value) OVER (PARTITION BY event_type) AS v_min,
             max(value) OVER (PARTITION BY event_type) AS v_max
      FROM events
    )
    SELECT event_id, event_type,
           round((value - v_min) / NULLIF(v_max - v_min, 0.0), 9) AS value_scaled
    FROM stats
    """,
)
def udf_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O40 MinMaxScaler as column algebra: (x−min)/(max−min) per tag.
    MLlib's MinMaxScaler model is the fitted form; the transform is this
    exact expression, shared with the DuckDB oracle.  Per-row division is
    IEEE-exact; min/max are exact — only the output is rounded."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.select(
        "event_id",
        "event_type",
        "value",
        F.expr("min(value) OVER (PARTITION BY event_type)").alias("v_min"),
        F.expr("max(value) OVER (PARTITION BY event_type)").alias("v_max"),
    )
    return stats.select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - F.col("v_min")) / F.nullif(F.col("v_max") - F.col("v_min"), F.lit(0.0)),
            9,
        ).alias("value_scaled"),
    )


# Two bodies: the Spark body is a pandas UDF.
@register(
    "udf_group_normalize",
    oracle="""
    WITH stats AS (
      SELECT event_id, user_id, value,
             round(avg(value) OVER (PARTITION BY user_id), 9) AS mu,
             round(stddev_samp(value) OVER (PARTITION BY user_id), 9) AS sigma
      FROM events
    )
    SELECT event_id, user_id,
           round((value - mu) / NULLIF(sigma, 0.0), 6) AS value_z
    FROM stats
    """,
)
def udf_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O46 grouped-map normalize: per-machine standardization.  The
    canonical applyInPandas demo — expressed here as window algebra (no
    Python in the hot path); ``ml/islands.py`` carries the pandas-UDF
    form for the shapes SQL can't do."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.expr("avg(value) OVER (PARTITION BY user_id)"), 9).alias("mu"),
        F.round(F.expr("stddev_samp(value) OVER (PARTITION BY user_id)"), 9).alias("sigma"),
    )
    return stats.select(
        "event_id",
        "user_id",
        F.round((F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0)), 6).alias(
            "value_z"
        ),
    )


_TAGS3 = ("click", "purchase", "view")


@register(
    "udaf_anomaly_score",
    oracle=f"""
    WITH {pivot_wide_sql(1440)},
    complete AS (
      SELECT * FROM wide
      WHERE {" AND ".join(f"evt_{t} IS NOT NULL" for t in _TAGS3)}
    ), pred AS (
      SELECT user_id, bucket,
             {", ".join(f"evt_{t}" for t in _TAGS3)},
             {", ".join(f"round(avg(evt_{t}) OVER (PARTITION BY user_id), 9) AS yhat_{t}" for t in _TAGS3)}
      FROM complete
    ), err AS (
      SELECT user_id, bucket,
             {", ".join(f"round(abs(evt_{t} - yhat_{t}), 9) AS err_{t}" for t in _TAGS3)}
      FROM pred
    )
    SELECT user_id, bucket,
           {", ".join(f"round(err_{t}, 6) AS tag_anomaly_{t}" for t in _TAGS3)},
           round(sqrt({" + ".join(f"err_{t} * err_{t}" for t in _TAGS3)}), 6) AS total_anomaly
    FROM err
    """,
)
def udaf_anomaly_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O44 DiffBasedAnomalyDetector.anomaly as pure column algebra, given
    a precomputed ŷ stand-in (per-machine mean — a linear model):
    per-tag ``err = |y − ŷ|`` and aggregate L2 norm across tags
    (reference emits the D6 MultiIndex frame: ``tag-anomaly-*`` +
    ``total-anomaly``; flattened names here per SURVEY §1.2)."""
    wide = pivot_wide(load_table(spark, sf_dir, "events"), "1440 minutes")
    complete = wide.dropna(subset=[f"evt_{t}" for t in _TAGS3])
    pred = complete.select(
        "user_id",
        "bucket",
        *[F.col(f"evt_{t}") for t in _TAGS3],
        *[
            F.round(F.expr(f"avg(evt_{t}) OVER (PARTITION BY user_id)"), 9).alias(f"yhat_{t}")
            for t in _TAGS3
        ],
    )
    err = pred.select(
        "user_id",
        "bucket",
        *[
            F.round(F.abs(F.col(f"evt_{t}") - F.col(f"yhat_{t}")), 9).alias(f"err_{t}")
            for t in _TAGS3
        ],
    )
    l2 = F.sqrt(sum(F.col(f"err_{t}") * F.col(f"err_{t}") for t in _TAGS3))
    return err.select(
        "user_id",
        "bucket",
        *[F.round(F.col(f"err_{t}"), 6).alias(f"tag_anomaly_{t}") for t in _TAGS3],
        F.round(l2, 6).alias("total_anomaly"),
    )


# Decimal-routed means throughout: avg-of-doubles is engine-order
# dependent at ~1 ulp, enough to flip round() boundaries at sf0.1+;
# exact decimal numerators / counts are bit-identical (scales sized so
# numerators stay under 2^53 — decimal→double is then exact too).  The
# outputs floor-shift, not round(): engines disagree on exact half-ties
# (Spark rounds the shortest decimal repr, DuckDB multiplies).
_CV_MAE = (
    "CAST(SUM(CAST(abs(f.value - m.fold_mean) AS DECIMAL(30,8))) AS DOUBLE)"
    " / COUNT(*)"
)
_CV_RMSE = (
    "sqrt(CAST(SUM(CAST((f.value - m.fold_mean) * (f.value - m.fold_mean)"
    " AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*))"
)


register_sql(
    "udaf_ts_cv_metrics",
    f"""
    WITH folds AS (
      SELECT user_id, value,
             CAST(ntile(3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS fold
      FROM events
    ), mu AS (
      SELECT user_id, fold,
             round(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 9) AS fold_mean
      FROM folds GROUP BY user_id, fold
    )
    SELECT f.user_id, f.fold,
           COUNT(*) AS n,
           {_fshift(_CV_MAE, 'mae')},
           {_fshift(_CV_RMSE, 'rmse')}
    FROM folds f JOIN mu m ON f.user_id = m.user_id AND f.fold = m.fold
    GROUP BY f.user_id, f.fold
    """,
    doc="""O45 TimeSeriesSplit CV metrics: time-ordered ntile(3) fold
    assignment per machine, then per-fold MAE/RMSE against the fold-mean
    predictor (reference ``cross_validate`` + ``metric_wrapper``).  The
    real estimator CV runs in ``ml/islands.py``; fold bookkeeping and
    metric aggregation stay native.""",
)


# ---- distribution drift (train window vs serve window) -------------------
#
# The fixture spans 2024-01: train = first half, serve = second half.
# 10 fixed-width value bins over [0, 500); the per-bin chi-square-style
# term (p-q)^2/(p+q) is computed from INTEGER counts via the common-
# denominator identity (c*m - d*n)^2 / (n*m*(c*m + d*n)) — every operand
# below 2^53 enters float exactly, the remaining multiplies/divide are
# per-row IEEE ops on identical inputs, so both engines produce the
# bit-identical double before the floor-shift.  No transcendentals (a
# PSI's ln(p/q) would diverge between libm builds — CLAUDE.md rule).
# Single source of truth for the train/serve boundary: the plain string
# feeds load_events_in_range (streaming CUSUM baseline) and the
# TIMESTAMP literal feeds every batch drift face — one constant, so the
# streaming baseline can never silently diverge from the batch split.
_DRIFT_SPLIT_TS = "2024-01-16 00:00:00"
_DRIFT_SPLIT = f"TIMESTAMP '{_DRIFT_SPLIT_TS}'"
_DRIFT_COUNTS_SQL = f"""
    e AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS TIMESTAMP) < {_DRIFT_SPLIT} THEN 1 ELSE 0 END AS is_train,
             LEAST(9, CAST(floor(value / 50.0) AS INT)) AS bin
      FROM events
    ), c AS (
      SELECT event_type, bin,
             CAST(SUM(is_train) AS BIGINT) AS c_train,
             CAST(SUM(1 - is_train) AS BIGINT) AS c_serve
      FROM e GROUP BY event_type, bin
    ), t AS (
      SELECT event_type,
             CAST(SUM(c_train) AS BIGINT) AS n_train,
             CAST(SUM(c_serve) AS BIGINT) AS n_serve
      FROM c GROUP BY event_type
    ), terms AS (
      SELECT c.event_type, c.bin, c.c_train, c.c_serve, t.n_train, t.n_serve,
             (CAST(c_train * n_serve - c_serve * n_train AS DOUBLE)
              * CAST(c_train * n_serve - c_serve * n_train AS DOUBLE))
             / (CAST(n_train AS DOUBLE) * CAST(n_serve AS DOUBLE)
                * CAST(c_train * n_serve + c_serve * n_train AS DOUBLE)) AS term
      FROM c JOIN t ON c.event_type = t.event_type
      WHERE t.n_train > 0 AND t.n_serve > 0
    )
"""


def _drift_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared core of the drift family: per-(tag, bin) integer counts in
    the train/serve windows, tag totals broadcast back, and the per-bin
    chi-square-style term (see the block comment above)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.expr(f"CASE WHEN ts < {_DRIFT_SPLIT} THEN 1 ELSE 0 END").alias("is_train"),
        F.expr("LEAST(9, CAST(floor(value / 50.0) AS INT))").alias("bin"),
    )
    c = e.groupBy("event_type", "bin").agg(
        F.expr("CAST(SUM(is_train) AS BIGINT)").alias("c_train"),
        F.expr("CAST(SUM(1 - is_train) AS BIGINT)").alias("c_serve"),
    )
    t = c.groupBy("event_type").agg(
        F.expr("CAST(SUM(c_train) AS BIGINT)").alias("n_train"),
        F.expr("CAST(SUM(c_serve) AS BIGINT)").alias("n_serve"),
    )
    terms = (
        c.join(F.broadcast(t), "event_type")
        .where((F.col("n_train") > 0) & (F.col("n_serve") > 0))
        .withColumn(
            "term",
            F.expr(
                "(CAST(c_train * n_serve - c_serve * n_train AS DOUBLE)"
                " * CAST(c_train * n_serve - c_serve * n_train AS DOUBLE))"
                " / (CAST(n_train AS DOUBLE) * CAST(n_serve AS DOUBLE)"
                "    * CAST(c_train * n_serve + c_serve * n_train AS DOUBLE))"
            ),
        )
    )
    return terms


register_sql(
    "ml_drift_bins",
    f"""
    WITH {_DRIFT_COUNTS_SQL}
    SELECT event_type, bin, c_train, c_serve,
           {_fshift('CAST(c_train AS DOUBLE) / n_train', 'p_train')},
           {_fshift('CAST(c_serve AS DOUBLE) / n_serve', 'p_serve')},
           {_fshift('term', 'drift_term')}
    FROM terms
    """,
    doc="""Model-drift histogram — the MLOps check between O39's registry and
    O43's batch scorer: per (tag, value-bin), the train-window vs
    serve-window rates and the bin's chi-square-style drift contribution.
    A serving pipeline alerts (and triggers rebuild, reference
    ``watchman`` role) when a tag's summed contribution crosses a
    threshold.

    One scan, two groupBys (bin grid, then tag totals), one broadcast-
    size join back — counts are integers end-to-end, so the rates and
    terms are bit-identical doubles before the floor-shift (see module
    comment).""",
)


@register(
    "ml_drift_score",
    oracle=f"""
    WITH {_DRIFT_COUNTS_SQL}
    SELECT event_type,
           CAST(MAX(n_train) AS BIGINT) AS n_train,
           CAST(MAX(n_serve) AS BIGINT) AS n_serve,
           {_fshift('list_reduce(list(term ORDER BY bin), (a, b) -> a + b)',
                      'drift_score')},
           (list_reduce(list(term ORDER BY bin), (a, b) -> a + b) > 0.05)
             AS needs_rebuild
    FROM terms
    GROUP BY event_type
    """,
)
def ml_drift_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tag scalar drift score: the sum of ``ml_drift_bins``'s
    chi-square-style contributions, plus the rebuild flag the watchman
    consumes.  The cross-bin sum is an ORDERED left fold (sort by bin,
    then aggregate) on BOTH engines — a plain SUM() would accumulate in
    partition order and the two engines' ulp noise would disagree at
    the floor boundary; folding ≤10 bit-identical terms in a fixed
    order is itself bit-identical, so the score needs no tolerance."""
    terms = _drift_terms(spark, sf_dir)
    folded = (
        "aggregate(array_sort(collect_list(struct(bin, term))),"
        " CAST(0 AS DOUBLE), (a, x) -> a + x.term)"
    )
    return terms.groupBy("event_type").agg(
        F.expr("CAST(MAX(n_train) AS BIGINT)").alias("n_train"),
        F.expr("CAST(MAX(n_serve) AS BIGINT)").alias("n_serve"),
        F.expr(_fshift_expr(folded)).alias("drift_score"),
        F.expr(f"({folded} > 0.05)").alias("needs_rebuild"),
    )


# Exact two-sample Kolmogorov–Smirnov drift (the distribution-free
# companion to the binned chi-square faces above — 10 fixed bins can
# hide a shape shift inside one bin; KS compares the FULL empirical
# CDFs).  D = max_x |F_train(x) − F_serve(x)| evaluated at every
# observed value.  Scale shape: never a per-row sort — the 2-dp-exact
# readings collapse to a per-(tag, v100) count HISTOGRAM (combinable
# groupBy; the integer value domain caps per-tag cardinality regardless
# of row count, the pipe_quality_trim pass-1 pattern), the ECDFs are
# cumulative windows over THAT histogram, and the closing per-tag max
# reuses the same partitioning (no second exchange).  Exactness: the
# supremum is found on the integer numerator |cum_t·n_s − cum_s·n_t|
# (≤ n_t·n_s < 2⁶³ to ~3·10⁹ rows per side per tag) — no float ever
# decides the argmax or the drift flag (10·ks_num > n_t·n_s is the
# cross-multiplied D > 0.1); only the report ratio is floor-shifted.
_KS_W = "PARTITION BY event_type"
_KS_CUM = f"{_KS_W} ORDER BY v100 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


register_sql(
    "ml_drift_ks",
    f"""
    WITH e AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS TIMESTAMP) < {_DRIFT_SPLIT} THEN 1 ELSE 0 END AS is_train,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), h AS (
      SELECT event_type, v100,
             CAST(SUM(is_train) AS BIGINT) AS c_train,
             CAST(SUM(1 - is_train) AS BIGINT) AS c_serve
      FROM e GROUP BY event_type, v100
    ), w AS (
      SELECT event_type, v100,
             SUM(c_train) OVER ({_KS_CUM}) AS cum_t,
             SUM(c_serve) OVER ({_KS_CUM}) AS cum_s,
             SUM(c_train) OVER ({_KS_W}) AS n_train,
             SUM(c_serve) OVER ({_KS_W}) AS n_serve
      FROM h
    )
    SELECT event_type,
           CAST(MAX(n_train) AS BIGINT) AS n_train,
           CAST(MAX(n_serve) AS BIGINT) AS n_serve,
           CAST(MAX(abs(cum_t * n_serve - cum_s * n_train)) AS BIGINT) AS ks_num,
           {_fshift('CAST(MAX(abs(cum_t * n_serve - cum_s * n_train)) AS DOUBLE)'
                    ' / (CAST(MAX(n_train) AS DOUBLE) * CAST(MAX(n_serve) AS DOUBLE))',
                    'ks_stat')},
           (MAX(abs(cum_t * n_serve - cum_s * n_train)) * 10
              > MAX(n_train) * MAX(n_serve)) AS drifted
    FROM w
    GROUP BY event_type
    HAVING MAX(n_train) > 0 AND MAX(n_serve) > 0
    """,
    tags=("bench",),  # round-9: ECDF drift class promoted (ROUND9_NOTES #1)
    doc="""Exact two-sample KS drift per tag between the train and serve
    windows (shared ``_DRIFT_SPLIT``) — the watchman check for shape
    shifts the binned ``ml_drift_score`` can miss, with the rebuild
    flag decided by integer cross-multiplication (D > 0.1), never a
    float compare.  See the block comment for the histogram-windowed
    scale shape (corpus is never sorted; ECDF windows ride the compact
    per-(tag, v100) histogram; one exchange end to end).""",
)
