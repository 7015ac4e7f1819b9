"""Window-function operators O22–O25 + relational addendum (SURVEY §2.5).

Reference: lookback tensorization for LSTM models
(``model/utils.py::create_keras_timeseriesgenerator``), the forecast
shift (``model/models.py::KerasLSTMForecast``) and score smoothing
(``model/anomaly/diff.py``).  Every window partitions by machine
(user_id) — the 100 TB invariant that keeps frames inside a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.operators.relational import _fshift, _fshift_expr
from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table

_ORDER = "PARTITION BY user_id ORDER BY ts, event_id"


@register(
    "window_lookback_collect",
    oracle=f"""
    SELECT event_id, user_id,
           array_to_string(list(event_id) OVER (
             {_ORDER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), ',') AS lookback_ids,
           CAST(count(*) OVER (
             {_ORDER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS lookback_n
    FROM events
    """,
)
def window_lookback_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O23 lookback tensorization: each row carries its trailing
    ``lookback_window`` rows (LSTM input tensors).  The real 3-D tensor is
    ``collect_list(struct(*cols))`` feeding the model island (ml/); for
    oracle parity the collected ids are canonicalized to a CSV string
    (identical int formatting in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    frame = f"{_ORDER} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW"
    return ev.select(
        "event_id",
        "user_id",
        F.expr(
            f"array_join(transform(collect_list(event_id) OVER ({frame}), x -> CAST(x AS STRING)), ',')"
        ).alias("lookback_ids"),
        F.expr(f"CAST(count(*) OVER ({frame}) AS BIGINT)").alias("lookback_n"),
    )


register_sql(
    "window_lead_target",
    f"""
    SELECT event_id, user_id, value,
           lead(value, 1) OVER ({_ORDER}) AS target_next
    FROM events
    """,
    doc="""O24 forecast shift: y = value at t+lookahead (KerasLSTMForecast,
    lookahead=1).  lead() copies the double bit-exactly — no rounding.""",
)


register_sql(
    "window_rolling_avg",
    f"""
    SELECT event_id, user_id,
           round(avg(value) OVER ({_ORDER}
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 9) AS value_smooth
    FROM events
    """,
    tags=("bench",),
    doc="""O25 score smoothing: rolling mean over the trailing window
    (anomaly-score smoothing in later DiffBased revisions).""",
)


register_sql(
    "window_rank",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
             CAST(RANK() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="""Addendum ranking: top-3 orders per customer (row_number + rank with
    a unique tiebreak so the selected set is deterministic).""",
)


register_sql(
    "window_lag",
    f"""
    SELECT event_id, user_id, value,
           round(value - lag(value, 1) OVER ({_ORDER}), 9) AS delta_prev
    FROM events
    """,
    doc="""Addendum analytic lag: per-machine first difference of the series
    (the diff in DiffBasedAnomalyDetector).""",
)


register_sql(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 9) AS sum_1h,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h
    FROM events
    """,
    doc="""Addendum RANGE frame: trailing 1-hour aggregate by actual event
    time (irregular series — rows frames can't express this).""",
)


register_sql(
    "window_analytic",
    f"""
    SELECT 'rank' AS variant, o_orderkey AS id, CAST(o_custkey AS STRING) AS grp,
           CAST(o_totalprice AS DOUBLE) AS v_dbl, rn AS n1, rnk AS n2
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
             CAST(RANK() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      FROM orders
    ) WHERE rn <= 3
    UNION ALL
    SELECT 'lag' AS variant, event_id AS id, CAST(user_id AS STRING) AS grp,
           round(value - lag(value, 1) OVER ({_ORDER}), 9) AS v_dbl,
           CAST(0 AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2
    FROM events
    UNION ALL
    SELECT 'range_1h' AS variant, event_id AS id, CAST(user_id AS STRING) AS grp,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 9) AS v_dbl,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
           CAST(0 AS BIGINT) AS n2
    FROM events
    """,
    doc="""Consolidated SURVEY §2.5 addendum face: ranking (row_number + rank
    with unique tiebreak), analytic lag (per-machine first difference),
    and a time-RANGE trailing frame — one witnessed query, three window
    families, all partitioned by their natural key so frames never cross
    executors.  Per-variant forms stay registered for the replica.""",
)


# Truncated dyadic EWMA: weights 2^-k, k=0..7.  Both engines compile the
# one query text, so the float expression TREE — not just the math — is identical: products are exact
# power-of-two scalings, the sums fold left-associatively in textual
# order, and the final division sees bit-identical operands.  No rounding
# is needed (cf. window_lead_target's bit-exact copy rationale).
def _ewma_sql(order: str, k: int = 8) -> str:
    def lag(j: int) -> str:
        return "value" if j == 0 else f"lag(value, {j}) OVER ({order})"

    num = " + ".join(
        f"(CASE WHEN {lag(j)} IS NULL THEN 0.0 ELSE {lag(j)} / {float(2**j)} END)"
        for j in range(k)
    )
    den = " + ".join(
        f"(CASE WHEN {lag(j)} IS NULL THEN 0.0 ELSE {1.0 / 2**j!r} END)"
        for j in range(k)
    )
    return f"({num}) / ({den})"


register_sql(
    "window_ewma_batch",
    f"""
    SELECT event_id, user_id, value,
           {_ewma_sql(_ORDER)} AS value_ewma
    FROM events
    """,
    doc="""O25 addendum: exponentially-weighted smoothing as a BATCH window —
    the deterministic face of ``stream_stateful_ewma``.  True recursive
    EWMA needs per-row state (the streaming face has it); the batch form
    truncates the tail at 8 lags, which for alpha=1/2 leaves a relative
    error < 2^-8 — below any threshold the anomaly smoother consumes —
    while staying a pure ROWS-frame window: per-machine partitions, no
    state, no Python.

    alpha is deliberately dyadic (1/2): every weight 2^-k is an exact
    double, so weighting is exact scaling and the shared expression
    fragment evaluates bit-identically in Spark and DuckDB — this face
    needs NO rounding convention at all.""",
)


# Statistical-process-control z-score against a TRAILING baseline window
# (the classic control-chart rule: |z| > 3 vs the prior 20 readings).
# The fixture's values are exact 2-dp decimals, so v100 = round(v*100) is
# an exact integer and the baseline moments S1=Σv100, S2=Σv100² are exact
# bigints (max n·v100² ≈ 9.6e11 < 2^53) — z is then a per-row float
# expression over bit-identical integer inputs: sqrt is IEEE
# exact-rounded, so BOTH engines produce the identical double and the
# face needs no rounding convention (same contract as window_ewma_batch).
_SPC_FRAME = f"{_ORDER} ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING"
_SPC_MOMENTS = (
    ("n_base", f"CAST(count(v100) OVER ({_SPC_FRAME}) AS BIGINT)"),
    ("s1", f"CAST(sum(v100) OVER ({_SPC_FRAME}) AS BIGINT)"),
    ("s2", f"CAST(sum(v100 * v100) OVER ({_SPC_FRAME}) AS BIGINT)"),
)
_SPC_BASE = ", ".join(f"{e} AS {a}" for a, e in _SPC_MOMENTS)
_SPC_Z = (
    "CASE WHEN n_base * s2 - s1 * s1 > 0 THEN "
    "CAST(v100 * n_base - s1 AS DOUBLE) "
    "* sqrt(CAST(n_base * (n_base - 1) AS DOUBLE)) "
    "/ (CAST(n_base AS DOUBLE) * sqrt(CAST(n_base * s2 - s1 * s1 AS DOUBLE))) "
    "ELSE NULL END"
)


register_sql(
    "window_spc_zscore",
    f"""
    WITH v AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), m AS (
      SELECT event_id, user_id, value, v100, {_SPC_BASE}
      FROM v
    )
    SELECT event_id, user_id, value,
           CAST(n_base AS BIGINT) AS n_base,
           {_SPC_Z} AS zscore,
           (({_SPC_Z}) IS NOT NULL AND abs({_SPC_Z}) > 3.0) AS is_out
    FROM m
    WHERE n_base >= 12
    """,
    doc="""O25/O44 adjacency — control-chart scoring WITHOUT a model: each
    reading's z-score against its machine's trailing-20 baseline (frame
    excludes the current row, so a spike can't inflate its own
    baseline), flagged at |z| > 3 — the Shewhart rule a plant runs on
    tags that don't justify an autoencoder.  Warm-up rows (< 12 prior
    readings) are dropped; a constant baseline (zero variance) yields
    NULL rather than engine-specific inf/NaN.

    Exactness: baseline moments are integer sums of the 2-dp-exact
    readings (see block comment) — no rounding convention needed, the
    z doubles are bit-identical.  One window pass per machine partition
    (the O22–O25 invariant); at 100 TB this is a single sort-free
    rolling frame per machine, no shuffle beyond the partitioning.""",
)


register_sql(
    "window_ntile_dist",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="""§2.5 addendum — distribution ranks: order-value quartile, percent
    rank and cumulative distribution per customer (the spend-percentile
    facets a dashboard ranks machines/customers by).  The ORDER BY
    carries the unique o_orderkey tiebreak, so tile assignment and both
    rank fractions are fully determined.

    Parity: percent_rank = (rank−1)/(n−1) and cume_dist = peers/n are
    single IEEE divisions of small exact integers — correctly rounded,
    bit-identical in both engines; ntile is pure integer algebra.  Same
    one-partition-one-sort shape as every §2.5 frame.""",
)


# CUSUM change-point detection (Page 1954) — the sequential test SPC
# charts graduate to when single-reading z-scores miss slow drifts:
# S_t = max(0, S_{t-1} + (x_t − μ − k)) accumulates small persistent
# excesses and alarms when S_t crosses h.  The recurrence LOOKS
# inherently sequential, but unrolls exactly to
#   S_t = cum_t − min(0, min_{j≤t} cum_j)      with cum = Σ(x−μ−k),
# a running sum minus its running minimum — two stock window aggregates
# over one partition order, fully distributed (the classic max-plus /
# prefix-scan decomposition).  Exactness: with μ = s1/n rational,
# multiply the increment through by n:  d_t = n·(v100_t − K100) − s1 is
# an exact bigint (≤ n·v100 ≈ 10¹⁵ at 10⁹ rows and 4-digit readings);
# the running sum routes through DECIMAL (n·|d| can pass 2⁶³) and stays
# < 2⁵³ at checked SFs, so the closing DECIMAL→DOUBLE report cast is
# bit-identical across engines.  The alert compare is decimal-exact:
# S > n²·H100 in the same scaled units (never a float threshold).
_CUSUM_K100 = 10  # slack k = 0.10 value-units (×100 scale)
_CUSUM_H100 = 5000  # alarm h = 50.00 cumulative value-units (×100 scale)
_CUSUM_P = "PARTITION BY user_id, event_type"
_CUSUM_O = f"{_CUSUM_P} ORDER BY ts, event_id"
_CUSUM_BASE = (
    f"CAST(count(*) OVER ({_CUSUM_P}) AS BIGINT) AS n, "
    f"CAST(sum(v100) OVER ({_CUSUM_P}) AS BIGINT) AS s1"
)
_CUSUM_CUM = (
    f"sum(CAST(n * (v100 - {_CUSUM_K100}) - s1 AS DECIMAL(18,0)))"
    f" OVER ({_CUSUM_O} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


register_sql(
    "window_cusum_alerts",
    f"""
    WITH v AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), m AS (
      SELECT *, {_CUSUM_BASE} FROM v
    ), c AS (
      SELECT *, {_CUSUM_CUM} AS cum FROM m
    ), s AS (
      SELECT *, cum - LEAST(CAST(0 AS DECIMAL(18,0)),
                            MIN(cum) OVER ({_CUSUM_O} ROWS BETWEEN
                              UNBOUNDED PRECEDING AND CURRENT ROW)) AS sc
      FROM c
    )
    SELECT event_id, user_id, event_type, value,
           {_fshift(f"CAST(sc AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)", "cusum")},
           (sc > CAST(n AS DECIMAL(19,0)) * {_CUSUM_H100}) AS is_alert
    FROM s
    """,
    tags=("bench",),  # round-9: change-point class promoted (ROUND9_NOTES #1)
    doc="""CUSUM drift alarms per (machine, tag): the sequential
    change-point detector that catches slow persistent upward drifts a
    per-reading Shewhart/z rule never flags (its one-sided positive
    form; the mirrored negative side is the same algebra on −v100).
    ``cusum`` is the accumulated excess above the series mean (value
    units); ``is_alert`` fires when it crosses 50.00 units.

    Spark-first shape: the sequential recurrence unrolls to
    running-sum − running-min (see block comment) — THREE window
    aggregates sharing ONE (machine, tag) exchange and one partition
    sort, the same per-series pattern as every O22–O25 face; nothing
    iterative, nothing driver-side, embarrassingly parallel across
    series at 100 TB.  Integer/decimal exactness end to end — the only
    doubles are the final report division (floor-shifted) and none of
    the ALERT algebra is float.""",
)


# Hampel identifier (Pearson 2002 survey of Hampel 1974) — the robust
# sibling of the SPC z-score: a reading is an outlier when it sits more
# than 3 robust-σ from the CENTERED rolling MEDIAN, with σ estimated as
# 1.4826·MAD.  Unlike the mean/stddev chart, one spike cannot inflate
# its own baseline (median breakdown point 50%), which is why plants
# run Hampel on tags whose sensors glitch.  Two-stage practical form:
# med_i = median(window_i); dev_j = |x_j − med_j|; mad_i =
# median_of_window_i(dev).  Exactness: readings are 2-dp-exact
# (v100 bigint); a 21-row full frame has ODD count so med100 is a pure
# selection (integer), dev200 = 2·|v100 − med100| is an exact bigint
# even where boundary rows' partial even frames interpolate a .5, and
# mad400 = 4·median(dev) is a bigint for the same reason.  The 3σ test
# dev100 > 4.4478·mad100 clears denominators to PURE INTEGER algebra:
# 10000·dev200 > 22239·mad400 (≤ 4.4e9 — no float threshold anywhere).
# Report doubles (med/dev/σ) are single correctly-rounded ops on exact
# inputs — bit-identical across engines, no rounding convention needed.
_HAMPEL_F = "ROWS BETWEEN 10 PRECEDING AND 10 FOLLOWING"
_HAMPEL_W = f"{_ORDER} {_HAMPEL_F}"


@register(
    "window_hampel_outlier",
    oracle=f"""
    WITH v AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), m AS (
      SELECT event_id, user_id, ts, value, v100,
             quantile_cont(v100, 0.5) OVER ({_HAMPEL_W}) AS med100,
             CAST(count(*) OVER ({_HAMPEL_W}) AS BIGINT) AS n_win
      FROM v
    ), d AS (
      SELECT *, CAST(round(abs(v100 - med100) * 2) AS BIGINT) AS dev200
      FROM m
    ), h AS (
      SELECT *,
             CAST(round(quantile_cont(dev200, 0.5) OVER ({_HAMPEL_W}) * 2)
                  AS BIGINT) AS mad400
      FROM d
    )
    SELECT event_id, user_id, value,
           CAST(med100 AS DOUBLE) / 100.0 AS med,
           CAST(dev200 AS DOUBLE) / 200.0 AS dev,
           CAST(mad400 AS DOUBLE) * CAST(1.4826 AS DOUBLE) / 400.0 AS mad_sigma,
           (10000 * dev200 > 22239 * mad400) AS is_out
    FROM h
    WHERE n_win = 21
    """,
)
def window_hampel_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25/O44 adjacency — Hampel robust outlier flags per machine: each
    reading against the median of its centered 21-sample neighbourhood,
    flagged when the deviation exceeds 3·(1.4826·MAD) — the
    despike/cleaning pass run BEFORE training data reaches a model
    (median baseline, so a glitch can't mask itself the way it inflates
    a mean/σ chart).  Boundary rows without a full frame are dropped
    (a centered filter needs full context).

    Spark-first shape: TWO stacked window passes (rolling median, then
    rolling median of deviations) over the SAME (machine, ts) order —
    one hash exchange, one sort, both frames inside whole-stage-adjacent
    window nodes; no join, no second scan (asserted in
    tests/test_plan_properties.py).  At 100 TB this is per-machine
    linear work, embarrassingly parallel across machines; exact medians
    over a FIXED 21-row frame cost O(frame) per row with no
    per-group buffering beyond the frame.

    Exactness: integer-routed end to end — see the block comment; the
    outlier test is pure bigint algebra, never a float threshold."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
    )
    m = v.select(
        "*",
        F.expr(f"percentile(v100, 0.5) OVER ({_HAMPEL_W})").alias("med100"),
        F.expr(f"CAST(count(*) OVER ({_HAMPEL_W}) AS BIGINT)").alias("n_win"),
    )
    d = m.select(
        "*", F.expr("CAST(round(abs(v100 - med100) * 2) AS BIGINT)").alias("dev200")
    )
    h = d.select(
        "*",
        F.expr(
            f"CAST(round(percentile(dev200, 0.5) OVER ({_HAMPEL_W}) * 2) AS BIGINT)"
        ).alias("mad400"),
    )
    return h.where(F.col("n_win") == 21).select(
        "event_id",
        "user_id",
        "value",
        F.expr("CAST(med100 AS DOUBLE) / 100.0").alias("med"),
        F.expr("CAST(dev200 AS DOUBLE) / 200.0").alias("dev"),
        F.expr("CAST(mad400 AS DOUBLE) * CAST(1.4826 AS DOUBLE) / 400.0").alias(
            "mad_sigma"
        ),
        F.expr("(10000 * dev200 > 22239 * mad400)").alias("is_out"),
    )


# Binary-segmentation change-point LOCALIZATION (Scott & Knott 1974
# lineage): the split k maximizing the between-segment objective
# J(k) = s_k²/k + (s_n−s_k)²/(n−k) over the prefix sums of the 2-dp
# readings — equivalent to minimizing total within-segment SSE, the
# first step of every binseg/PELT pipeline.  Pairs with the CUSUM face:
# CUSUM *alarms* that drift exists, binseg says *where* the level
# shifted.  Exactness: prefix sums are exact ints; at the checked SFs
# |s_k| ≤ ~4e7 so dbl(s)·dbl(s) is an exact product < 2⁵³ and J is a
# fixed 4-op IEEE chain on exact inputs — bit-identical, so the argmax
# (row_number over J DESC, k ASC) agrees across engines without any
# rounding convention; only the REPORTED j_gain is floor-shifted.
# (At fleet scale the magnitudes outgrow 2⁵³; the operator would move
# s to DECIMAL and report a scaled objective — same plan shape.)
@register(
    "window_binseg_split",
    oracle=f"""
    WITH v AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), p AS (
      SELECT user_id, ts,
             CAST(row_number() OVER w AS BIGINT) AS k,
             CAST(sum(v100) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             CAST(sum(v100) OVER (PARTITION BY user_id) AS BIGINT) AS tot
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), j AS (
      SELECT user_id, ts, k, s, n, tot,
             CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(k AS DOUBLE)
             + CAST(tot - s AS DOUBLE) * CAST(tot - s AS DOUBLE)
               / CAST(n - k AS DOUBLE) AS jval
      FROM p WHERE k < n AND n >= 4
    ), best AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY jval DESC, k) AS rk
      FROM j
    )
    SELECT user_id, n, k AS split_k, ts AS split_ts,
           CAST(s AS DOUBLE) / (100.0 * CAST(k AS DOUBLE)) AS mean_left,
           CAST(tot - s AS DOUBLE) / (100.0 * CAST(n - k AS DOUBLE))
             AS mean_right,
           {_fshift('''jval - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)
             / CAST(n AS DOUBLE)''', 'j_gain')}
    FROM best WHERE rk = 1
    """,
)
def window_binseg_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point localization per machine: the single best binary-
    segmentation split of the reading series — where the level shifted,
    with the two segment means and the variance-reduction gain (block
    comment).  Machines with < 4 readings are skipped.

    Spark-first shape: ONE (machine) exchange carries the row_number,
    both prefix frames, the series totals, and the argmax window — five
    window functions, one sort, no join, embarrassingly parallel across
    machines.  The all-k objective scan is O(n) per machine as window
    algebra (the naive formulation recomputes two segment SSEs per
    candidate split = O(n²))."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
    )
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    wp = "PARTITION BY user_id"
    p = v.select(
        "user_id",
        "ts",
        F.expr(f"CAST(row_number() OVER ({w}) AS BIGINT)").alias("k"),
        F.expr(
            f"CAST(sum(v100) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) AS BIGINT)"
        ).alias("s"),
        F.expr(f"CAST(count(*) OVER ({wp}) AS BIGINT)").alias("n"),
        F.expr(f"CAST(sum(v100) OVER ({wp}) AS BIGINT)").alias("tot"),
    )
    j = p.where((F.col("k") < F.col("n")) & (F.col("n") >= 4)).select(
        "*",
        F.expr(
            "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(k AS DOUBLE)"
            " + CAST(tot - s AS DOUBLE) * CAST(tot - s AS DOUBLE)"
            " / CAST(n - k AS DOUBLE)"
        ).alias("jval"),
    )
    best = j.select(
        "*",
        F.expr(
            f"row_number() OVER ({wp} ORDER BY jval DESC, k)"
        ).alias("rk"),
    )
    return best.where(F.col("rk") == 1).select(
        "user_id",
        "n",
        F.col("k").alias("split_k"),
        F.col("ts").alias("split_ts"),
        F.expr("CAST(s AS DOUBLE) / (100.0 * CAST(k AS DOUBLE))").alias(
            "mean_left"
        ),
        F.expr(
            "CAST(tot - s AS DOUBLE) / (100.0 * CAST(n - k AS DOUBLE))"
        ).alias("mean_right"),
        F.expr(
            _fshift_expr(
                "jval - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)"
                " / CAST(n AS DOUBLE)"
            )
        ).alias("j_gain"),
    )
