"""Scalar-function operators O28–O32 (SURVEY §2.8).

Reference: tag-name normalization/DNS-1035 validation
(``sensor_tag.py``, ``workflow/config_elements/``), timestamp arithmetic
(``server/views/*``), anomaly column math (``model/anomaly/diff.py``),
InfImputer (``model/transformers/imputer.py``) and the canonical-JSON
model key (``builder/build_model.py::calculate_model_key``).

Cross-engine determinism notes: per-row IEEE +-*/ and sqrt are
correctly-rounded (bit-identical); transcendental pow/exp/ln are not —
avoided or rounded.  JSON is canonicalized by explicit concatenation,
not engine ``to_json`` (number formatting differs across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table

_DNS1035 = "^[a-z]([-a-z0-9]*[a-z0-9])?$"


@register(
    "scalar_string_ops",
    oracle=f"""
    SELECT c_custkey,
           lower(c_name) AS name_lc,
           CAST(length(c_name) AS INT) AS name_len,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           replace(lower(c_name), 'customer#', 'machine-') AS machine_name,
           regexp_matches(replace(lower(c_name), 'customer#', 'machine-'), '{_DNS1035}') AS dns1035_ok
    FROM customer
    """,
)
def scalar_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O28 tag/machine-name string surface: normalize, measure, extract,
    DNS-1035-validate (lowercase, ≤63, letter start — the reference's
    machine-name rule)."""
    c = load_table(spark, sf_dir, "customer")
    machine = F.replace(F.lower("c_name"), F.lit("customer#"), F.lit("machine-"))
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lc"),
        F.length("c_name").cast("int").alias("name_len"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        machine.alias("machine_name"),
        machine.rlike(_DNS1035).alias("dns1035_ok"),
    )


@register(
    "scalar_ts_ops",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dom,
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 7 DAY AS due_date,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def scalar_ts_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O29 timestamp arithmetic: calendar parts, bucket start, offsets,
    epoch (response ``start``/``end`` columns are bucket ± resolution)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("due_date"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


register_sql(
    "scalar_math_anomaly",
    """
    SELECT event_id,
           abs(value - 100.0) AS abs_dev,
           sqrt(abs(value)) AS sqrt_v,
           value * value AS v_sq,
           greatest(value, 50.0) AS clamp_lo,
           least(value, 450.0) AS clamp_hi,
           CAST(sign(value - 100.0) AS DOUBLE) AS dev_sign
    FROM events
    """,
    doc="""O30 elementwise anomaly math: |y−ŷ|, norms, clamps — all
    correctly-rounded IEEE ops, so no rounding needed for parity.""",
)


@register(
    "scalar_imputer",
    oracle="""
    WITH injected AS (
      SELECT event_id, event_type,
             CASE WHEN event_type = 'error'  THEN CAST('Infinity' AS DOUBLE)
                  WHEN event_type = 'signup' THEN CAST('-Infinity' AS DOUBLE)
                  ELSE value END AS v
      FROM events
    ), stats AS (
      SELECT *,
             max(CASE WHEN NOT isinf(v) THEN v END) OVER (PARTITION BY event_type) AS fin_max,
             min(CASE WHEN NOT isinf(v) THEN v END) OVER (PARTITION BY event_type) AS fin_min
      FROM injected
    )
    SELECT event_id, event_type,
           CASE WHEN v = CAST('Infinity' AS DOUBLE)  THEN fin_max + 1.0
                WHEN v = CAST('-Infinity' AS DOUBLE) THEN fin_min - 1.0
                ELSE v END AS v_imputed
    FROM stats
    """,
)
def scalar_imputer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31 InfImputer: ±inf replaced by per-column finite max/min ± delta
    (reference ``model/transformers/imputer.py::InfImputer``).  Fixture
    has no inf, so ±inf is injected on two tags first."""
    ev = load_table(spark, sf_dir, "events")
    inf, ninf = F.lit(float("inf")), F.lit(float("-inf"))
    injected = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "error", inf)
        .when(F.col("event_type") == "signup", ninf)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    stats = injected.select(
        "*",
        F.expr(
            "max(CASE WHEN v NOT IN (CAST('Infinity' AS DOUBLE), CAST('-Infinity' AS DOUBLE)) THEN v END) "
            "OVER (PARTITION BY event_type)"
        ).alias("fin_max"),
        F.expr(
            "min(CASE WHEN v NOT IN (CAST('Infinity' AS DOUBLE), CAST('-Infinity' AS DOUBLE)) THEN v END) "
            "OVER (PARTITION BY event_type)"
        ).alias("fin_min"),
    )
    return stats.select(
        "event_id",
        "event_type",
        F.when(F.col("v") == inf, F.col("fin_max") + 1.0)
        .when(F.col("v") == ninf, F.col("fin_min") - 1.0)
        .otherwise(F.col("v"))
        .alias("v_imputed"),
    )


@register(
    "scalar_json_hash",
    oracle="""
    SELECT c_custkey,
           '{"name":"' || c_name || '","nationkey":' || CAST(c_nationkey AS VARCHAR)
             || ',"segment":"' || c_mktsegment || '"}' AS config_json,
           sha256('{"name":"' || c_name || '","nationkey":' || CAST(c_nationkey AS VARCHAR)
             || ',"segment":"' || c_mktsegment || '"}') AS model_key
    FROM customer
    """,
)
def scalar_json_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O32 model key = sha256 of the canonical-JSON machine config
    (reference ``calculate_model_key``; drives the O39 rebuild cache).
    Canonicalization is explicit concatenation — engine to_json() differs
    in number formatting across implementations."""
    c = load_table(spark, sf_dir, "customer")
    js = F.concat(
        F.lit('{"name":"'),
        F.col("c_name"),
        F.lit('","nationkey":'),
        F.col("c_nationkey").cast("string"),
        F.lit(',"segment":"'),
        F.col("c_mktsegment"),
        F.lit('"}'),
    )
    return c.select("c_custkey", js.alias("config_json"), F.sha2(js, 256).alias("model_key"))


@register(
    "scalar_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) % 2 = 0
    """,
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Testdata addendum: JSON property extraction from ``events.props``
    with a predicate over the extracted value."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("k")).where(k % 2 == 0)


@register(
    "scalar_json_ops",
    oracle="""
    SELECT 'hash' AS variant, c_custkey AS id,
           sha256('{"name":"' || c_name || '","nationkey":' || CAST(c_nationkey AS VARCHAR)
             || ',"segment":"' || c_mktsegment || '"}') AS payload,
           CAST(0 AS INT) AS k
    FROM customer
    UNION ALL
    SELECT 'extract' AS variant, event_id AS id, '' AS payload,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) % 2 = 0
    """,
)
def scalar_json_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O32 consolidated JSON face: canonical-JSON build + sha256 model key
    (the rebuild-cache key) and JSON property extraction with a predicate
    — both engine-deterministic because canonicalization is explicit
    concatenation, never engine ``to_json``.  Per-variant forms stay
    registered for the replica."""
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    js = F.concat(
        F.lit('{"name":"'),
        F.col("c_name"),
        F.lit('","nationkey":'),
        F.col("c_nationkey").cast("string"),
        F.lit(',"segment":"'),
        F.col("c_mktsegment"),
        F.lit('"}'),
    )
    hash_leg = c.select(
        F.lit("hash").alias("variant"),
        F.col("c_custkey").alias("id"),
        F.sha2(js, 256).alias("payload"),
        F.lit(0).cast("int").alias("k"),
    )
    k = F.get_json_object("props", "$.k").cast("int")
    extract_leg = (
        ev.select(
            F.lit("extract").alias("variant"),
            F.col("event_id").alias("id"),
            F.lit("").alias("payload"),
            k.alias("k"),
        )
        .where(F.col("k") % 2 == 0)
    )
    return hash_leg.unionByName(extract_leg)


@register(
    "scalar_winsorize",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, event_type, value,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), q AS (
      SELECT user_id, event_type,
             quantile_cont(v100, 0.05) AS lo,
             quantile_cont(v100, 0.95) AS hi
      FROM v GROUP BY user_id, event_type
    )
    SELECT v.event_id, v.user_id, v.event_type, v.value,
           least(greatest(CAST(v.v100 AS DOUBLE), q.lo), q.hi) / 100.0 AS value_w,
           (CAST(v.v100 AS DOUBLE) < q.lo OR CAST(v.v100 AS DOUBLE) > q.hi)
             AS is_clipped
    FROM v JOIN q ON q.user_id = v.user_id AND q.event_type = v.event_type
    """,
)
def scalar_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31 adjacency — winsorization: clamp each reading into its
    (machine, tag) series' exact [p5, p95] band, flagging what was
    clipped.  The outlier-limiting transform applied to training
    frames where the InfImputer face (O31) only repairs inf/NaN —
    tails from sensor glitches get pinned to the percentile fence
    instead of feeding the model.

    Spark-first shape: per-(machine, tag) exact percentiles via ONE
    partial-free groupBy (group count = machines × tags — the fleet
    dimension, so reducer parallelism GROWS with the corpus; never a
    per-tag global window), then a join back on the same keys.  The
    fence side scales with the fleet, so it is NOT force-broadcast
    (CLAUDE.md mirror rule) — AQE broadcasts it at bench SF and keeps
    a shuffle join at 100 TB.  The scale path swaps `percentile` for
    `approx_percentile` when a fleet's per-group history outgrows the
    exact aggregate's buffer; the checked face stays exact for oracle
    parity.

    Exactness: fences are exact-percentile interpolations of 2-dp
    integer readings — identical `(n−1)·p` positional algebra in both
    engines (the agg_error_quantile convention); the clamp is
    least/greatest on exact doubles and one /100 report division."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
    )
    q = v.groupBy("user_id", "event_type").agg(
        F.expr("percentile(v100, 0.05)").alias("lo"),
        F.expr("percentile(v100, 0.95)").alias("hi"),
    )
    j = v.join(q, ["user_id", "event_type"])
    return j.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("least(greatest(CAST(v100 AS DOUBLE), lo), hi) / 100.0").alias(
            "value_w"
        ),
        F.expr(
            "(CAST(v100 AS DOUBLE) < lo OR CAST(v100 AS DOUBLE) > hi)"
        ).alias("is_clipped"),
    )


# Robust standardization (median/MAD z-score): the outlier-immune
# sibling of O40's min-max scaler — one glitch reading shifts a mean/σ
# scale but not a median/MAD one, so this is the standardization a
# training frame wants when the despike pass runs AFTER scaling.
# Exactness mirrors the Hampel face: whole-series medians over 2-dp
# ints tracked ×2 (med200/mad400 are exact bigints even when an
# even-count series interpolates a .5), the 3σ fence is pure integer
# algebra (10000·dev200 > 22239·mad400), and the reported z is one
# fixed-order float chain on exact ints, floor-shifted.
@register(
    "scalar_robust_scale",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, event_type, value,
             CAST(round(value * 100) AS BIGINT) AS v100
      FROM events
    ), f AS (
      SELECT user_id, event_type,
             CAST(round(quantile_cont(v100, 0.5) * 2) AS BIGINT) AS med200,
             CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1, 2
    ), d AS (
      SELECT v.*, f.med200, f.n,
             abs(2 * v.v100 - f.med200) AS dev200
      FROM v JOIN f ON f.user_id = v.user_id AND f.event_type = v.event_type
    ), m AS (
      SELECT user_id, event_type,
             CAST(round(quantile_cont(dev200, 0.5) * 2) AS BIGINT) AS mad400
      FROM d GROUP BY 1, 2
    )
    SELECT d.event_id, d.user_id, d.event_type, d.value,
           CAST(d.med200 AS DOUBLE) / 200.0 AS series_med,
           CAST(m.mad400 AS DOUBLE) * 1.4826 / 400.0 AS mad_sigma,
           CASE WHEN m.mad400 > 0 THEN
             floor((CAST(2 * (2 * d.v100 - d.med200) AS DOUBLE)
                    / (CAST(m.mad400 AS DOUBLE) * 1.4826))
                   * 1000000 + 0.5) / 1000000
           END AS robust_z,
           (10000 * d.dev200 > 22239 * m.mad400) AS is_extreme
    FROM d JOIN m ON m.user_id = d.user_id AND m.event_type = d.event_type
    """,
)
def scalar_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31/O40 adjacency — robust z-score standardization per (machine,
    tag): (x − median) / (1.4826·MAD) with a pure-integer 3σ extreme
    flag — the glitch-immune feature scaling used where min-max or
    mean/σ would let one spike compress the whole feature range
    (block comment: the Hampel exactness discipline over WHOLE series).
    MAD = 0 (constant series) reports NULL z, flag false.

    Spark-first shape: two exact-percentile groupBys on the fleet key
    (partial-free aggregates — parallelism grows with machines × tags)
    with joins back on the same key; the fence frames scale with the
    fleet so they are NOT force-broadcast (the winsorize mirror rule —
    AQE broadcasts at bench SF, shuffles at fleet scale).  At extreme
    per-series history the exact percentile swaps for
    ``approx_percentile`` exactly as the winsorize face documents."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
    )
    f = v.groupBy("user_id", "event_type").agg(
        F.expr("CAST(round(percentile(v100, 0.5) * 2) AS BIGINT)").alias("med200"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    d = v.join(f, ["user_id", "event_type"]).select(
        "*", F.expr("abs(2 * v100 - med200)").alias("dev200")
    )
    m = d.groupBy("user_id", "event_type").agg(
        F.expr("CAST(round(percentile(dev200, 0.5) * 2) AS BIGINT)").alias("mad400")
    )
    out = d.join(m, ["user_id", "event_type"])
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("CAST(med200 AS DOUBLE) / 200.0").alias("series_med"),
        F.expr("CAST(mad400 AS DOUBLE) * 1.4826 / 400.0").alias("mad_sigma"),
        F.expr(
            "CASE WHEN mad400 > 0 THEN"
            " floor((CAST(2 * (2 * v100 - med200) AS DOUBLE)"
            " / (CAST(mad400 AS DOUBLE) * 1.4826)) * 1000000 + 0.5) / 1000000"
            " END"
        ).alias("robust_z"),
        F.expr("(10000 * dev200 > 22239 * mad400)").alias("is_extreme"),
    )
