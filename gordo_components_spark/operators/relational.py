"""Relational addendum operators (SURVEY §2.3/2.4/2.6/2.7).

The reference's only join family is time-index alignment (``alignment.py``);
the harness additionally requires general relational coverage over the
TPC-H-ish fixtures.  Each query is one SQL text that Spark runs and
DuckDB checks (``register_sql``) — the work is in oracle parity
(decimal-exact sums, deterministic LIMIT tiebreaks).

Scale notes: fixed-cardinality dimension joins (nation, region)
broadcast through a hint in the text; fact-fact joins are left to AQE
(sort-merge w/ skew split); aggregates rely on partial (map-side)
aggregation, which Catalyst applies automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_components_spark.registry import register, register_sql
from gordo_components_spark.sources.tables import load_table


# predicates shared by the per-variant joins AND join_variants' union
# face (one definition so the face can't silently diverge from the
# variants it claims to mirror)
_BIG_ORDER = 100000  # o_totalprice threshold (semi join)
_URGENT = "1-URGENT"  # o_orderpriority (anti join)
_THETA_DAYS = 30  # range-theta join interval


def _osum(expr: str, alias: str, scale: int = 8) -> str:
    """Exact cross-engine SUM: per-row double arithmetic is bit-identical
    across engines; route the accumulation through DECIMAL so summation
    order can't change the result, then back to DOUBLE.  Safe while the
    decimal's numerator fits ~2^53; beyond that use :func:`_osum_cents`
    (engines' DECIMAL→DOUBLE conversions diverge by 1 ulp)."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE) AS {alias}"


def _sum_cents_expr(expr: str) -> str:
    """Alias-less integer-cents SUM fragment (the one definition of the
    cents convention — round-6 dedup of 7+ hand-inlined copies, two of
    which did ``rsplit(' AS x')`` alias surgery on :func:`_osum_cents`
    output to get this fragment back)."""
    return f"CAST(round(SUM(CAST({expr} AS DECIMAL(30,8))), 2) * 100 AS BIGINT)"


def _osum_cents(expr: str, alias: str) -> str:
    """Money aggregate as exact integer cents: immune to DECIMAL→DOUBLE
    conversion ulp at any magnitude (found at sf0.1: 7.5e9 sums differed
    in the last ulp between engines)."""
    return f"{_sum_cents_expr(expr)} AS {alias}"


def _fshift_expr(expr: str) -> str:
    """floor-shift HALF-UP rounding to 6 dp, alias-less SQL fragment:
    ``floor(x·10⁶ + 0.5)/10⁶`` is bit-identical across engines given
    exact inputs, whereas round() half-tie algorithms differ (Spark
    rounds the shortest decimal repr, DuckDB multiplies) — registry
    docstring convention, promoted here from tpch.py in round 6."""
    return f"floor(({expr}) * 1000000 + 0.5) / 1000000"


def _fshift(expr: str, alias: str) -> str:
    return f"{_fshift_expr(expr)} AS {alias}"


def _fshift_col(col: "F.Column") -> "F.Column":
    """Column-API variant of :func:`_fshift_expr`."""
    return F.floor(col * 1000000 + 0.5) / 1000000


# --- 2.4 aggregations ------------------------------------------------------

# sum_qty at scale 0 (here and in agg_rollup): l_quantity is integral, and
# scale 8's numerator would cross the ~2^53 DECIMAL→DOUBLE ulp cliff near sf1
register_sql(
    "agg_groupby_sum",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_osum('l_quantity', 'sum_qty', scale=0)},
           {_osum_cents('l_extendedprice', 'sum_base_price_cents')},
           {_osum_cents('l_extendedprice * (1 - l_discount)', 'sum_disc_price_cents')},
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("bench",),
    doc="""TPC-H Q1-style hash aggregate (map-side partial agg, one shuffle).""",
)


register_sql(
    "agg_distinct",
    """
    SELECT 'orders:' || o_orderstatus AS grp,
           COUNT(DISTINCT o_custkey) AS n_d1,
           CAST(0 AS BIGINT) AS n_d2,
           COUNT(*) AS n_rows
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'lineitem:' || l_returnflag AS grp,
           COUNT(DISTINCT l_partkey) AS n_d1,
           COUNT(DISTINCT l_suppkey) AS n_d2,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="""Exact distinct aggregation (expand + two-phase agg under AQE),
    consolidated SURVEY §2.4 face: the orders leg is the plain exact
    COUNT(DISTINCT); the lineitem leg is the cardinality-estimation
    surface declared exact on both engines (the 100 TB path swaps in
    approx_count_distinct(rsd) — same plan shape; the per-variant
    ``agg_approx_cd`` form stays registered past the witness window).""",
)


register_sql(
    "agg_approx_cd",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="""Cardinality estimation surface; declared with *exact* distinct on
    both sides per SURVEY §2.4 (approx_count_distinct isn't oracle-stable).
    The 100 TB path swaps in approx_count_distinct(rsd) — same plan shape.""",
)


register_sql(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           {_osum('l_quantity', 'sum_qty', scale=0)},
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="""Hierarchical subtotals via ROLLUP (Expand operator; single shuffle).""",
)


# Two bodies: salting is a physical rewrite of the oracle's plain aggregate.
@register(
    "agg_salted_skew",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern: salt the hot key into 8 sub-keys, partial
    aggregate per (key, salt), then merge — the manual form of what AQE's
    skew handling does for joins, needed for aggregations when one key
    holds a large share of a 100 TB table.  Decimal partials make the
    two-stage result bit-identical to the direct aggregation (the
    oracle is the UNsalted query — same answer is the point)."""
    ev = load_table(spark, sf_dir, "events")
    partial = ev.groupBy("event_type", (F.col("event_id") % 8).alias("salt")).agg(
        F.expr("SUM(CAST(value AS DECIMAL(30,8)))").alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.expr("CAST(SUM(s) AS DOUBLE)").alias("total_value"),
    )


# --- 2.3 joins -------------------------------------------------------------

register_sql(
    "join_equi_inner",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {_osum_cents('o_totalprice', 'revenue_cents')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("bench",),
    doc="""Fact⋈dim equi join; the dim side broadcasts via AQE's size
    threshold (no fact shuffle at bench SF) — customer GROWS with the
    scale factor, so the hint is deliberately NOT forced: at 100 TB the
    same plan degrades to a shuffle join instead of a multi-GB
    broadcast (tpch.py broadcast policy).""",
)


register_sql(
    "join_left_outer",
    """
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
    doc="""Left outer join preserving customers with zero orders.""",
)


register_sql(
    "join_semi",
    f"""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IS NOT NULL
      AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > {_BIG_ORDER})
    """,
    doc="""Left-semi join (EXISTS): customers with any big order.  The
    explicit ``c_custkey IS NOT NULL`` (implied by IN) keeps customer's
    pushed ``IsNotNull``: Catalyst rewrites the subquery into the join
    after it infers filters.""",
)


register_sql(
    "join_anti",
    f"""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '{_URGENT}')
    """,
    doc="""Left-anti join (NOT EXISTS): customers with no urgent orders.""",
)


register_sql(
    "join_range_theta",
    f"""
    SELECT o_orderkey, COUNT(*) AS n_late
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate + INTERVAL {_THETA_DAYS} DAY
    GROUP BY o_orderkey
    """,
    doc="""Equi key + non-equi range residual (ship >30 days after order).
    The equi conjunct keeps it a hash/sort-merge join — never a cartesian.""",
)


register_sql(
    "join_broadcast_dim",
    """
    SELECT /*+ BROADCAST(nation, region) */ r_name, n_name, COUNT(*) AS n_cust
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("bench",),
    doc="""O17 tag→asset dimension lookup restated: snowflake dims broadcast
    (reference ``dataset/sensor_tag.py::normalize_sensor_tags``).""",
)


register_sql(
    "join_variants",
    f"""
    SELECT 'equi_inner' AS variant, c_mktsegment AS grp,
           COUNT(*) AS n, {_osum_cents('o_totalprice', 'cents')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'left_outer' AS variant,
           CASE WHEN n_orders = 0 THEN 'zero_orders' ELSE 'has_orders' END AS grp,
           COUNT(*) AS n, CAST(0 AS BIGINT) AS cents
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS n_orders
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          GROUP BY c_custkey)
    GROUP BY 2
    UNION ALL
    SELECT 'semi' AS variant, c_mktsegment AS grp,
           COUNT(*) AS n, CAST(0 AS BIGINT) AS cents
    FROM customer
    WHERE c_custkey IS NOT NULL
      AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > {_BIG_ORDER})
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'anti' AS variant, c_mktsegment AS grp,
           COUNT(*) AS n, CAST(0 AS BIGINT) AS cents
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '{_URGENT}')
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'range_theta' AS variant, o_orderpriority AS grp,
           COUNT(*) AS n, CAST(0 AS BIGINT) AS cents
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate + INTERVAL {_THETA_DAYS} DAY
    GROUP BY o_orderpriority
    """,
    doc="""Consolidated SURVEY §2.3 addendum face: one witnessed query per
    join strategy — broadcast-hash equi inner, null-preserving left
    outer, left-semi (EXISTS), left-anti (NOT EXISTS), and equi+range
    theta residual.  Each leg aggregates to a compact (variant, grp, n,
    cents) row set so every join's row-routing is value-witnessed.  The
    per-variant queries (``join_equi_inner`` …) stay registered for the
    replica; plan shapes (broadcast, no-cartesian) are guarded in
    tests/test_plan_properties.py.""",
)


# --- 2.6 sorts / limits ----------------------------------------------------

register_sql(
    "sort_by_ts",
    """
    SELECT event_id, user_id, ts,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
    """,
    doc="""O26 timestamp-ordered sequencing. Partitioned by machine (user_id)
    so the sort is shuffle-parallel — a single global ORDER BY would
    serialize on one partition at 100 TB.""",
)


register_sql(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc="""O27 top-k: TakeOrderedAndProject (per-partition heap + driver merge,
    no full sort). Unique o_orderkey tiebreak makes the k-set deterministic.""",
)


# --- 2.7 set operations ----------------------------------------------------

register_sql(
    "set_union",
    """
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
    doc="""UNION ALL (no shuffle — pure concatenation).""",
)


register_sql(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="""INTERSECT (distinct semantics on both engines).""",
)


register_sql(
    "set_except",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="""EXCEPT (distinct): customers with open but no finished orders.""",
)


register_sql(
    "set_ops",
    """
    SELECT 'union:customer' AS variant, c_nationkey AS key FROM customer
    UNION ALL
    SELECT 'union:supplier' AS variant, s_nationkey AS key FROM supplier
    UNION ALL
    SELECT 'intersect' AS variant, nationkey AS key FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS variant, custkey AS key FROM (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    doc="""Consolidated SURVEY §2.7 face: UNION ALL (pure concatenation, no
    shuffle), INTERSECT and EXCEPT (distinct semantics, hash-partitioned
    on the full row) witnessed in one query; per-variant forms
    (``set_union``/``set_intersect``/``set_except``) stay registered for
    the replica.""",
)
