"""``registry.register_sql``: one SQL text is both the Spark query and
the DuckDB oracle, reading the fixture tables the text names."""

import importlib.util
import os

import duckdb
import pytest

from gordo_components_spark import registry
from gordo_components_spark.registry import load_all


def test_register_sql_reads_the_tables_its_text_names(monkeypatch):
    seen = {}
    monkeypatch.setattr(registry, "REGISTRY", {})
    monkeypatch.setattr(registry, "load_table", lambda spark, sf_dir, t: seen.setdefault(t, t))
    monkeypatch.setattr(registry, "sql_over", lambda frames, render: render(frames))
    registry.register_sql("probe", """
        SELECT o_orderkey, n_name AS nation_name, n_regionkey
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    """)
    sql = registry.REGISTRY["probe"].fn(None, "sf")
    # whole words only: nation_name and n_regionkey name no table
    assert list(seen) == ["nation", "customer", "orders"]
    assert sql.startswith("WITH nation AS (SELECT * FROM nation), customer AS")


def test_register_sql_refuses_a_text_without_a_fixture_table(monkeypatch):
    monkeypatch.setattr(registry, "REGISTRY", {})
    with pytest.raises(ValueError, match="names no fixture table"):
        registry.register_sql("probe", "SELECT 1 AS one FROM range(3) AS eventsx")
    assert "probe" not in registry.REGISTRY


def test_register_sql_queries_match_their_oracle(spark, sf_dir):
    # the driver's t2 parity check, run over every one-text query at the
    # sf0.001 fixture: a failure is an engine or loader difference
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    loader = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py")
    )
    oracle_check = importlib.util.module_from_spec(loader)
    loader.loader.exec_module(oracle_check)
    # a register_sql fn is defined in registry.py; a @register body is not
    queries = {n: s for n, s in load_all().items() if s.fn.__module__ == registry.__name__}
    assert len(queries) >= 78
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    failed = {}
    for name, spec in queries.items():
        res = oracle_check.check_one(spark, con, name, spec, sf_dir)
        if not res["ok"]:
            failed[name] = {k: v for k, v in res.items() if k not in ("name", "ok")}
    assert not failed, failed
