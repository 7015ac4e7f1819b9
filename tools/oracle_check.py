"""Local replica of the driver's t2 correctness gate.

Runs each registered query's Spark fn and DuckDB oracle side-by-side and
compares row count, column names, and values (order-insensitive, exact
equality after canonicalization).  Use while iterating:

    python tools/oracle_check.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from gordo_components_spark.sources.tables import TABLES  # noqa: E402


def _map_count() -> int:
    """This process's memory mappings (one line each in /proc/self/maps)."""
    with open("/proc/self/maps") as fh:
        return sum(1 for _ in fh)


def _max_map_count() -> str:
    try:
        with open("/proc/sys/vm/max_map_count") as fh:
            return fh.read().strip()
    except OSError:
        return "unknown"


def _canon_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return float(v)
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        v = v.to_pydatetime()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    return v


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def check_one(spark, con, name, spec, sf_dir):
    t0 = time.time()
    sdf = spec.fn(spark, sf_dir)
    spark_pd = sdf.toPandas()
    t_spark = time.time() - t0
    if spec.oracle is None:
        return {
            "name": name, "status": "ROWS_ONLY", "rows": len(spark_pd),
            "ok": len(spark_pd) >= 0, "t_spark": t_spark,
        }
    t0 = time.time()
    duck_pd = con.execute(spec.oracle).fetch_df()
    t_duck = time.time() - t0
    res = {"name": name, "t_spark": t_spark, "t_duck": t_duck,
           "rows": len(spark_pd), "oracle_rows": len(duck_pd)}
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        res.update(status="SCHEMA_MISMATCH", ok=False,
                   spark_cols=sorted(spark_pd.columns), duck_cols=sorted(duck_pd.columns))
        return res
    if len(spark_pd) != len(duck_pd):
        res.update(status="ROWCOUNT_MISMATCH", ok=False)
        return res
    a, b = canon_rows(spark_pd), canon_rows(duck_pd)
    diffs = [(i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y]
    if diffs:
        res.update(status="VALUE_MISMATCH", ok=False, n_diffs=len(diffs),
                   sample=diffs[:3], cols=sorted(spark_pd.columns))
    else:
        res.update(status="OK", ok=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--json",
        metavar="PATH",
        help="also write per-query results (name, status, rows, t_spark) "
        "as a JSON artifact — the committed in-repo evidence for the "
        "queries outside the driver's 50-slot witness window "
        "(e.g. ORACLE_r15.json)",
    )
    args = ap.parse_args()

    from gordo_components_spark.registry import load_all
    from gordo_components_spark.session import get_spark

    registry = load_all()
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Bound the ORACLE side and give it a spill path (round-10,
    # root-caused with a /proc/PID/maps monitor): the full-registry
    # sf0.1 session died in pipe_bpe_merges' 24-CTE oracle with
    # "Failed to allocate block of 32768 bytes" while 120 GB of RAM sat
    # free — the process had hit vm.max_map_count (65530) EXACTLY.
    # DuckDB's buffer manager allocates 256 KB blocks through malloc,
    # glibc mmaps every allocation past the 128 KB threshold, so a
    # 16 GB buffer pool is 65536 mappings — the map quota, not memory,
    # is the binding constraint.  8 GB caps the pool at 32768 mappings
    # (plus ~3k for python/pyarrow/py4j) and the temp_directory lets the
    # heavy chain SPILL instead of raising (an in-memory duckdb
    # connection has no spill path by default).  DuckDB's bundled
    # jemalloc also RETAINS small anonymous mappings across a long
    # session, so the run ends by printing its own map count against
    # the quota; the check never changes the kernel setting.
    os.makedirs("/tmp/gordo_duck_spill", exist_ok=True)
    con.execute("SET memory_limit='8GB'")
    con.execute("SET temp_directory='/tmp/gordo_duck_spill'")
    con.execute("SET threads TO 16")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    names = args.names or sorted(registry)
    n_ok = 0
    failed = []
    results = []
    for name in names:
        if name not in registry:
            print(f"{name:32s} UNKNOWN")
            continue
        try:
            res = check_one(spark, con, name, registry[name], args.sf)
        except Exception as e:
            res = {"name": name, "status": "ERROR", "ok": False, "err": f"{type(e).__name__}: {e}"}
            if "-v" in sys.argv or True:
                traceback.print_exc(limit=3)
        finally:
            # release per-query persisted frames so a 216-query replica
            # run holds one query's caches at a time, not the union —
            # an sf0.1 full run otherwise accumulates every
            # persist_tracked frame in executor memory (observed: a
            # full-registry leg died mid-run under that pressure)
            try:
                from gordo_components_spark.caches import release_caches

                release_caches()
            except Exception:
                pass
        mark = "PASS" if res.get("ok") else "FAIL"
        if res.get("ok"):
            n_ok += 1
        else:
            failed.append(name)
        extra = {k: v for k, v in res.items() if k not in ("name", "ok")}
        print(f"{name:32s} {mark}  {extra}")
        results.append(
            {
                "name": name,
                "status": res.get("status", "ERROR"),
                "rows": res.get("rows"),
                "t_spark": round(res["t_spark"], 3) if "t_spark" in res else None,
            }
        )
    print(f"\n{n_ok}/{len(names)} ok; failed: {failed}")
    print(f"memory maps: {_map_count()} of vm.max_map_count {_max_map_count()}")
    if args.json:
        import json

        doc = {
            "sf": args.sf,
            "n_queries": len(names),
            "n_ok": n_ok,
            "failed": failed,
            "results": results,
        }
        with open(args.json, "w") as fh:
            json.dump(doc, fh, indent=1)
        print(f"wrote {args.json}")
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
