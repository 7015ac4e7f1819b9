"""DuckDB reference results for the benchmark's output checks.

Every check runs after the timed window. Each function returns the
reference rows for one sampled response; the workloads compare them
with what the program returned.
"""

from __future__ import annotations

import math
import os

import duckdb

RESOLUTION_MINUTES = {"10T": 10, "30T": 30, "60T": 60}


class Reference:
    """One in-memory DuckDB connection with views over the input tables."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for name in ("events", "documents", "embeddings"):
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str, params=None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    def dataset(self, req: dict) -> list[tuple]:
        """Resample → pivot → inner dropna → row filter (± buffer) of
        ``TimeSeriesDataset.get_data``, as (ts, *tags in request order)."""
        tags = sorted(set(req["tags"]))
        minutes = RESOLUTION_MINUTES[req["resolution"]]
        pivot = ", ".join(f"max(v) FILTER (WHERE tag = '{t}') AS {t}" for t in tags)
        sql = f"""
            WITH b AS (
              SELECT time_bucket(INTERVAL '{minutes} minutes', ts) AS ts, event_type AS tag,
                     round(avg(value), 9) AS v
              FROM events
              WHERE ts >= ?::TIMESTAMP AND ts < ?::TIMESTAMP
                AND event_type IN ({", ".join(f"'{t}'" for t in tags)})
              GROUP BY 1, 2),
            wide AS (
              SELECT ts, {pivot} FROM b GROUP BY ts
              HAVING {" AND ".join(f"{t} IS NOT NULL" for t in tags)})
        """
        if req.get("row_filter") and req.get("buffer"):
            sql += f""", marked AS (
              SELECT *, CASE WHEN {req["row_filter"]} THEN 1 ELSE 0 END AS ok FROM wide),
            kept AS (
              SELECT *, min(ok) OVER (ORDER BY ts ROWS BETWEEN {req["buffer"]} PRECEDING
                                      AND {req["buffer"]} FOLLOWING) AS keep FROM marked)
            SELECT ts, {", ".join(req["tags"])} FROM kept WHERE keep = 1 ORDER BY ts"""
        elif req.get("row_filter"):
            sql += f"SELECT ts, {', '.join(req['tags'])} FROM wide WHERE {req['row_filter']} ORDER BY ts"
        else:
            sql += f"SELECT ts, {', '.join(req['tags'])} FROM wide ORDER BY ts"
        return self.rows(sql, [req["start"], req["end"]])

    def scored_keys(self, start: str, end: str, min_buckets: int) -> set[tuple]:
        """(machine, hour) feature rows in [start, end) of every machine the
        fleet train can fit (at least ``min_buckets`` active hours)."""
        return set(
            self.rows(
                """
                WITH fit AS (
                  SELECT user_id FROM events GROUP BY user_id
                  HAVING count(DISTINCT date_trunc('hour', ts)) >= ?)
                SELECT DISTINCT CAST(user_id AS VARCHAR), date_trunc('hour', ts)
                FROM events WHERE ts >= ?::TIMESTAMP AND ts < ?::TIMESTAMP
                  AND user_id IN (SELECT user_id FROM fit)
                """,
                [min_buckets, start, end],
            )
        )

    def tumbling(self, minutes: int = 10) -> list[tuple]:
        return self.rows(
            f"""SELECT event_type, time_bucket(INTERVAL '{minutes} minutes', ts), count(*),
                       round(avg(value), 9)
                FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
        )


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-6) -> bool:
    """Multiset equality with a relative tolerance on floats."""
    if len(got) != len(want):
        return False

    def key(row):
        return tuple((v is None, round(v, 4) if isinstance(v, float) else str(v)) for v in row)

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
