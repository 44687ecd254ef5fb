"""Correctness checks for the dashboard queries: DuckDB restatements over
the same parquet star, an order-insensitive value comparison (the repo's
oracle pattern), and a fast result hash for the timed runs."""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import Counter

import pandas as pd

# Spark column order of star.reconstruct_wide: a left join on a column
# name puts the key first, then the remaining left columns, then the
# remaining right columns.
_RECONSTRUCT_JOINS = [
    ("ra", "race", "raceId"),
    ("d", "driver", "driverId"),
    ("t", "team", "constructorId"),
    ("s", "status_dim", "statusId"),
    ("l", "location_dim", "locationId"),
    ("dd", "date_dim", "date"),
]

SQL_SEASON_TEAM_POINTS = """
SELECT t.name_team, YEAR(r.date) AS season, SUM(s.points) AS points,
       COUNT(DISTINCT s.driverId) AS drivers, COUNT(*) AS n_results
FROM results s
JOIN race r ON s.raceId = r.race_id
JOIN team t ON s.constructorId = t.constructorId
GROUP BY t.name_team, YEAR(r.date)
"""

_ORACLES = {
    "driver_standings_recompute": """
        WITH cum AS (
          SELECT s.driverId, s.raceId, r.date, SUM(s.points) AS race_points,
                 SUM(CASE WHEN s.position_order = 1 THEN 1 ELSE 0 END) AS race_wins
          FROM results s JOIN race r ON s.raceId = r.race_id
          GROUP BY s.driverId, s.raceId, r.date
        ), c2 AS (
          SELECT *,
            SUM(race_points) OVER (PARTITION BY driverId ORDER BY date NULLS FIRST, raceId
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS points_cum,
            SUM(race_wins) OVER (PARTITION BY driverId ORDER BY date NULLS FIRST, raceId
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wins_cum
          FROM cum
        )
        SELECT raceId, driverId, points_cum AS points_recomputed,
               wins_cum AS wins_recomputed,
               RANK() OVER (PARTITION BY raceId ORDER BY points_cum DESC NULLS LAST,
                            wins_cum DESC NULLS LAST, driverId) AS position_recomputed
        FROM c2
    """,
    "fastest_lap_ranking": """
        SELECT raceId, driverId, fastestLapTime,
               RANK() OVER (PARTITION BY raceId ORDER BY fastestLapTime ASC NULLS LAST,
                            driverId) AS fastest_rank
        FROM results WHERE fastestLapTime IS NOT NULL
    """,
    "pitstop_aggregates": """
        SELECT race_id, driver_id, COUNT(*) AS n_stops,
               ROUND(AVG(duration), 3) AS avg_duration, MIN(duration) AS min_duration
        FROM pit_stop GROUP BY race_id, driver_id
    """,
    "season_team_rollup": """
        SELECT YEAR(r.date) AS year, s.constructorId, SUM(s.points) AS total_points,
               COUNT(*) AS n_results
        FROM results s JOIN race r ON s.raceId = r.race_id
        GROUP BY ROLLUP (YEAR(r.date), s.constructorId)
    """,
    "sql_season_team_points": SQL_SEASON_TEAM_POINTS,
}


def reconstruct_wide_sql(schemas: dict[str, list[str]]) -> tuple[str, list[str]]:
    """DuckDB restatement of ``star.reconstruct_wide``. Returns the SQL
    and the Spark column names it reproduces, in Spark's order (the
    results are compared positionally; names may repeat)."""
    cols = [("res", c) for c in schemas["results"]]  # (alias, DuckDB column)
    names = list(schemas["results"])  # Spark output names
    from_sql = "results res"
    for alias, table, key in _RECONSTRUCT_JOINS:
        tcols = schemas[table]
        tnames = ["raceId" if (table == "race" and c == "race_id") else c for c in tcols]
        k = names.index(key)
        left_key = cols[k]
        cols = [left_key] + cols[:k] + cols[k + 1:]
        names = [key] + names[:k] + names[k + 1:]
        for c, n in zip(tcols, tnames):
            if n != key:
                cols.append((alias, c))
                names.append(n)
        duck_key = tcols[tnames.index(key)]
        from_sql += f" LEFT JOIN {table} {alias} ON {left_key[0]}.{left_key[1]} = {alias}.{duck_key}"
    select = ", ".join(f"{a}.{c} AS c{i}" for i, (a, c) in enumerate(cols))
    return f"SELECT {select} FROM {from_sql}", names


def register_star(con, star_dir: str, tables) -> dict[str, list[str]]:
    """Create one DuckDB view per star table; return their column lists."""
    schemas = {}
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}/*.parquet')"
        )
        schemas[t] = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
    return schemas


def oracle_sql(name: str, schemas: dict[str, list[str]]) -> tuple[str, list[str] | None]:
    """DuckDB SQL for query ``name`` and, where the column order must be
    checked explicitly, the Spark column names it lines up with."""
    if name == "reconstruct_wide":
        return reconstruct_wide_sql(schemas)
    return _ORACLES[name], None


def _norm(v):
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    return str(v) if v is not None else "None"


def same_rows(spark_rows, duck_rows) -> bool:
    """Order-insensitive comparison of two results, columns positional."""
    a = Counter(tuple(_norm(v) for v in r) for r in spark_rows)
    b = Counter(tuple(_norm(v) for v in r) for r in duck_rows)
    return a == b


def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a collected result: per-row hashes
    summed modulo 2**64, plus the column names and row count."""
    row_sum = int(pd.util.hash_pandas_object(pdf, index=False).sum()) if len(pdf) else 0
    h = hashlib.sha256(f"{list(pdf.columns)}|{len(pdf)}|{row_sum}".encode())
    return h.hexdigest()[:16]
