"""Output checks, computed in DuckDB from the generated inputs."""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa

# Same formula as functions.geo.haversine_km, over (lat, lon) x (s_lat, s_lon).
_DIST = "2.0 * 6371.0 * atan2(sqrt({a}), sqrt(1.0 - ({a})))".format(
    a="sin(radians(s_lat - lat) / 2) * sin(radians(s_lat - lat) / 2)"
    " + cos(radians(lat)) * cos(radians(s_lat))"
    " * sin(radians(s_lon - lon) / 2) * sin(radians(s_lon - lon) / 2)"
)
_RISK = """
      CASE WHEN weather_code >= 95 THEN 40 ELSE 0 END
    + CASE WHEN wind_gusts_10m > 80 THEN 25 WHEN wind_gusts_10m > 50 THEN 10 ELSE 0 END
    + CASE WHEN precipitation > 5 THEN 20 WHEN precipitation > 0 THEN 10 ELSE 0 END
    + CASE WHEN visibility < 1000 THEN 20 WHEN visibility < 3000 THEN 10 ELSE 0 END
    + CASE WHEN cloud_cover > 80 THEN 10 WHEN cloud_cover > 50 THEN 5 ELSE 0 END
    + CASE WHEN NOT on_ground AND baro_altitude < 300 THEN 15 ELSE 0 END
"""


def check_usage(usage_dir: str, snapshot: dict, weather: list[dict]) -> list[str]:
    """Problems with one minute's usage partition, or [] if it holds
    exactly one row per positioned snapshot aircraft with the nearest
    station, risk score and category a recomputation gives."""
    files = glob.glob(os.path.join(usage_dir, "*.parquet"))
    if not files:
        return [f"no usage files in {usage_dir}"]
    con = duckdb.connect()
    try:
        states = [s for s in snapshot["states"] if s[5] is not None and s[6] is not None]
        con.register("flights", pa.table({
            "icao24": pa.array([s[0] for s in states], pa.string()),
            "lat": pa.array([s[6] for s in states], pa.float64()),
            "lon": pa.array([s[5] for s in states], pa.float64()),
            "on_ground": pa.array([s[8] for s in states], pa.bool_()),
            "baro_altitude": pa.array([s[7] for s in states], pa.float64()),
        }))
        current = [w["current"] for w in weather]
        con.register("stations", pa.table({
            "s_lat": pa.array([w["latitude"] for w in weather], pa.float64()),
            "s_lon": pa.array([w["longitude"] for w in weather], pa.float64()),
            "weather_code": pa.array([c["weather_code"] for c in current], pa.int32()),
            "wind_gusts_10m": pa.array([c["wind_gusts_10m"] for c in current], pa.float64()),
            "precipitation": pa.array([c["precipitation"] for c in current], pa.float64()),
            "visibility": pa.array([c["visibility"] for c in current], pa.float64()),
            "cloud_cover": pa.array([c["cloud_cover"] for c in current], pa.int32()),
        }))
        con.execute(f"CREATE VIEW usage AS SELECT * FROM read_parquet({files!r})")
        problems = []
        n_exp, n_rows, n_keys = con.execute(
            "SELECT (SELECT count(*) FROM flights), count(*), count(DISTINCT icao24) FROM usage"
        ).fetchone()
        if not n_exp == n_rows == n_keys:
            problems.append(f"{n_rows} usage rows, {n_keys} keys, {n_exp} aircraft")
        missing = con.execute(
            "SELECT count(*) FROM flights f ANTI JOIN usage u USING (icao24)"
        ).fetchone()[0]
        if missing:
            problems.append(f"{missing} aircraft missing from usage")
        bad = con.execute(
            f"""
            WITH d AS (
              SELECT f.*, s.*, {_DIST} AS dist
              FROM flights f CROSS JOIN stations s),
            best AS (
              SELECT *, {_RISK} AS risk FROM d
              QUALIFY row_number() OVER (
                PARTITION BY icao24 ORDER BY dist, s_lat, s_lon) = 1)
            SELECT count(*) FROM best b JOIN usage u USING (icao24)
            WHERE abs(u.dist_km - b.dist) > 1e-6 * greatest(1.0, b.dist)
               OR u.weather_code IS DISTINCT FROM b.weather_code
               OR u.wind_gusts_10m IS DISTINCT FROM b.wind_gusts_10m
               OR u.visibility IS DISTINCT FROM b.visibility
               OR u.risk_score IS DISTINCT FROM b.risk
               OR u.risk_category IS DISTINCT FROM
                  CASE WHEN b.risk >= 60 THEN 'HIGH'
                       WHEN b.risk >= 30 THEN 'MEDIUM' ELSE 'LOW' END
            """
        ).fetchone()[0]
        if bad:
            problems.append(f"{bad} rows differ in nearest station or risk")
        return problems
    finally:
        con.close()


def _norm(v) -> str:
    return repr(v) if isinstance(v, float) else str(v)


def canonical_rows(columns: list[str], rows) -> list[str]:
    """Order-free, column-order-free rendering of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def oracle_rows(con, sql: str) -> list[str]:
    rel = con.sql(sql)
    return canonical_rows(rel.columns, rel.fetchall())


def lake_connection(table_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{table_dir}/{name}.parquet'"
        )
    return con
