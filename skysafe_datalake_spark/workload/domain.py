"""SkySafe domain queries: the reference pipeline's operators on the
driver's synthetic tables (nearest-station spatial join, risk scoring,
flight-phase rules)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skysafe_datalake_spark.functions.geo import haversine_km
from skysafe_datalake_spark.functions.phase import flight_phase_id, flight_phase_rules
from skysafe_datalake_spark.functions.risk import risk_category, risk_score
from skysafe_datalake_spark.operators.nn_join import nearest_neighbor_join
from skysafe_datalake_spark.workload.registry import register
from skysafe_datalake_spark.workload.tables import (
    HAVERSINE_SQL,
    LATTICE_STATIONS_SQL,
    pround,
    pround_sql,
    STATIONS_CTE,
    SYNTHETIC_FLIGHTS_SQL,
    load,
    stations_df,
    stations_weather_df,
    synthetic_flights,
)


def _nearest_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flights x 6 stations -> top-1 by Haversine (J2/W1/P2/F1)."""
    flights = synthetic_flights(load(spark, sf_dir, "events"))
    stations = stations_df(spark)
    dist = haversine_km("lat", "lon", "s_lat", "s_lon")
    return nearest_neighbor_join(
        flights,
        stations,
        partition_by=["flight_id"],
        distance=dist,
        distance_name="dist_raw",
        order_by=pround(F.col("dist_raw"), 6),
        tie_breakers=["station_id"],
    )


_NEAREST_SQL = f"""
WITH flights AS ({SYNTHETIC_FLIGHTS_SQL}),
{STATIONS_CTE},
joined AS (
  SELECT f.*, s.*, {HAVERSINE_SQL} AS dist_raw
  FROM flights f CROSS JOIN stations s
),
nearest AS (
  SELECT * FROM joined
  QUALIFY row_number() OVER (
    PARTITION BY flight_id ORDER BY floor(dist_raw * 1000000.0 + 0.5) / 1000000.0, station_id) = 1
)
"""


@register(
    "nn_station_join",
    _NEAREST_SQL
    + """
SELECT flight_id, station_id, floor(dist_raw * 10000.0 + 0.5) / 10000.0 AS dist_km
FROM nearest
""",
)
def nn_station_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature operator: nearest-neighbor spatial join
    (reference /root/reference/src/combine_spark.py:104-122)."""
    nearest = _nearest_station(spark, sf_dir)
    return nearest.select(
        "flight_id",
        "station_id",
        pround(F.col("dist_raw"), 4).alias("dist_km"),
    )


_RISK_SQL_TERMS = """
  CAST(
      (CASE WHEN weather_code >= 95 THEN 40 ELSE 0 END)
    + (CASE WHEN wind_gusts_10m > 80 THEN 25
            WHEN wind_gusts_10m > 50 THEN 10 ELSE 0 END)
    + (CASE WHEN precipitation > 5 THEN 20
            WHEN precipitation > 0 THEN 10 ELSE 0 END)
    + (CASE WHEN visibility < 1000 THEN 20
            WHEN visibility < 3000 THEN 10 ELSE 0 END)
    + (CASE WHEN cloud_cover > 80 THEN 10
            WHEN cloud_cover > 50 THEN 5 ELSE 0 END)
    + (CASE WHEN (NOT on_ground) AND baro_altitude < 300 THEN 15 ELSE 0 END)
  AS INTEGER)
"""


@register(
    "skysafe_enriched",
    _NEAREST_SQL
    + f"""
, scored AS (
  SELECT flight_id, station_id, floor(dist_raw * 10000.0 + 0.5) / 10000.0 AS dist_km,
         {_RISK_SQL_TERMS} AS risk_score,
         CASE WHEN baro_altitude < 300 AND velocity < 60 THEN 'Takeoff / Landing'
              WHEN baro_altitude > 3000 AND abs(vertical_rate) < 2.5 THEN 'Cruise'
              ELSE 'Climb / Descent' END AS flight_phase
  FROM nearest
)
SELECT flight_id, station_id, dist_km, risk_score,
       CASE WHEN risk_score >= 60 THEN 'HIGH'
            WHEN risk_score >= 30 THEN 'MEDIUM'
            ELSE 'LOW' END AS risk_category,
       flight_phase,
       CAST(CASE WHEN flight_phase = 'Takeoff / Landing' THEN 0
                 WHEN flight_phase = 'Climb / Descent' THEN 1
                 ELSE 2 END AS INTEGER) AS flight_phase_id
FROM scored
""",
)
def skysafe_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship minimum slice (SURVEY.md §7.3): nearest station +
    risk score/category + rules-based flight phase, all native
    expressions."""
    nearest = _nearest_station(spark, sf_dir)
    score = risk_score(
        weather_code=F.col("weather_code"),
        wind_gusts_10m=F.col("wind_gusts_10m"),
        precipitation=F.col("precipitation"),
        visibility=F.col("visibility"),
        cloud_cover=F.col("cloud_cover"),
        on_ground=F.col("on_ground"),
        baro_altitude=F.col("baro_altitude"),
    ).cast("int")
    phase = flight_phase_rules(
        F.col("baro_altitude"), F.col("velocity"), F.col("vertical_rate")
    )
    return (
        nearest.withColumn("risk_score", score)
        .withColumn("risk_category", risk_category(F.col("risk_score")))
        .withColumn("flight_phase", phase)
        .withColumn("flight_phase_id", flight_phase_id(F.col("flight_phase")).cast("int"))
        .select(
            "flight_id",
            "station_id",
            pround(F.col("dist_raw"), 4).alias("dist_km"),
            "risk_score",
            "risk_category",
            "flight_phase",
            "flight_phase_id",
        )
    )


# ───────────────────── pipeline-stage queries ────────────────────


@register(
    "keyed_upsert_latest",
    """
SELECT user_id, event_id AS last_event_id, value AS last_value
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
""",
)
def keyed_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-upsert serving semantics (reference S10: ES _id=icao24
    upsert, /root/reference/src/index_elastic.py:199-211): newest row
    per key, deterministic tie-break."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "streaming_windowed_counts",
    """
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
                  value FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM e
GROUP BY date_trunc('hour', ts), event_type
""",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming tumbling-window aggregation plan
    (streaming.driver.windowed_event_counts) run in batch mode —
    window() + watermark semantics are identical either way, which is
    what makes the streaming stage oracle-checkable."""
    from skysafe_datalake_spark.streaming.driver import windowed_event_counts

    return windowed_event_counts(load(spark, sf_dir, "events"))


def skysafe_ml_flights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flights :func:`skysafe_ml_full` feeds the combine stage:
    synthetic positions over ``events``, keyed by ``icao24``."""
    return synthetic_flights(load(spark, sf_dir, "events")).select(
        F.col("flight_id").cast("string").alias("icao24"),
        F.col("lat").alias("latitude"),
        F.col("lon").alias("longitude"),
        "baro_altitude",
        "on_ground",
        "velocity",
        "vertical_rate",
    )


def skysafe_ml_columns(flights: DataFrame, weather: DataFrame) -> DataFrame:
    """Combine + ML over ``flights`` × ``weather``, projected to the
    eight columns :func:`skysafe_ml_full` returns."""
    from skysafe_datalake_spark.plans.combine import combine_enrich

    enriched, _info = combine_enrich(flights, weather)
    return enriched.select(
        "icao24",
        pround(F.col("dist_km"), 4).alias("dist_km"),
        "risk_score",
        "risk_category",
        "flight_phase",
        "flight_phase_id",
        "is_anomaly",
        "anomaly_score",
    )


def skysafe_ml_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full combine+ML output (M1-M7), ALL eight columns including the
    KMeans-derived flight_phase/flight_phase_id and the μ+2σ
    is_anomaly/anomaly_score. Pinned by the golden md5 snapshot
    (tests/test_domain_pipeline.py::test_ml_pipeline_golden_snapshot_sf001)
    — the ML columns are not SQL-expressible, so the snapshot is their
    verification; the registered gate query below projects the
    relational subset the DuckDB oracle CAN re-derive."""
    return skysafe_ml_columns(
        skysafe_ml_flights(spark, sf_dir), stations_weather_df(spark)
    )


_ML_RELATIONAL_SQL = f"""
WITH flights AS ({SYNTHETIC_FLIGHTS_SQL}),
{STATIONS_CTE},
joined AS (
  SELECT f.*, s.*, {HAVERSINE_SQL} AS dist_raw
  FROM flights f CROSS JOIN stations s
),
nearest AS (
  SELECT * FROM joined
  QUALIFY row_number() OVER (
    PARTITION BY flight_id ORDER BY dist_raw, s_lat, s_lon) = 1
),
scored AS (
  SELECT CAST(flight_id AS VARCHAR) AS icao24,
         {pround_sql("dist_raw", 4)} AS dist_km,
         {_RISK_SQL_TERMS} AS risk_score
  FROM nearest
)
SELECT icao24, dist_km, risk_score,
       CASE WHEN risk_score >= 60 THEN 'HIGH'
            WHEN risk_score >= 30 THEN 'MEDIUM'
            ELSE 'LOW' END AS risk_category
FROM scored
"""


@register("skysafe_ml_pipeline", _ML_RELATIONAL_SQL)
def skysafe_ml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full combine+ML stage (M1-M7): nearest-station join → risk →
    K-Means phase classification (k=3, fitted on the driver, best of
    10 seeded starts) with rules fallback → μ+2σ anomaly flags. The
    WHOLE pipeline executes (the checkpoint, the driver-side fit,
    centroid gate, label stats, and anomaly threshold all run eagerly
    during plan construction); the returned frame projects the
    relational columns (icao24, dist_km, risk_score, risk_category —
    reference ``src/combine_spark.py:104-173`` semantics) so the
    driver's DuckDB oracle hash-verifies them instead of recording the
    former blanket rows-only check (VERDICT r9 #4). The four
    ML-derived columns stay pinned by the golden md5 over
    :func:`skysafe_ml_full`, and closed-form twins drive the KMeans
    branch (``ml_kmeans_strata``) and rules branch
    (``ml_rules_fallback``) against full oracles."""
    return skysafe_ml_full(spark, sf_dir).select(
        "icao24", "dist_km", "risk_score", "risk_category"
    )


@register(
    "nn_station_topk",
    _NEAREST_SQL.replace(
        "PARTITION BY flight_id ORDER BY floor(dist_raw * 1000000.0 + 0.5) / 1000000.0, station_id) = 1",
        "PARTITION BY flight_id ORDER BY floor(dist_raw * 1000000.0 + 0.5) / 1000000.0, station_id) <= 3",
    )
    + """
SELECT flight_id, station_id,
       CAST(row_number() OVER (
         PARTITION BY flight_id
         ORDER BY floor(dist_raw * 1000000.0 + 0.5) / 1000000.0, station_id
       ) AS INTEGER) AS rank,
       floor(dist_raw * 10000.0 + 0.5) / 10000.0 AS dist_km
FROM nearest
""",
)
def nn_station_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 nearest stations per flight — exercises the generic
    window-rank strategy of nearest_neighbor_join (k>1 can't use the
    argmin partial-agg fast path; it broadcasts the station side and
    ranks within each flight partition). Same shuffle bound as k=1:
    one exchange keyed on flight_id."""
    flights = synthetic_flights(load(spark, sf_dir, "events"))
    stations = stations_df(spark)
    dist = haversine_km("lat", "lon", "s_lat", "s_lon")
    nn = nearest_neighbor_join(
        flights,
        stations,
        partition_by=["flight_id"],
        distance=dist,
        k=3,
        distance_name="dist_raw",
        order_by=pround(F.col("dist_raw"), 6),
        tie_breakers=["station_id"],
        rank_name="_nn_rank",
    )
    return nn.select(
        "flight_id",
        "station_id",
        F.col("_nn_rank").cast("int").alias("rank"),
        pround(F.col("dist_raw"), 4).alias("dist_km"),
    )


@register(
    "nn_station_grid",
    f"""
WITH flights AS ({{SYN}}),
stations AS ({{LATTICE}}),
joined AS (
  SELECT f.flight_id, f.lat, f.lon, s.station_id, s.s_lat, s.s_lon,
         {HAVERSINE_SQL} AS dist_raw
  FROM flights f CROSS JOIN stations s
),
nearest AS (
  SELECT * FROM joined
  QUALIFY row_number() OVER (
    PARTITION BY flight_id
    ORDER BY floor(dist_raw * 1000000.0 + 0.5) / 1000000.0, station_id) = 1
)
SELECT flight_id, station_id,
       floor(dist_raw * 10000.0 + 0.5) / 10000.0 AS dist_km
FROM nearest
""".replace("{SYN}", SYNTHETIC_FLIGHTS_SQL).replace(
        "{LATTICE}", LATTICE_STATIONS_SQL
    ),
)
def nn_station_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN join WITHOUT broadcasting the right side: 600 lattice
    stations resolved through grid_nn_join's cell-ring candidate
    equi-join (25 probe cells per flight, shuffled hash join on the
    cell key, map-side argmin). The oracle is the exact full cross
    join — the ring search must lose nothing, which the lattice's
    ≥1-station-per-cell density guarantees (operators/nn_join.py
    CORRECTNESS CONTRACT). This is the plan shape for the reference's
    J2 when the station side outgrows a broadcast (SURVEY.md §7.4
    'NN join at scale')."""
    from skysafe_datalake_spark.operators.nn_join import grid_nn_join
    from skysafe_datalake_spark.workload.tables import lattice_stations_df

    flights = synthetic_flights(load(spark, sf_dir, "events")).select(
        "flight_id", "lat", "lon"
    )
    stations = lattice_stations_df(spark)
    nn = grid_nn_join(
        flights,
        stations,
        partition_by=["flight_id"],
        left_lat="lat",
        left_lon="lon",
        right_lat="s_lat",
        right_lon="s_lon",
        distance=haversine_km("lat", "lon", "s_lat", "s_lon"),
        cell_deg=0.5,
        ring=2,
        distance_name="dist_raw",
        order_by=pround(F.col("dist_raw"), 6),
        tie_breakers=["station_id"],
        keep=["station_id", "dist_raw"],
    )
    return nn.select(
        "flight_id",
        "station_id",
        pround(F.col("dist_raw"), 4).alias("dist_km"),
    )


# ─────────────────── spatial containment join ────────────────────

_N_BOXES = 15

_BBOX_SQL = f"""
WITH flights AS ({{SYN}}),
boxes AS (
  SELECT CAST(range AS BIGINT) AS box_id,
         41.5 + CAST(range % 5 AS DOUBLE) * 1.9 AS lat0,
         41.5 + CAST(range % 5 AS DOUBLE) * 1.9 + 2.5 AS lat1,
         -5.0 + CAST(range // 5 AS DOUBLE) * 4.8 AS lon0,
         -5.0 + CAST(range // 5 AS DOUBLE) * 4.8 + 3.7 AS lon1
  FROM range(0, {_N_BOXES})
)
SELECT b.box_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(f.flight_id) AS BIGINT) AS min_flight,
       CAST(MAX(f.flight_id) AS BIGINT) AS max_flight
FROM boxes b
JOIN flights f
  ON f.lat >= b.lat0 AND f.lat < b.lat1
 AND f.lon >= b.lon0 AND f.lon < b.lon1
GROUP BY b.box_id
""".replace("{SYN}", SYNTHETIC_FLIGHTS_SQL)


@register("spatial_bbox_join", _BBOX_SQL)
def spatial_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-rectangle containment join (geo-fencing flights into
    zones) via the cell-cover-then-refine pattern: each box explodes
    into the 1°-grid cells it overlaps (a handful of rows per box),
    points key to their containing cell, the join is a plain hash
    EQUI-join on the cell id, and the exact box bounds re-check runs
    as the join residual. The oracle is the direct theta join — the
    cell path must lose (and invent) nothing.

    Why this shape at scale: a containment theta join has no equi
    keys, so Spark would BroadcastNestedLoopJoin it — O(|points|·|boxes|)
    comparisons. Cell covering makes the candidate set
    O(|points| + Σ box_cells) with all the pruning in a hash join,
    the same trick grid_nn_join uses for nearest-neighbor; zone sets
    far too large to broadcast just shuffle by cell key."""
    flights = synthetic_flights(load(spark, sf_dir, "events"))
    i = F.col("id")
    boxes = spark.range(_N_BOXES).select(
        i.alias("box_id"),
        (F.lit(41.5) + (i % 5).cast("double") * 1.9).alias("lat0"),
        (F.lit(41.5) + (i % 5).cast("double") * 1.9 + 2.5).alias("lat1"),
        (F.lit(-5.0) + F.expr("id div 5").cast("double") * 4.8).alias("lon0"),
        (F.lit(-5.0) + F.expr("id div 5").cast("double") * 4.8 + 3.7).alias(
            "lon1"
        ),
    )
    box_cells = boxes.select(
        "box_id",
        "lat0",
        "lat1",
        "lon0",
        "lon1",
        F.explode(
            F.expr(
                "flatten(transform("
                "  sequence(cast(floor(lat0) as bigint),"
                "           cast(floor(lat1) as bigint)),"
                "  la -> transform("
                "    sequence(cast(floor(lon0) as bigint),"
                "             cast(floor(lon1) as bigint)),"
                "    lo -> struct(la as cla, lo as clo))))"
            )
        ).alias("cell"),
    ).select(
        "box_id", "lat0", "lat1", "lon0", "lon1",
        F.col("cell.cla").alias("cla"), F.col("cell.clo").alias("clo"),
    )
    pts = flights.select(
        "flight_id",
        "lat",
        "lon",
        F.floor("lat").cast("bigint").alias("cla"),
        F.floor("lon").cast("bigint").alias("clo"),
    )
    contained = pts.join(F.broadcast(box_cells), ["cla", "clo"]).where(
        (F.col("lat") >= F.col("lat0"))
        & (F.col("lat") < F.col("lat1"))
        & (F.col("lon") >= F.col("lon0"))
        & (F.col("lon") < F.col("lon1"))
    )
    return contained.groupBy("box_id").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.min("flight_id").cast("bigint").alias("min_flight"),
        F.max("flight_id").cast("bigint").alias("max_flight"),
    )
