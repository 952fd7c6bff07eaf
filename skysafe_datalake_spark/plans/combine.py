"""Combine stage: flights x weather enrichment (reference
``/root/reference/src/combine_spark.py:60-400``).

Dataflow (reference step numbers):
  3-4. nearest-station spatial join: broadcast cross join + Haversine
       + top-1 per flight — via the generic nearest_neighbor_join
       operator (argmin strategy: shuffle volume == |flights|, not
       |flights|·|stations|)
  5-6. additive risk score + LOW/MEDIUM/HIGH category
  7.   K-Means phase classification + rules fallback + μ+2σ anomaly
       (ml.phase_kmeans)

Scale notes: the weather side is dimension-sized → always broadcast;
flight-side skew is irrelevant (keys are unique per aircraft); the
only exchange is the argmin combine. The ML stage checkpoints the
scored rows once and fits on the driver (see ``ml.phase_kmeans``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skysafe_datalake_spark.functions.geo import haversine_km
from skysafe_datalake_spark.functions.risk import risk_category, risk_score
from skysafe_datalake_spark.ml.phase_kmeans import PhaseModelInfo, classify_phases
from skysafe_datalake_spark.operators.nn_join import nearest_neighbor_join

# Weather columns joined onto each flight (prefixed w_ to avoid
# collisions — reference src/combine_spark.py:94-101, done there as N
# withColumnRenamed calls; here one projection).
WEATHER_COLS = (
    "latitude",
    "longitude",
    "elevation",
    "weather_time",
    "temperature_2m",
    "relative_humidity_2m",
    "wind_speed_10m",
    "wind_direction_10m",
    "wind_gusts_10m",
    "precipitation",
    "rain",
    "cloud_cover",
    "weather_code",
    "visibility",
)


def nearest_weather_join(flights: DataFrame, weather: DataFrame) -> DataFrame:
    """Reference steps 3-4 (J2): each flight joined to its closest
    weather station by Haversine distance."""
    w = weather.select([F.col(c).alias(f"w_{c}") for c in WEATHER_COLS])
    return nearest_neighbor_join(
        flights,
        w,
        partition_by=["icao24"],
        distance=haversine_km("latitude", "longitude", "w_latitude", "w_longitude"),
        distance_name="dist_km",
        tie_breakers=["w_latitude", "w_longitude"],
    )


def score_risk(df: DataFrame) -> DataFrame:
    """Reference steps 5-6: additive risk + category."""
    return df.withColumn(
        "risk_score",
        risk_score(
            weather_code=F.col("w_weather_code"),
            wind_gusts_10m=F.col("w_wind_gusts_10m"),
            precipitation=F.col("w_precipitation"),
            visibility=F.col("w_visibility"),
            cloud_cover=F.col("w_cloud_cover"),
            on_ground=F.col("on_ground"),
            baro_altitude=F.col("baro_altitude"),
        ).cast("int"),
    ).withColumn("risk_category", risk_category(F.col("risk_score")))


def combine_enrich(
    flights: DataFrame, weather: DataFrame
) -> tuple[DataFrame, PhaseModelInfo]:
    """Full combine stage → enriched table + model info."""
    nearest = nearest_weather_join(flights, weather)
    scored = score_risk(nearest)
    return classify_phases(scored)
