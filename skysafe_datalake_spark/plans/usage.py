"""Usage stage: serving-layer projection + keyed upsert semantics
(reference ``/root/reference/src/index_elastic.py:88-158,199-211``).

The reference collect()s every row to the Python driver and bulk-
posts to Elasticsearch — the one place it abandons distributed
execution (SURVEY.md §3 step 5). Engine-native replacement:
- the wide projection / w_-prefix strip stays a single select (P4);
  a minute's enriched rows are already one per ``icao24`` (the NN
  join's argmin groups by it), so the minute's usage needs no dedup;
- upsert-by-key (ES ``_id=icao24``) across minutes becomes a
  deterministic latest-row-per-key merge (argmax over extracted_at)
  into a hash-bucketed table — the stream's extra sink;
- lat/lon merge into a ``location`` struct (geo_point shape).
A distributed ES sink would attach here via the es-hadoop connector
(``org.elasticsearch.spark.sql``, es.mapping.id=icao24) when its jar
is on the classpath; parquet is the serving sink otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skysafe_datalake_spark.catalog import hadoop_ls

# usage projection: flight + unprefixed weather + derived cols
# (reference src/index_elastic.py:88-123; FIXTURES.md §5).
_FLIGHT_COLS = (
    "icao24",
    "callsign",
    "origin_country",
    "latitude",
    "longitude",
    "baro_altitude",
    "geo_altitude",
    "velocity",
    "true_track",
    "vertical_rate",
    "on_ground",
    "observation_time",
)
_WEATHER_STRIP = (
    "wind_speed_10m",
    "wind_direction_10m",
    "wind_gusts_10m",
    "precipitation",
    "rain",
    "cloud_cover",
    "weather_code",
    "visibility",
    "temperature_2m",
)
_DERIVED = (
    "dist_km",
    "risk_score",
    "risk_category",
    "flight_phase",
    "flight_phase_id",
    "is_anomaly",
    "anomaly_score",
    "extracted_at",
)


def usage_projection(enriched: DataFrame) -> DataFrame:
    cols = [F.col(c) for c in _FLIGHT_COLS]
    cols += [F.col(f"w_{c}").alias(c) for c in _WEATHER_STRIP]
    cols += [F.col(c) for c in _DERIVED]
    return enriched.select(*cols)


def latest_per_key(df: DataFrame, key: str = "icao24", ts: str = "extracted_at") -> DataFrame:
    """Keyed upsert semantics: keep the newest row per key.

    min(struct(null flag, -micros, payload)) is an argmax with a total
    order (ties by payload — deterministic, unlike dropDuplicates), and
    partial aggregation combines map-side. A NULL timestamp loses to
    every real row (a null first field would win min(struct) forever),
    and recency compares at microsecond precision, not whole seconds.
    """
    payload = [c for c in df.columns if c != key]
    ordered = df.select(
        F.col(key),
        F.struct(
            F.col(ts).isNull().cast("int").alias("_null"),
            (-F.unix_micros(F.col(ts).cast("timestamp"))).alias("_neg_ts"),
            F.struct(*payload).alias("_row"),
        ).alias("_s"),
    )
    best = ordered.groupBy(key).agg(F.min("_s").alias("_m"))
    return best.select(key, *[F.col(f"_m._row.{c}").alias(c) for c in payload])


def with_location(df: DataFrame) -> DataFrame:
    """geo_point struct assembly (reference src/index_elastic.py:146-150)."""
    return df.withColumn(
        "location",
        F.when(
            F.col("latitude").isNotNull() & F.col("longitude").isNotNull(),
            F.struct(F.col("latitude").alias("lat"), F.col("longitude").alias("lon")),
        ),
    )


def build_usage(enriched: DataFrame) -> DataFrame:
    return with_location(usage_projection(enriched))


def upsert_partitioned(
    batch: DataFrame,
    table_dir: str,
    *,
    key: str = "icao24",
    ts_col: str = "extracted_at",
    n_buckets: int = 64,
) -> None:
    """MERGE-equivalent keyed upsert into a hash-bucketed parquet
    table: only the buckets the batch touches are read and rewritten.

    The table is partitioned by ``kb = pmod(xxhash64(key),
    n_buckets)``. A batch touching k keys reads ≤ min(k, n_buckets)
    partitions, merges them with :func:`latest_per_key`, and writes
    back through dynamic partition overwrite: one write job, untouched
    partitions never rewritten, so work is O(touched buckets), not
    O(table). The self-read is safe because dynamic overwrite replaces
    files at job commit, after the merge tasks have scanned them. Size
    ``n_buckets`` so one bucket is a few hundred MB at the target key
    count; with Delta/Iceberg this becomes ``MERGE INTO``.
    """
    spark = batch.sparkSession
    bucketed = batch.withColumn(
        "kb", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )
    exists = any(not n.startswith((".", "_")) for n, _d in hadoop_ls(spark, table_dir))
    if exists:
        touched = [r["kb"] for r in bucketed.select("kb").distinct().collect()]
        existing = spark.read.parquet(table_dir).where(F.col("kb").isin(touched))
        merged = latest_per_key(existing.unionByName(bucketed), key=key, ts=ts_col)
    else:
        merged = latest_per_key(bucketed, key=key, ts=ts_col)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb")
        .parquet(table_dir)
    )
