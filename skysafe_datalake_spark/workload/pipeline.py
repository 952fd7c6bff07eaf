"""End-to-end pipeline queries: the full DAG (extract → format →
combine → usage) run on deterministic fixture payloads derived from
the driver's tables, plus oracle-checkable companions for the ML
stage (rules-fallback path) — closing the two gaps the round-1
verdict called out (HTTP ingestion drivers, batch orchestration
entry, ML hard signal).

The fixture transport feeds the *production* token/fetch/tolerance
code (`sources.ingest`) — the only thing swapped out is the socket.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skysafe_datalake_spark.catalog import LakeCatalog
from skysafe_datalake_spark.errors import OverScaleRefusal
from skysafe_datalake_spark.functions.phase import flight_phase_id, flight_phase_rules
from skysafe_datalake_spark.plans.combine import combine_enrich
from skysafe_datalake_spark.plans.pipeline import run_batch_pipeline
from skysafe_datalake_spark.plans.usage import upsert_partitioned
from skysafe_datalake_spark.sources import ingest
from skysafe_datalake_spark.workload.domain import _RISK_SQL_TERMS
from skysafe_datalake_spark.workload.registry import register
from skysafe_datalake_spark.workload.tables import (
    HAVERSINE_SQL,
    STATIONS,
    STATIONS_CTE,
    SYNTHETIC_FLIGHTS_SQL,
    load,
    pround,
    pround_sql,
    stations_weather_df,
    synthetic_flights,
)

# ─────────────────── fixture payloads + transport ─────────────────

FIXTURE_CLOCK = datetime(2026, 2, 26, 14, 0, 30, tzinfo=timezone.utc)
FIXTURE_TS = datetime(2026, 2, 26, 14, 0, tzinfo=timezone.utc)


def states_payload(flight_rows) -> dict:
    """OpenSky ``/states/all``-shaped snapshot from synthetic flight
    rows (positional 17-slot arrays, reference
    ``src/format_flights.py:71-101``). JSON number round-tripping is
    exact (shortest-repr doubles), so the formatted layer reproduces
    the input doubles bit-for-bit."""
    states = []
    for r in flight_rows:
        fid = int(r["flight_id"])
        states.append(
            [
                str(fid),                      # icao24
                f"SYN{fid % 1000:03d}  ",      # callsign (padded, like the API)
                "France",                      # origin_country
                1700000000,                    # time_position
                1700000060,                    # last_contact
                float(r["lon"]),
                float(r["lat"]),
                float(r["baro_altitude"]),
                bool(r["on_ground"]),
                float(r["velocity"]),
                180.0,                         # true_track
                float(r["vertical_rate"]),
                None,                          # sensors
                float(r["baro_altitude"]) + 10.0,  # geo_altitude
                "7700",                        # squawk
                None,                          # spi
                0,                             # position_source
            ]
        )
    return {"time": 1700000100, "states": states}


def states_payload_columnar(pdf) -> dict:
    """:func:`states_payload` from a pandas frame (Arrow ``toPandas``
    collect) instead of pickled Rows — same payload bit-for-bit
    (float64 ``.tolist()`` yields the identical Python doubles, and
    JSON shortest-repr round-trips them exactly). The row-Row path
    paid pickle deserialization plus per-row ``__getitem__`` field
    lookups; this one is columnar end-to-end until the final zip
    (r13, guide §4/§6 Arrow-for-driver-transfers — measured on the
    e2e fixture's 100k-row snapshot: collect+payload 1.6 s -> 0.5 s)."""
    fids = [int(x) for x in pdf["flight_id"].tolist()]
    cols = zip(
        fids,
        pdf["lon"].tolist(),
        pdf["lat"].tolist(),
        pdf["baro_altitude"].tolist(),
        [bool(x) for x in pdf["on_ground"].tolist()],
        pdf["velocity"].tolist(),
        pdf["vertical_rate"].tolist(),
    )
    states = [
        [
            str(fid),
            f"SYN{fid % 1000:03d}  ",
            "France",
            1700000000,
            1700000060,
            lon,
            lat,
            alt,
            og,
            vel,
            180.0,
            vr,
            None,
            alt + 10.0,
            "7700",
            None,
            0,
        ]
        for fid, lon, lat, alt, og, vel, vr in cols
    ]
    return {"time": 1700000100, "states": states}


def weather_payload(station) -> dict:
    """Open-Meteo current-weather document for one STATIONS fixture
    row (constant filler for non-risk variables)."""
    _sid, lat, lon, wc, gusts, precip, vis, cloud = station
    return {
        "latitude": lat,
        "longitude": lon,
        "elevation": 100.0,
        "current": {
            "time": "2026-02-26T14:00",
            "temperature_2m": 10.0,
            "relative_humidity_2m": 60,
            "wind_speed_10m": 20.0,
            "wind_direction_10m": 200.0,
            "wind_gusts_10m": gusts,
            "precipitation": precip,
            "rain": precip,
            "cloud_cover": cloud,
            "weather_code": wc,
            "visibility": vis,
        },
    }


def fixture_transport(flights_doc: dict, weather_by_point: dict):
    """Transport serving canned payloads through the real client code:
    enforces the OAuth2 token exchange before serving states, looks
    weather up by (lat, lon), and raises HttpError for unknown points
    (exercising the per-point tolerance path)."""

    def transport(method, url, *, params=None, data=None, json_body=None,
                  headers=None, timeout=None):
        if url == ingest.OPENSKY_TOKEN_URL:
            if (data or {}).get("grant_type") != "client_credentials":
                raise ingest.HttpError("400 bad token request")
            return {"access_token": "fixture-token", "expires_in": 1800}
        if url == ingest.OPENSKY_BASE_URL + "/states/all":
            if (headers or {}).get("Authorization") != "Bearer fixture-token":
                raise ingest.HttpError("401 unauthorized")
            return json.loads(json.dumps(flights_doc))
        if url == ingest.OPEN_METEO_URL:
            key = (params["latitude"], params["longitude"])
            if key not in weather_by_point:
                raise ingest.HttpError(f"404 no weather for {key}")
            return json.loads(json.dumps(weather_by_point[key]))
        raise ingest.HttpError(f"unexpected url {url}")

    return transport


def fixture_clients(flights_doc: dict, weather_by_point: dict | None = None):
    if weather_by_point is None:
        weather_by_point = {(s[1], s[2]): weather_payload(s) for s in STATIONS}
    transport = fixture_transport(flights_doc, weather_by_point)
    clock = lambda: FIXTURE_CLOCK  # noqa: E731
    return (
        ingest.OpenSkyClient(
            transport, client_id="fixture", client_secret="secret", clock=clock
        ),
        ingest.OpenMeteoClient(transport, clock=clock),
    )


# ───────────────────── batch pipeline, end-to-end ─────────────────

_E2E_SQL = f"""
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
  SELECT flight_id, lat AS latitude, lon AS longitude, baro_altitude,
         velocity, vertical_rate, on_ground, weather_code, wind_gusts_10m,
         precipitation, visibility, cloud_cover,
         {pround_sql("dist_raw", 4)} AS dist_km,
         {_RISK_SQL_TERMS} AS risk_score
  FROM nearest
)
SELECT *,
       CASE WHEN risk_score >= 60 THEN 'HIGH'
            WHEN risk_score >= 30 THEN 'MEDIUM'
            ELSE 'LOW' END AS risk_category
FROM scored
"""


@register("batch_pipeline_e2e", _E2E_SQL)
def batch_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DAG on fixture payloads: OAuth2-gated extract → raw
    JSON layer → Spark formatting → NN-join/risk/ML combine →
    keyed-upsert usage layer, each stage reading the previous layer
    back from a temp medallion catalog. The oracle recomputes the
    relational slice (positions, nearest station, risk) end to end;
    ML columns are checked by ``ml_rules_fallback`` instead.

    Collecting the snapshot to build the payload mirrors the real
    topology — an API snapshot *is* one JSON document; everything
    downstream of the raw layer is distributed. The collect is capped:
    a snapshot is bounded by the number of simultaneously-airborne
    aircraft (~1e4 worldwide), never table-sized — feeding a full-scale
    table through this fixture path is a usage error, not a workload."""
    cap = 2_000_000
    pdf = synthetic_flights(load(spark, sf_dir, "events")).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise OverScaleRefusal(
            f"batch_pipeline_e2e fixture snapshot exceeds {cap} rows; "
            "the e2e fixture models one API snapshot, not a bulk table"
        )
    flights_client, weather_client = fixture_clients(states_payload_columnar(pdf))
    tmp = tempfile.mkdtemp(prefix="skysafe_e2e_")
    try:
        result = run_batch_pipeline(
            spark,
            LakeCatalog(tmp),
            flights_client,
            weather_client,
            ts=FIXTURE_TS,
        )
        usage = spark.read.parquet(result.usage_path)
        out = usage.select(
            F.col("icao24").cast("bigint").alias("flight_id"),
            "latitude",
            "longitude",
            "baro_altitude",
            "velocity",
            "vertical_rate",
            "on_ground",
            "weather_code",
            "wind_gusts_10m",
            "precipitation",
            "visibility",
            "cloud_cover",
            pround(F.col("dist_km"), 4).alias("dist_km"),
            "risk_score",
            "risk_category",
        )
        # Materialize before deleting the temp lake: the returned
        # plan must not reference files we are about to remove.
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ──────────────── ML stage: rules-fallback hard signal ────────────

_HOMOG_FLIGHTS_SQL = """
SELECT event_id AS flight_id,
       41.3 + (event_id % 981) / 100.0 AS lat,
       -5.1 + ((event_id * 7) % 1471) / 100.0 AS lon
FROM events
"""

# Risk terms for the homogeneous population: airborne at 11000 m →
# the low-altitude term is structurally 0; only station weather terms
# remain.
_HOMOG_RISK_SQL = """
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
  AS INTEGER)
"""


@register(
    "ml_rules_fallback",
    f"""
WITH flights AS ({_HOMOG_FLIGHTS_SQL}),
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
  SELECT flight_id,
         {pround_sql("dist_raw", 4)} AS dist_km,
         {_HOMOG_RISK_SQL} AS risk_score
  FROM nearest
)
SELECT flight_id, dist_km, risk_score,
       CASE WHEN risk_score >= 60 THEN 'HIGH'
            WHEN risk_score >= 30 THEN 'MEDIUM'
            ELSE 'LOW' END AS risk_category,
       'Cruise' AS flight_phase,
       CAST(2 AS INTEGER) AS flight_phase_id,
       FALSE AS is_anomaly,
       CAST(0.0 AS DOUBLE) AS anomaly_score
FROM scored
""",
)
def ml_rules_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL ML stage (M1-M7: scaling → K-Means fit →
    centroid gate → fallback → μ+2σ threshold) through a homogeneous
    population, where every step has a closed-form answer the oracle
    can state: identical kinematics ⇒ one distinct feature row, fewer
    than the 3 clusters ⇒ the stage must take the rules path ('Cruise':
    alt>3000, |vr|<2.5), every distance-to-centroid is exactly 0.0,
    the threshold is μ+2σ = 0.0, and nothing is anomalous. A KMeans
    path taken by mistake, a broken gate, or a threshold off by any
    amount all hash-mismatch — the deterministic invariant check the
    round-1 verdict asked for (VERDICT.md #6)."""
    e = F.col("event_id")
    flights = load(spark, sf_dir, "events").select(
        e.cast("string").alias("icao24"),
        (F.lit(41.3) + (e % 981) / F.lit(100.0)).alias("latitude"),
        (F.lit(-5.1) + ((e * 7) % 1471) / F.lit(100.0)).alias("longitude"),
        F.lit(11000.0).alias("baro_altitude"),
        F.lit(False).alias("on_ground"),
        F.lit(250.0).alias("velocity"),
        F.lit(0.0).alias("vertical_rate"),
    )
    enriched, _info = combine_enrich(flights, stations_weather_df(spark))
    return enriched.select(
        F.col("icao24").cast("bigint").alias("flight_id"),
        pround(F.col("dist_km"), 4).alias("dist_km"),
        "risk_score",
        "risk_category",
        "flight_phase",
        "flight_phase_id",
        "is_anomaly",
        "anomaly_score",
    )


@register(
    "ml_kmeans_strata",
    """
SELECT event_id AS flight_id,
       CASE CAST(event_id % 3 AS INTEGER)
            WHEN 0 THEN 'Takeoff / Landing'
            WHEN 1 THEN 'Climb / Descent'
            ELSE 'Cruise' END AS flight_phase,
       FALSE AS is_anomaly,
       CAST(0.0 AS DOUBLE) AS anomaly_score
FROM events
""",
)
def ml_kmeans_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the REAL ML stage down its KMEANS path (the twin of
    ``ml_rules_fallback``, which forces the rules path) on a
    population where the clustering outcome has a closed form the
    oracle can state. Three zero-variance strata (event_id % 3) sit
    many batch-σ apart in feature space, so: (1) the fitted centroids
    coincide with the strata ⇒ max pairwise centroid separation ≫ 1.0
    ⇒ the M4 gate must take the KMeans branch — enforced loudly below
    so a silent fallback shows up as an error, not a plausible row;
    (2) M5's altitude-sorted auto-labels are provable (alt 200 <
    5500 < 11000 ⇒ Takeoff/Landing, Climb/Descent, Cruise); (3) every
    distance-to-centroid is 0 to FP round-off and the three distance
    values carry ~1/3 mass each, so the μ+2σ threshold can never flag
    a row (a value exceeds μ+2σ of a ≤3-point distribution only below
    20% mass) ⇒ is_anomaly all false, anomaly_score rounds to 0.0.
    Cluster ids themselves are init-order-arbitrary, so
    flight_phase_id is not part of the contract and is excluded."""
    from skysafe_datalake_spark.ml.phase_kmeans import classify_phases

    s = (F.col("event_id") % 3).cast("int")
    flights = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("flight_id"),
        F.when(s == 0, 70.0).when(s == 1, 150.0).otherwise(250.0)
        .alias("velocity"),
        F.when(s == 0, 200.0).when(s == 1, 5500.0).otherwise(11000.0)
        .alias("baro_altitude"),
        F.when(s == 1, 12.0).otherwise(0.0).alias("vertical_rate"),
    )
    result, info = classify_phases(flights)
    if not info.used_kmeans:
        raise AssertionError(
            "ml_kmeans_strata: the centroid gate fell back to rules on "
            f"3 well-separated strata (max_centroid_dist="
            f"{info.max_centroid_dist}); the KMeans path is broken"
        )
    return result.select(
        "flight_id", "flight_phase", "is_anomaly", "anomaly_score"
    )


@register(
    "phase_rules_labels",
    f"""
WITH flights AS ({SYNTHETIC_FLIGHTS_SQL})
SELECT flight_id,
       CASE WHEN baro_altitude < 300 AND velocity < 60 THEN 'Takeoff / Landing'
            WHEN baro_altitude > 3000 AND abs(vertical_rate) < 2.5 THEN 'Cruise'
            ELSE 'Climb / Descent' END AS flight_phase,
       CAST(CASE WHEN baro_altitude < 300 AND velocity < 60 THEN 0
                 WHEN baro_altitude > 3000 AND abs(vertical_rate) < 2.5 THEN 2
                 ELSE 1 END AS INTEGER) AS flight_phase_id
FROM flights
""",
)
def phase_rules_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aeronautical phase rules (reference
    ``src/combine_spark.py:301-318``) as a standalone verified row —
    isolates functions/phase.py from the surrounding pipeline."""
    flights = synthetic_flights(load(spark, sf_dir, "events"))
    phase = flight_phase_rules(
        F.col("baro_altitude"), F.col("velocity"), F.col("vertical_rate")
    )
    return flights.select(
        "flight_id",
        phase.alias("flight_phase"),
        flight_phase_id(phase).cast("int").alias("flight_phase_id"),
    )


# ─────────────── bucketed keyed-upsert serving sink ───────────────


@register(
    "streaming_upsert_partitioned",
    """
WITH e AS (
  SELECT user_id, event_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts,
         value
  FROM events
)
SELECT user_id, event_id, ts, value
FROM e
QUALIFY row_number() OVER (
  PARTITION BY user_id ORDER BY ts DESC, event_id ASC) = 1
""",
)
def streaming_upsert_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two micro-batches MERGEd through the bucketed upsert sink
    (plans.usage.upsert_partitioned — the streaming serving sink's
    actual write path): batch 1 = odd event_ids, batch 2 = even. The
    final table must equal a one-shot latest-row-per-key over the
    union — proving the incremental merge is associative and the
    bucket-pruned rewrite loses nothing. (ts is pre-truncated to
    seconds because the merge orders on unix_timestamp.)"""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.date_trunc("second", F.col("ts")).alias("ts"),
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="skysafe_upsert_")
    try:
        table = f"{tmp}/usage"
        for batch in (
            e.filter(F.col("event_id") % 2 == 1),
            e.filter(F.col("event_id") % 2 == 0),
        ):
            upsert_partitioned(
                batch, table, key="user_id", ts_col="ts", n_buckets=8
            )
        out = spark.read.parquet(table).select(
            "user_id", "event_id", "ts", "value"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_static_join",
    """
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
dim AS (SELECT DISTINCT event_type,
               upper(event_type) || '_CAT' AS category FROM e)
SELECT date_trunc('hour', e.ts) AS window_start,
       date_trunc('hour', e.ts) + INTERVAL 1 HOUR AS window_end,
       d.category,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM e JOIN dim d USING (event_type)
GROUP BY 1, 2, 3
""",
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming stream-static join: events flow
    through a file-source ``readStream`` (availableNow), each
    micro-batch broadcast-joins a static decode dimension — the
    enrich-on-ingest topology (stream keeps flowing, dim never
    shuffles) — then a watermarked tumbling event-time window
    aggregates per category. The oracle replays the same dataflow as
    one batch SQL statement: stream-static join semantics guarantee
    batch/stream equivalence, and the decimal sum makes the float
    output partition-order-free, which is exactly what makes this
    streaming plan oracle-checkable."""
    import uuid

    e = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    dim = (
        e.select("event_type")
        .distinct()
        .withColumn(
            "category", F.concat(F.upper(F.col("event_type")), F.lit("_CAT"))
        )
    )
    tmp = tempfile.mkdtemp(prefix="skysafe_stream_static_")
    qn = f"stream_static_{uuid.uuid4().hex[:8]}"
    # Every shuffle partition owns a state-store instance and AQE
    # cannot coalesce stateful plans, so size the stream's shuffle to
    # the observed input volume (floor 4 — the window x category state
    # itself is a handful of cells): streaming.driver.
    from pyspark.sql import Observation

    from skysafe_datalake_spark.streaming.driver import (
        sized_stateful_shuffle,
    )

    try:
        obs = Observation()
        e.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(
            f"{tmp}/in"
        )
        with sized_stateful_shuffle(spark, obs.get["n"], lo=4):
            stream = spark.readStream.schema(e.schema).parquet(f"{tmp}/in")
            agg = (
                stream.withWatermark("ts", "1 hour")
                .join(F.broadcast(dim), "event_type")
                .groupBy(F.window("ts", "1 hour"), "category")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("sum_value"),
                )
            )
            # Memory sink is SAFE here (unlike the per-row streaming
            # queries, which 128x-OOMed on it and now use file sinks):
            # this output is the aggregate itself — hour buckets x
            # categories, fixed by the time range and dim table, not
            # by input volume — and complete-mode replacement needs a
            # table sink anyway.
            q = (
                agg.writeStream.format("memory")
                .queryName(qn)
                .outputMode("complete")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            out = spark.table(qn).select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "category",
                "n_events",
                "sum_value",
            )
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ─────────── transformWithState: arbitrary stateful op ───────────

_TWS_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY user_id
"""


def _tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf wire format for
    its Python<->JVM state API; absent in this container, the
    operator transparently uses applyInPandasWithState (Arrow-only,
    same per-key arbitrary-state semantics)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except ImportError:
        return False


@register("streaming_stateful_running_agg", _TWS_SQL)
def streaming_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL arbitrary-state streaming: events replay through a
    file-source readStream in multiple micro-batches
    (maxFilesPerTrigger=1 over a 4-file input) and a custom stateful
    processor keeps one (n, cents) state per user in the state store,
    emitting the running cumulative totals whenever the key appears.
    The final per-user snapshot (max of the monotone emissions) must
    equal the one-shot batch aggregate — the oracle — no matter how
    the stream was micro-batched: the exactly-once state contract.

    Two engine paths, picked by capability probe: Spark 4's
    transformWithStateInPandas + RocksDB state store when the
    protobuf dependency is present, else applyInPandasWithState
    (Arrow-only) with identical semantics — the operator's contract
    and this oracle hold for both. This is the upgrade path for the
    reference's per-minute keyed recompute (SURVEY.md §2.10): state
    lives in the store partitioned by user_id across executors, each
    batch touches only the keys it contains, no driver state; money
    in integer cents so merge order can't produce float drift."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def _stateful(stream):
        if _tws_available():
            from pyspark.sql.streaming.stateful_processor import (
                StatefulProcessor,
                StatefulProcessorHandle,
            )

            class RunningAgg(StatefulProcessor):
                def init(self, handle: StatefulProcessorHandle) -> None:
                    self._state = handle.getValueState("agg", state_schema)

                def handleInputRows(self, key, rows, timerValues):
                    n, cents = (
                        self._state.get() if self._state.exists() else (0, 0)
                    )
                    for pdf in rows:
                        n += len(pdf)
                        cents += int(pdf["cents"].sum())
                    self._state.update((n, cents))
                    yield pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "n_events": [n],
                            "sum_cents": [cents],
                        }
                    )

                def close(self) -> None:
                    pass

            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
            return stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=RunningAgg(),
                outputStructType=out_schema,
                outputMode="Append",
                timeMode="None",
            )

        def update(key, pdfs, state):
            n, cents = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]}
            )

        return stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf="NoTimeout",
        )

    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="skysafe_tws_")
    # State-store sizing: see streaming.driver.stateful_shuffle_partitions
    # (floor 8 at replay volume; grows with row count so a 64x input
    # does not serialize on 8 Python state-update workers). The row
    # count rides the replay write via Observation — no extra scan —
    # and the conf only needs to be set before the STREAM starts.
    from pyspark.sql import Observation

    from skysafe_datalake_spark.streaming.driver import (
        no_trailing_nodata_batch,
        sized_stateful_shuffle,
    )

    try:
        obs = Observation()
        e.observe(obs, F.count(F.lit(1)).alias("n")).repartition(4).write.parquet(
            f"{tmp}/in"
        )
        # Per-batch emitter with NoTimeout: output is complete once the
        # data batches ran; the trailing no-data commit cycle is pure
        # overhead (streaming.driver.no_trailing_nodata_batch).
        with sized_stateful_shuffle(spark, obs.get["n"]), \
                no_trailing_nodata_batch(spark):
            stream = (
                spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{tmp}/in")
            )
            # File sink, not a memory sink: the processor emits one
            # row per (key, micro-batch), so output grows with the key
            # space — a memory sink pins all of it on the driver heap
            # (the 128x scale smoke OOMed the JVM on the sibling dedup
            # query's memory sink). Parquet out + read-back stays
            # executor-side.
            q = (
                _stateful(stream)
                .writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # Explicit schema on the read-back: a zero-row replay
            # leaves only _spark_metadata under out/ and schema
            # inference fails; makedirs covers a replay where no
            # batch fired at all (sink dir absent — ADVICE r13).
            os.makedirs(f"{tmp}/out", exist_ok=True)
            out = (
                spark.read.schema(out_schema).parquet(f"{tmp}/out")
                .groupBy("user_id")
                .agg(
                    F.max("n_events").alias("n_events"),
                    F.max("sum_cents").alias("sum_cents"),
                )
            )
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ─────────── stream-stream interval join (gate query) ────────────

_SSJ_SQL = """
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                  event_type FROM events)
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id AS user_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_s
FROM e c
JOIN e p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


_REPLAY_SIDE_SCHEMA = "event_id bigint, user_id bigint, ts timestamp"


def _stage_click_purchase_replay(
    e: DataFrame, tmp: str, *, sentinel: bool
) -> tuple[int, str, str]:
    """Stage the click/purchase replay inputs for the stream-stream
    join queries in ONE pass over ``events``.

    The per-side form (filter → rename → write, twice, plus a separate
    ``MAX(ts)`` job for the sentinel timestamp) cost 3 full scans and
    5 driver jobs before the stream even started — over half the
    queries' wall (guide §1.2: don't recompute what one pass gives
    you). Here one partitionBy(event_type) write stages both sides,
    the row count and max timestamp ride it as Observation metrics
    (zero extra scans), and the watermark-flush sentinel — a bounded
    1-row device, not data — is written by the driver directly with
    pyarrow (no Spark job). Measured at sf0.1 (interleaved min-of-4):
    left_outer 6.38 → 2.93 s, full_outer 6.12 → 2.71 s; results
    bit-identical (the sentinel only needs to postdate every real
    match window — it is filtered from the result by id sign).

    Returns ``(n_rows_staged, click_dir, purchase_dir)``; the renames
    to click_id/c_user/c_ts etc. move to the stream-side projection.
    """
    import os
    from datetime import datetime, timedelta

    from pyspark.sql import Observation

    obs = Observation()
    (
        e.where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "ts", "event_type")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.max("ts").alias("max_ts"),
        )
        # Few input files: availableNow replays everything in one
        # batch either way; task-count-many splits per side just pay
        # open/schedule overhead on a bench-scale replay.
        .coalesce(4)
        .write.partitionBy("event_type")
        .parquet(f"{tmp}/in")
    )
    vals = obs.get
    n = int(vals["n"])
    click_dir = f"{tmp}/in/event_type=click"
    purchase_dir = f"{tmp}/in/event_type=purchase"
    # A side with zero rows writes no partition directory; the file
    # source needs the path to exist (explicit schema handles empty).
    os.makedirs(click_dir, exist_ok=True)
    os.makedirs(purchase_dir, exist_ok=True)
    if sentinel:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Any instant past every real match window works (the exact
        # value never reaches the result); +31 days clears the 30-min
        # interval and the 1-hour watermark at any timezone skew.
        # NOTE the margin also absorbs a tz subtlety (ADVICE r13):
        # max_ts arrives as a naive session-local datetime but is
        # written as tz='UTC', so the sentinel instant can sit up to
        # one tz offset (±14 h) early/late — never tighten the margin
        # below that skew plus the watermark + interval bound.
        # A replay with zero click/purchase rows has no max_ts (and no
        # real match windows to clear); the fallback is a fixed future
        # instant, so the sentinel still postdates any row a replay of
        # present-day data could hold.
        max_ts = vals["max_ts"]
        if max_ts is None:
            max_ts = datetime(2100, 1, 1)
        flush = max_ts + timedelta(days=31)
        row = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "user_id": pa.array([-1], pa.int64()),
                "ts": pa.array([flush], pa.timestamp("us", tz="UTC")),
            }
        )
        pq.write_table(row, os.path.join(click_dir, "sentinel.parquet"))
        pq.write_table(row, os.path.join(purchase_dir, "sentinel.parquet"))
        n += 2
    return n, click_dir, purchase_dir


def _replay_side_stream(
    spark: SparkSession, path: str, prefix: str, id_name: str
) -> DataFrame:
    """readStream one staged replay side, renaming the generic staged
    columns to the join-side names (c_user/c_ts or p_user/p_ts)."""
    return (
        spark.readStream.schema(_REPLAY_SIDE_SCHEMA)
        .parquet(path)
        .select(
            F.col("event_id").alias(id_name),
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts").alias(f"{prefix}_ts"),
        )
    )


@register("streaming_interval_join", _SSJ_SQL)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join: clicks and purchases replay
    through two independent file-source readStreams and join on user
    within a [0, 30 min] event-time band — the click→purchase
    attribution topology. Both sides carry watermarks and the join
    condition bounds event time in both directions, so each side's
    state store evicts rows once the other stream's watermark passes
    their window — bounded state, the thing an unconstrained
    stream-stream join can never have. Under availableNow the inner
    join emits exactly the batch answer (the oracle's range join):
    stream/batch equivalence is the correctness contract.

    Scale shape: state is hash-partitioned by user_id; per row the
    join probes one key's bounded time-band buffer. delay_s is
    integer seconds — no float drift."""
    from skysafe_datalake_spark.streaming.driver import interval_join_streams

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    tmp = tempfile.mkdtemp(prefix="skysafe_ssj_")
    # Stateful streaming gets NO AQE coalescing — size the state
    # shuffle to the STREAMED volume (clicks + purchases, observed on
    # the one staging write at zero extra scans):
    # streaming.driver.stateful_shuffle_partitions.
    from skysafe_datalake_spark.streaming.driver import (
        no_trailing_nodata_batch,
        sized_stateful_shuffle,
    )

    try:
        n, click_dir, purchase_dir = _stage_click_purchase_replay(
            e, tmp, sentinel=False
        )
        # INNER join: every match emits inside the data batch; the
        # trailing no-data cycle only evicts state this terminating
        # replay no longer needs (measured 4.01 -> 2.35 s min-of-4,
        # md5-identical). The OUTER joins below must keep it - their
        # null rows flush IN that batch.
        with sized_stateful_shuffle(spark, n), \
                no_trailing_nodata_batch(spark):
            clicks = _replay_side_stream(spark, click_dir, "c", "click_id")
            purchases = _replay_side_stream(
                spark, purchase_dir, "p", "purchase_id"
            )
            joined = interval_join_streams(
                clicks,
                purchases,
                left_key="c_user",
                right_key="p_user",
                left_ts="c_ts",
                right_ts="p_ts",
                watermark="1 hour",
                within="30 minutes",
            ).select(
                "click_id",
                "purchase_id",
                F.col("c_user").alias("user_id"),
                (
                    F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
                ).cast("bigint").alias("delay_s"),
            )
            # File sink, not a memory sink: join output grows with the
            # input (click x purchase matches), and a memory sink
            # holds EVERY result row on the driver heap for the life
            # of the session — a collect() in disguise. The 128x scale
            # smoke OOMed the JVM on exactly this shape (sibling dedup
            # query); parquet out + read-back keeps the result
            # executor-side.
            q = (
                joined.writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # Explicit schema: a zero-row replay writes only
            # _spark_metadata and inference would fail. The makedirs
            # covers the harder corner (ADVICE r13): zero staged files
            # fire no batch at all, so the sink dir itself may not
            # exist.
            os.makedirs(f"{tmp}/out", exist_ok=True)
            return (
                spark.read.schema(joined.schema)
                .parquet(f"{tmp}/out")
                .localCheckpoint(eager=True)
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ─────────── incremental aggregate maintenance ───────────────────

_IAM_SQL = """
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
SELECT date_trunc('hour', ts) AS bucket,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM e
GROUP BY date_trunc('hour', ts), event_type
"""


@register("incremental_agg_merge", _IAM_SQL)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance for distributive aggregates: an
    hourly (bucket, event_type) summary table is built from the first
    half of the stream, then each later batch is aggregated alone and
    MERGED cell-wise (counts and integer-cent sums add) — the summary
    never re-reads raw history. The oracle is the one-shot aggregate
    over everything: merge(agg(A), agg(B)) must equal agg(A ∪ B)
    exactly, which distributive measures in integer arithmetic
    guarantee on any split. (Non-distributive finals — averages —
    derive from the merged sums downstream.)

    This is the continuous-aggregate upgrade for the reference's
    every-minute full recompute (SURVEY.md §2.10): at 100 TB the
    summary is O(buckets·types), each micro-batch costs
    O(batch + touched cells), and the cell-wise merge is the same
    associative shape Spark uses for its own partial aggregates —
    just persisted across batches."""
    e = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")

    def agg(df):
        return df.groupBy("bucket", "event_type").agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    state = agg(e.where(F.col("bucket") < cutoff))
    batch = agg(e.where(F.col("bucket") >= cutoff))
    return (
        state.unionByName(batch)
        .groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        )
    )


# ─────────── stream-stream LEFT OUTER join (gate query) ──────────

_SLOJ_SQL = """
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                  event_type FROM events)
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id AS user_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_s
FROM (SELECT * FROM e WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@register("streaming_left_outer_join", _SLOJ_SQL)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click is
    attributed to purchases within 30 minutes, and clicks with NO
    purchase are emitted null-padded — but a streaming outer join may
    only emit a null row after the global watermark proves no match
    can still arrive. That makes the replay protocol the interesting
    part: a terminating availableNow pass would leave the last
    window's unmatched rows parked in the state store, so a
    far-future sentinel row is written into BOTH input streams
    alongside the real data. The whole replay lands in ONE data
    micro-batch (file source without maxFilesPerTrigger under
    availableNow takes every available file at once), the sentinel
    advances the post-batch watermark past all real event time, and
    the trailing no-data batch flushes every surviving left row.
    The sentinel is filtered from the result, which then equals the
    batch LEFT JOIN — the oracle. CAUTION if this is ever split into
    multiple data batches (a maxFilesPerTrigger option): the sentinel
    must then move to a SECOND pass on the same checkpoint, or real
    rows batched after it would be dropped as late.

    Scale shape: identical to the inner interval join (state hashed
    by user_id, eviction horizon from the interval bound); the
    flush adds one near-empty micro-batch. In production the stream
    never terminates and ordinary event flow advances the watermark
    — the sentinel is purely a bounded-replay device.

    Bench note: the remaining wall time is ~3 micro-batch cycles of
    state-commit machinery, not data volume. This single-pass
    protocol replaced a two-pass one (pass 1 data, append sentinel,
    pass 2 flush on the same checkpoint) — measured 12.6 s → 5.1 s
    at sf0.1, identical output; checkpoints on tmpfs saved nothing
    on top, so commit latency is CPU, not disk."""
    from skysafe_datalake_spark.streaming.driver import interval_join_streams

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    tmp = tempfile.mkdtemp(prefix="skysafe_sloj_")
    # Every shuffle partition owns 4 state-store instances in an
    # outer interval join; at replay volume fewer stores beat the
    # lost parallelism (lo=4), but the count still grows with input
    # rows — observed on the one staging write
    # (streaming.driver.stateful_shuffle_partitions).
    from skysafe_datalake_spark.streaming.driver import sized_stateful_shuffle

    try:
        n, click_dir, purchase_dir = _stage_click_purchase_replay(
            e, tmp, sentinel=True
        )
        with sized_stateful_shuffle(spark, n, lo=4):
            clicks = _replay_side_stream(spark, click_dir, "c", "click_id")
            purchases = _replay_side_stream(
                spark, purchase_dir, "p", "purchase_id"
            )
            joined = interval_join_streams(
                clicks,
                purchases,
                left_key="c_user",
                right_key="p_user",
                left_ts="c_ts",
                right_ts="p_ts",
                watermark="1 hour",
                within="30 minutes",
                how="left_outer",
            ).select(
                "click_id",
                "purchase_id",
                F.col("c_user").alias("user_id"),
                (
                    F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
                ).cast("bigint").alias("delay_s"),
            )
            q = (
                joined.writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # Explicit schema guards the zero-row-replay read-back;
            # makedirs covers a replay where no batch fired at all
            # (the sink dir would not exist — ADVICE r13).
            os.makedirs(f"{tmp}/out", exist_ok=True)
            out = (
                spark.read.schema(joined.schema).parquet(f"{tmp}/out")
                .where(F.col("click_id") >= 0)
            )
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ─────────────── schema-evolution parquet read ───────────────────

_SEVO_SQL = """
WITH unioned AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents
FROM unioned
GROUP BY COALESCE(o_orderpriority, '<pre-evolution>')
"""


@register("schema_evolution_read", _SEVO_SQL)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the lake source: batch 1 is written BEFORE
    a column existed (orderkey, totalprice only), batch 2 after the
    schema gained o_orderpriority; ``mergeSchema`` reconciles the
    footers at read time and null-fills the legacy files — no
    rewrite of old data, the core append-only-lake contract. The
    aggregation then treats the nulls as a first-class
    '<pre-evolution>' bucket, with money in integer cents. The
    oracle reconstructs the same union with a NULL literal.

    Scale: schema merge is a FOOTER operation (one read per file's
    metadata, not data) — but on a 100 TB table with millions of
    files the footer sweep itself is a job; production catalogs pin
    the merged schema in the metastore instead, which is why
    mergeSchema defaults off in Spark. The read itself stays a
    plain pruned columnar scan either way."""
    import uuid

    orders = load(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix=f"skysafe_sevo_{uuid.uuid4().hex[:6]}_")
    try:
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(f"{tmp}/t", mode="append")
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(f"{tmp}/t", mode="append")
        merged = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/t")
        out = (
            merged.groupBy(
                F.coalesce(
                    F.col("o_orderpriority"), F.lit("<pre-evolution>")
                ).alias("priority")
            )
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast(
                        "bigint"
                    )
                )
                .cast("bigint")
                .alias("total_cents"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ─────────────── multi-format federated union ────────────────────

_MFU_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
GROUP BY o_orderpriority
"""


@register("multi_format_union", _MFU_SQL)
def multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated multi-format read: one logical table physically split
    across parquet, JSON-lines and CSV thirds (the real shape of a
    lake mid-migration, or raw + curated zones queried together),
    unioned behind one schema and aggregated — the result must equal
    querying the single-format original (the oracle). Text formats
    don't carry types: the JSON leg round-trips timestamps as ISO
    strings and the CSV leg gets the explicit schema + timestamp
    format option, the two real-world footguns this query pins.
    Money goes through integer cents so the parquet→text→parquet trip
    is value-exact. Scale: each leg is an independent scan (text legs
    splittable by line), the union is free (no exchange), and only
    the final hash agg shuffles."""
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    orders = load(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix=f"skysafe_mfu_{uuid.uuid4().hex[:6]}_")
    try:
        # The three format legs are independent jobs over disjoint
        # thirds — submit them concurrently so each job's task tail
        # back-fills the others (guide §2.6); job descriptions and
        # scheduling are thread-local, results land in the same dirs.
        def _stage(spec):
            k, write = spec
            write(orders.where(F.col("o_orderkey") % 3 == k))

        with ThreadPoolExecutor(max_workers=3) as pool:
            list(
                pool.map(
                    _stage,
                    [
                        (0, lambda d: d.write.parquet(f"{tmp}/pq")),
                        (1, lambda d: d.write.json(f"{tmp}/js")),
                        (
                            2,
                            lambda d: d.write.option("header", True)
                            .option(
                                "timestampFormat", "yyyy-MM-dd HH:mm:ss"
                            )
                            .csv(f"{tmp}/cs"),
                        ),
                    ],
                )
            )
        pq = spark.read.parquet(f"{tmp}/pq")
        # Explicit schema — what JSON lines actually carry (ints,
        # doubles, ISO-string timestamps): schema INFERENCE would be a
        # second full read of the leg just to discover this. The
        # text-format footgun being pinned (timestamps arrive as
        # strings) is unchanged — the to_timestamp cast below is still
        # what reconciles the leg.
        js_schema = (
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate string, o_orderpriority string"
        )
        js = spark.read.schema(js_schema).json(f"{tmp}/js").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double"),
            F.to_timestamp("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        cs = spark.read.schema(pq.schema).option("header", True).option(
            "timestampFormat", "yyyy-MM-dd HH:mm:ss"
        ).csv(f"{tmp}/cs")
        unioned = pq.unionByName(js).unionByName(cs)
        out = unioned.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("total_cents"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ─────────── stream-stream FULL OUTER join (gate query) ──────────

_SFOJ_SQL = """
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                  event_type FROM events)
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       COALESCE(c.user_id, p.user_id) AS user_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_s
FROM (SELECT * FROM e WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@register("streaming_full_outer_join", _SFOJ_SQL)
def streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the join
    matrix (inner: streaming_interval_join; left_outer:
    streaming_left_outer_join): BOTH sides emit null-padded once the
    global watermark proves no counterpart can arrive, so clicks
    without purchases AND purchases without a preceding click both
    survive. Same single-pass sentinel protocol as the left-outer
    query: a far-future sentinel row is written into BOTH inputs
    before the one availableNow pass, the whole replay lands in one
    data micro-batch, the sentinel advances the post-batch watermark
    past all real event time, and the trailing no-data batch flushes
    the surviving unmatched rows from BOTH state stores. The sentinel
    pair matches itself and is filtered by id sign on both columns.
    Result equals the batch FULL JOIN. (Replaced the two-pass flush —
    pass 1 data, append sentinels, pass 2 on the same checkpoint —
    identical output, roughly half the state-commit machinery.)"""
    from skysafe_datalake_spark.streaming.driver import interval_join_streams

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    tmp = tempfile.mkdtemp(prefix="skysafe_sfoj_")
    # Sized to the streamed rows, floor 4 (4 state stores per
    # partition in an outer join), observed on the one staging write:
    # streaming.driver.stateful_shuffle_partitions.
    from skysafe_datalake_spark.streaming.driver import sized_stateful_shuffle

    try:
        n, click_dir, purchase_dir = _stage_click_purchase_replay(
            e, tmp, sentinel=True
        )
        with sized_stateful_shuffle(spark, n, lo=4):
            clicks = _replay_side_stream(spark, click_dir, "c", "click_id")
            purchases = _replay_side_stream(
                spark, purchase_dir, "p", "purchase_id"
            )
            joined = interval_join_streams(
                clicks,
                purchases,
                left_key="c_user",
                right_key="p_user",
                left_ts="c_ts",
                right_ts="p_ts",
                watermark="1 hour",
                within="30 minutes",
                how="full_outer",
            ).select(
                "click_id",
                "purchase_id",
                F.coalesce(F.col("c_user"), F.col("p_user")).alias(
                    "user_id"
                ),
                (
                    F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")
                ).cast("bigint").alias("delay_s"),
            )
            q = (
                joined.writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # Explicit schema guards the zero-row-replay read-back;
            # makedirs covers a replay where no batch fired at all
            # (the sink dir would not exist — ADVICE r13).
            os.makedirs(f"{tmp}/out", exist_ok=True)
            out = spark.read.schema(joined.schema).parquet(
                f"{tmp}/out"
            ).where(
                (F.col("click_id").isNull() | (F.col("click_id") >= 0))
                & (
                    F.col("purchase_id").isNull()
                    | (F.col("purchase_id") >= 0)
                )
            )
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ─────────── streaming dedup within watermark (gate) ─────────────

_SDEDUP_SQL = """
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                  event_type FROM events),
dup AS (
  SELECT event_id, ts, user_id, event_type FROM e
  UNION ALL
  SELECT event_id, ts, user_id, event_type FROM e WHERE event_id % 3 = 0
)
SELECT event_id,
       CAST(COUNT(*) AS BIGINT) AS n_after_dedup
FROM (
  SELECT DISTINCT event_id, ts, user_id, event_type FROM dup
) d
GROUP BY event_id
"""


@register("streaming_dedup_watermark", _SDEDUP_SQL)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under real replay:
    dropDuplicatesWithinWatermark over a stream that REALLY contains
    duplicates (every third event re-sent — the at-least-once
    delivery shape). State is keyed by event_id and expires once the
    watermark passes, so memory is bounded by the dedup horizon, not
    the stream's history — the property a plain dropDuplicates on a
    stream cannot have. Under availableNow the surviving set equals
    batch DISTINCT (the oracle); the output re-aggregates per id to
    prove exactly one survivor per duplicated key."""
    from skysafe_datalake_spark.streaming.driver import streaming_dedup

    e = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    dup = e.unionByName(e.where(F.col("event_id") % 3 == 0))
    tmp = tempfile.mkdtemp(prefix="skysafe_sdd_")
    # Sized to input rows (the duplicated stream), floor 4:
    # streaming.driver.stateful_shuffle_partitions.
    from pyspark.sql import Observation

    from skysafe_datalake_spark.streaming.driver import (
        no_trailing_nodata_batch,
        sized_stateful_shuffle,
    )

    try:
        obs = Observation()
        dup.observe(obs, F.count(F.lit(1)).alias("n")).coalesce(
            4
        ).write.parquet(f"{tmp}/in")
        # dropDuplicatesWithinWatermark emits first-seen rows in their
        # data batch; the trailing no-data cycle only expires state
        # (measured 1.84 -> 1.39 s min-of-4, md5-identical).
        with sized_stateful_shuffle(spark, obs.get["n"], lo=4), \
                no_trailing_nodata_batch(spark):
            stream = spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string"
            ).parquet(f"{tmp}/in")
            deduped = streaming_dedup(
                stream, id_col="event_id", watermark="2 hours"
            )
            # File sink, not a memory sink: the deduped stream is
            # per-event output (~input-sized), and a memory sink pins
            # every row on the driver heap — the 128x scale smoke
            # (170M events) OOMed the JVM here. Parquet out +
            # read-back keeps the result executor-side; the
            # survivor-count aggregation runs on the read-back.
            q = (
                deduped.writeStream.format("parquet")
                .option("path", f"{tmp}/out")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # Explicit schema guards the zero-row-replay read-back.
            out = (
                spark.read.schema(deduped.schema).parquet(f"{tmp}/out")
                .groupBy("event_id")
                .agg(F.count("*").cast("bigint").alias("n_after_dedup"))
            )
            return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
