"""End-to-end batch pipeline: extract → format → combine → usage,
through the medallion catalog — the engine-native equivalent of the
reference DAG (``/root/reference/dags/sky_safe_dag.py:27-74``):

    extract_flights_api ─► format_flights_spark ─┐
                                                 ├─► combine_data_spark ─► index_to_elastic
    extract_weather_api ─► format_weather_spark ─┘

Each stage reads its input layer back from the catalog (real layer
boundaries, like the reference's per-task processes) and writes the
next layer as partitioned parquet. The serving stage is the usage
projection + keyed upsert (``plans.usage``); a distributed ES sink
attaches there via ``streaming.es_sink`` when the connector jar is
present.

Scale notes: extract runs no Spark job: each fetch's document lines
become one raw file through the Hadoop FileSystem client
(``LakeCatalog.write_file``). Formatting is a shuffle-free single plan
(explode + casts). Layer read-backs infer no schema: raw JSON is read
with a fixed schema and each Parquet layer with the schema the catalog
recorded when it wrote it. Combine's only exchange is the NN join's
argmin; the ML stage checkpoints its input once and fits on the driver
from one Arrow collect (``ml.phase_kmeans.classify_phases``). Usage
adds the latest-row-per-key exchange. Each layer write replaces one
partition (idempotent minute re-runs), one file per partition at
minute scale. Layer row counts are optional (``with_counts``) — they
are full actions, telemetry only (the reference counts unconditionally
and recomputes lineage each time, §4 anti-pattern).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import SparkSession

from skysafe_datalake_spark.catalog import LakeCatalog
from skysafe_datalake_spark.ml.phase_kmeans import PhaseModelInfo
from skysafe_datalake_spark.plans.combine import combine_enrich
from skysafe_datalake_spark.plans.usage import build_usage
from skysafe_datalake_spark.sources import ingest, openmeteo, opensky


@dataclass
class BatchRunResult:
    raw_flights_path: str
    raw_weather_path: str
    formatted_flights_path: str
    formatted_weather_path: str
    enriched_path: str
    usage_path: str
    model_info: PhaseModelInfo
    counts: dict[str, int]
    # Wall seconds per DAG stage (extract_flights, extract_weather,
    # format_flights, format_weather, combine, usage [, counts]).
    # The e2e pipeline is a composite — the only way to attribute a
    # regression inside its single wall time is stage-level wall.
    stage_seconds: dict[str, float] = field(default_factory=dict)


def format_flights_stage(
    spark: SparkSession, catalog: LakeCatalog, *, ts: datetime | None = None
) -> str:
    """Raw snapshot JSON → typed flights table (reference
    ``src/format_flights.py:43-171``, task 'format_flights_spark')."""
    raw = catalog.read_latest(
        spark, "raw", "opensky", "flights", fmt="json", schema=opensky.RAW_SCHEMA
    )
    flights = opensky.format_flights(raw.drop("date", "hour"))
    return catalog.write(flights, "formatted", "opensky", "flights", ts=ts)


def format_weather_stage(
    spark: SparkSession, catalog: LakeCatalog, *, ts: datetime | None = None
) -> str:
    """Raw per-station JSON → typed weather table (reference
    ``src/format_weather.py:6-60``, task 'format_weather_spark')."""
    raw = catalog.read_latest(
        spark, "raw", "open_meteo", "weather", fmt="json", schema=openmeteo.RAW_SCHEMA
    )
    weather = openmeteo.format_weather(raw.drop("date", "hour"))
    return catalog.write(weather, "formatted", "open_meteo", "weather", ts=ts)


def combine_stage(
    spark: SparkSession, catalog: LakeCatalog, *, ts: datetime | None = None
) -> tuple[str, PhaseModelInfo]:
    """Formatted flights × weather → enriched layer (reference
    ``src/combine_spark.py:60-400``, task 'combine_data_spark')."""
    flights = catalog.read_latest(spark, "formatted", "opensky", "flights").drop(
        "date", "hour"
    )
    weather = catalog.read_latest(spark, "formatted", "open_meteo", "weather").drop(
        "date", "hour"
    )
    enriched, info = combine_enrich(flights, weather)
    path = catalog.write(enriched, "enriched", "skysafe", "flights", ts=ts)
    return path, info


def usage_stage(
    spark: SparkSession, catalog: LakeCatalog, *, ts: datetime | None = None
) -> str:
    """Enriched → usage (serving) layer: wide projection + keyed
    upsert + geo struct (reference ``src/index_elastic.py:88-158``,
    task 'index_to_elastic' minus the ES HTTP hop)."""
    enriched = catalog.read_latest(spark, "enriched", "skysafe", "flights").drop(
        "date", "hour"
    )
    usage = build_usage(enriched)
    return catalog.write(usage, "usage", "skysafe", "flights", ts=ts)


def run_batch_pipeline(
    spark: SparkSession,
    catalog: LakeCatalog,
    flights_client: ingest.OpenSkyClient,
    weather_client: ingest.OpenMeteoClient,
    *,
    ts: datetime | None = None,
    weather_points=None,
    with_counts: bool = False,
) -> BatchRunResult:
    """One minute-cadence run of the full DAG, all four layers.

    The flights and weather legs (extract → format) are independent
    until combine — the reference DAG draws them as parallel branches
    — so they run from a 2-thread pool (guide §2.6, the same
    task-tail back-fill pattern as multi_format_union's leg writes):
    the weather leg's extract/format jobs fill executor slots the
    flights leg's task tails leave idle, and its wall hides inside
    the flights leg's. Stage timers run inside their thread, so each
    stage still records its own true wall — but the two legs'
    stage_seconds can now OVERLAP, and their sum may exceed the
    pipeline wall (the e2e test pins the serial spine invariant
    instead: max(leg) + combine + usage <= total)."""
    stage_seconds: dict[str, float] = {}

    def _staged(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        stage_seconds[name] = round(time.perf_counter() - t0, 3)
        return out

    def _flights_leg() -> tuple[str, str]:
        raw = _staged(
            "extract_flights",
            lambda: ingest.extract_flights(spark, catalog, flights_client, ts=ts),
        )
        fmt = _staged(
            "format_flights", lambda: format_flights_stage(spark, catalog, ts=ts)
        )
        return raw, fmt

    def _weather_leg() -> tuple[str, str]:
        raw = _staged(
            "extract_weather",
            lambda: ingest.extract_weather(
                spark, catalog, weather_client, points=weather_points, ts=ts
            ),
        )
        fmt = _staged(
            "format_weather", lambda: format_weather_stage(spark, catalog, ts=ts)
        )
        return raw, fmt

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        flights_fut = pool.submit(_flights_leg)
        weather_fut = pool.submit(_weather_leg)
        raw_f, fmt_f = flights_fut.result()
        raw_w, fmt_w = weather_fut.result()

    enr, info = _staged("combine", lambda: combine_stage(spark, catalog, ts=ts))
    usage = _staged("usage", lambda: usage_stage(spark, catalog, ts=ts))

    counts: dict[str, int] = {}
    if with_counts:
        t0 = time.perf_counter()
        for name, (layer, source, entity) in {
            "formatted_flights": ("formatted", "opensky", "flights"),
            "formatted_weather": ("formatted", "open_meteo", "weather"),
            "enriched": ("enriched", "skysafe", "flights"),
            "usage": ("usage", "skysafe", "flights"),
        }.items():
            counts[name] = catalog.read_latest(spark, layer, source, entity).count()
        stage_seconds["counts"] = round(time.perf_counter() - t0, 3)
    # Module-level copy of the LAST run's stage wall: scale_smoke.py
    # reads it to attach stage-level attribution to the e2e row
    # without threading the result object through the registry's
    # (spark, sf_dir) -> DataFrame query signature.
    global LAST_STAGE_SECONDS
    LAST_STAGE_SECONDS = dict(stage_seconds)
    return BatchRunResult(
        raw_flights_path=raw_f,
        raw_weather_path=raw_w,
        formatted_flights_path=fmt_f,
        formatted_weather_path=fmt_w,
        enriched_path=enr,
        usage_path=usage,
        model_info=info,
        counts=counts,
        stage_seconds=stage_seconds,
    )


# Stage wall seconds of the most recent run_batch_pipeline call in
# this process (telemetry for scale_smoke; see run_batch_pipeline).
LAST_STAGE_SECONDS: dict[str, float] = {}
