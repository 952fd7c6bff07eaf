"""End-to-end batch pipeline: extract → format → combine → usage,
through the medallion catalog — the engine-native equivalent of the
reference DAG (``/root/reference/dags/sky_safe_dag.py:27-74``):

    extract_flights_api ─► format_flights_spark ─┐
                                                 ├─► combine_data_spark ─► index_to_elastic
    extract_weather_api ─► format_weather_spark ─┘

``run_minute`` is one minute: a raw flights snapshot in, the
formatted-flights, enriched and usage layers out. The batch DAG
(``run_batch_pipeline``) and the flights stream
(``streaming.driver.run_flights_stream``) both call it. Each stage
writes its layer and hands its frame to the next; only the latest
formatted weather is read back.

Scale notes: extract runs no Spark job (``LakeCatalog.write_file``).
Formatting is one shuffle-free plan. Reads infer no schema: raw JSON
has a fixed schema, and formatted weather is read with the schema of
``openmeteo.format_weather``'s output. Combine's only exchange is the
NN join's argmin, which leaves one row per ``icao24``; the ML stage
checkpoints its input once and fits on the driver
(``ml.phase_kmeans``), and the usage write reads that checkpoint. Each
layer write replaces one partition (idempotent minute re-runs) with
one file.
"""

from __future__ import annotations

import functools
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from skysafe_datalake_spark.catalog import LakeCatalog
from skysafe_datalake_spark.ml.phase_kmeans import PhaseModelInfo
from skysafe_datalake_spark.plans.combine import combine_enrich
from skysafe_datalake_spark.plans.usage import build_usage
from skysafe_datalake_spark.sources import ingest, openmeteo, opensky


@dataclass
class BatchRunResult:
    """One minute's model info, usage frame and stage wall, from
    either path (``run_minute``)."""

    model_info: PhaseModelInfo
    usage: DataFrame
    # Wall seconds per DAG stage (extract_flights, extract_weather,
    # format_flights, format_weather, combine, usage). The e2e
    # pipeline is a composite — the only way to attribute a
    # regression inside its single wall time is stage-level wall.
    stage_seconds: dict[str, float]


def _staged(stage_seconds: dict[str, float], name: str, fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    stage_seconds[name] = round(time.perf_counter() - t0, 3)
    return out


def format_flights_stage(
    catalog: LakeCatalog, raw: DataFrame, *, ts: datetime | None
) -> DataFrame:
    """Raw snapshot JSON → typed flights table (reference
    ``src/format_flights.py:43-171``, task 'format_flights_spark')."""
    flights = opensky.format_flights(raw)
    catalog.write(flights, "formatted", "opensky", "flights", ts=ts)
    return flights


def format_weather_stage(
    spark: SparkSession, catalog: LakeCatalog, *, ts: datetime | None = None
) -> None:
    """Raw per-station JSON → typed weather table (reference
    ``src/format_weather.py:6-60``, task 'format_weather_spark')."""
    raw = catalog.read_latest(
        spark, "raw", "open_meteo", "weather", fmt="json", schema=openmeteo.RAW_SCHEMA
    )
    weather = openmeteo.format_weather(raw.drop("date", "hour"))
    catalog.write(weather, "formatted", "open_meteo", "weather", ts=ts)


@functools.cache
def formatted_weather_schema(spark: SparkSession) -> StructType:
    """The schema ``format_weather_stage`` writes, derived from
    ``openmeteo.format_weather`` without a Spark job, once per session:
    the derivation costs ~0.1 s of driver work and its result never
    changes."""
    return openmeteo.format_weather(spark.createDataFrame([], openmeteo.RAW_SCHEMA)).schema


def combine_stage(
    catalog: LakeCatalog,
    flights: DataFrame,
    weather: DataFrame,
    *,
    ts: datetime | None,
) -> tuple[DataFrame, PhaseModelInfo]:
    """Formatted flights × weather → enriched layer (reference
    ``src/combine_spark.py:60-400``, task 'combine_data_spark')."""
    enriched, info = combine_enrich(flights, weather)
    catalog.write(enriched, "enriched", "skysafe", "flights", ts=ts)
    return enriched, info


def usage_stage(
    catalog: LakeCatalog, enriched: DataFrame, *, ts: datetime | None
) -> DataFrame:
    """Enriched → usage (serving) layer: wide projection + geo struct
    (reference ``src/index_elastic.py:88-158``, task 'index_to_elastic'
    minus the ES HTTP hop)."""
    usage = build_usage(enriched)
    catalog.write(usage, "usage", "skysafe", "flights", ts=ts)
    return usage


def run_minute(
    spark: SparkSession,
    catalog: LakeCatalog,
    raw_flights: DataFrame,
    *,
    ts: datetime | None,
) -> BatchRunResult:
    """One minute: a raw flights snapshot (``opensky.RAW_SCHEMA``)
    formatted, combined with the latest formatted weather partition,
    and served, writing the formatted-flights, enriched and usage
    layers for ``ts``. Stages are looked up by module attribute at
    call time, so a caller can wrap them by name."""
    times: dict[str, float] = {}
    flights = _staged(
        times, "format_flights", format_flights_stage, catalog, raw_flights, ts=ts
    )
    weather = catalog.read_latest(
        spark, "formatted", "open_meteo", "weather", schema=formatted_weather_schema(spark)
    )
    enriched, info = _staged(
        times, "combine", combine_stage,
        catalog, flights, weather.drop("date", "hour"), ts=ts,
    )
    usage = _staged(times, "usage", usage_stage, catalog, enriched, ts=ts)
    return BatchRunResult(model_info=info, usage=usage, stage_seconds=times)


def run_batch_pipeline(
    spark: SparkSession,
    catalog: LakeCatalog,
    flights_client: ingest.OpenSkyClient,
    weather_client: ingest.OpenMeteoClient,
    *,
    ts: datetime | None = None,
) -> BatchRunResult:
    """One minute-cadence run of the full DAG, all four layers.

    The two extracts and the weather format are independent until
    combine — the reference DAG draws them as parallel branches — so
    the flights extract and the weather leg (extract → format) run
    from a 2-thread pool; then ``run_minute`` runs on the raw flights
    partition. Stage timers run inside their thread, so each stage
    records its own true wall, but the two legs' stage_seconds can
    OVERLAP and their sum may exceed the pipeline wall.

    Keep the pool even though the legs are short: with the same stages
    called one after another, 14 alternating ``perfbench`` ``minute_dag``
    pairs (``local[4]``) read higher on both metrics of record —
    ``unit_cpu_s`` median 10.36 → 11.71 s (12 of 14 pairs) and
    ``setup_s`` 20.27 → 22.61 s (13 of 14). Why sequential calls cost
    more CPU is not established."""
    times: dict[str, float] = {}

    def _weather_leg() -> None:
        _staged(
            times, "extract_weather", ingest.extract_weather,
            spark, catalog, weather_client, ts=ts,
        )
        _staged(times, "format_weather", format_weather_stage, spark, catalog, ts=ts)

    with ThreadPoolExecutor(max_workers=2) as pool:
        legs = [
            pool.submit(
                _staged, times, "extract_flights", ingest.extract_flights,
                spark, catalog, flights_client, ts=ts,
            ),
            pool.submit(_weather_leg),
        ]
        for leg in legs:
            leg.result()

    raw = catalog.read_latest(
        spark, "raw", "opensky", "flights", fmt="json", schema=opensky.RAW_SCHEMA
    )
    result = run_minute(spark, catalog, raw, ts=ts)
    result.stage_seconds = {**times, **result.stage_seconds}
    return result
