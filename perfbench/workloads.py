"""The benchmark's workloads. Each drives the engine only through its
public entry points and checks every output it times.

A workload object has ``nominal_unit_s`` (the wall of one warm unit on
a 4-core VM, which sizes a run's unit count), ``prepare()`` (generates
its inputs), ``warm_up()`` (one checked unit of work before the timed
ones; returns the seconds spent in the engine, checks excluded),
``unit(tracer)`` (one timed unit of work, checked afterwards, returning
its wall seconds or None on failure; ``last`` then holds its wall, CPU
and steal seconds) and ``layer_metrics()`` (per-unit medians of the
traced units' layer figures).
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
import traceback

from perfbench import checks, gen, lake
from perfbench.host import Meter
from perfbench.trace import Tracer, self_times, spark_job_stats

SPAN_FIELDS = (("s", "s"), ("calls", "count"), ("jobs", "count"),
               ("tasks", "count"), ("shuffle_bytes", "bytes"))
TIME_FIELDS = SPAN_FIELDS[:2]
# Span layers of minute_dag and the figures each reports. The catalog
# spans are overlays (see trace.py): their jobs belong to the stage
# that called them, so they report time and calls only, as does the
# pipeline's root span, which starts no job of its own.
SPAN_LAYERS = (
    ("sources.extract", SPAN_FIELDS),
    ("sources.format", SPAN_FIELDS),
    ("catalog.write", TIME_FIELDS),
    ("catalog.read_latest", TIME_FIELDS),
    ("plans.pipeline", TIME_FIELDS),
    ("plans.combine", SPAN_FIELDS),
    ("ml.phase_kmeans", SPAN_FIELDS),
    ("ml.phase_kmeans.fit", SPAN_FIELDS),
    ("plans.usage", SPAN_FIELDS),
)

# One registry query per operator module, plus the relational and
# streaming families. The seed permutes the order on every pass.
LAKE_MIX = (
    "nn_station_join",            # operators.nn_join
    "tpch_q9_like",               # workload.tpch
    "window_topk_per_group",      # workload.relational
    "sessionize_events",          # operators.temporal
    "dedup_minhash_lsh",          # operators.dedup
    "similarity_topk",            # operators.similarity
    "frequent_itempairs",         # operators.graph
    "multimodal_frame_sample",    # operators.multimodal
    "streaming_windowed_counts",  # streaming.driver
)
LAKE_FIELDS = (("s", "s"), ("tasks", "count"), ("shuffle_bytes", "bytes"))


def per_layer_catalog() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    out = [("session.s", "s", "lower")]
    for layer, fields in SPAN_LAYERS:
        for field, unit in fields:
            out.append((f"{layer}.{field}", unit, "lower"))
    out += [
        ("sources.raw_bytes", "bytes", "lower"),
        ("catalog.files_written", "count", "lower"),
        ("ml.phase_kmeans.kmeans_share", "ratio", "higher"),
    ]
    for q in LAKE_MIX:
        for field, unit in LAKE_FIELDS:
            out.append((f"lake.{q}.{field}", unit, "lower"))
    out += [
        ("harness.unit_wall_s", "s", "lower"),
        ("harness.unit_steal_s", "s", "lower"),
        ("harness.tracing_overhead_s", "s", "lower"),
    ]
    return out


def _layer_figures(spark, tracer: Tracer, run_id: int) -> dict:
    """Self time, calls, jobs, tasks and shuffle bytes per span name
    for the spans of one traced unit."""
    time.sleep(0.3)  # let the listener bus deliver the last job events
    spans = [s for s in tracer.spans if s.run_id == run_id]
    own = self_times(spans)
    jobs = spark_job_stats(spark, [s.span_id for s in spans])
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        rec = out.setdefault(
            s.name, {"s": 0.0, "calls": 0, "jobs": 0, "tasks": 0, "shuffle_bytes": 0}
        )
        rec["s"] += own[s.span_id]
        rec["calls"] += 1
        for k, v in jobs[s.span_id].items():
            rec[k] += v
    return out


def _median_of(units: list[dict], name: str, field: str) -> float:
    vals = [u.get(name, {}).get(field, 0) for u in units]
    return statistics.median(vals) if vals else 0.0


class MinuteDag:
    """Closed loop, one client: each unit is one full
    ``run_batch_pipeline`` minute over a fresh fleet snapshot."""

    name = "minute_dag"
    nominal_unit_s = 14.0

    def __init__(self, spark, work: str, seed: int):
        from skysafe_datalake_spark.catalog import LakeCatalog
        from skysafe_datalake_spark.sources import ingest

        self.spark = spark
        self.seed = seed
        self.catalog = LakeCatalog(os.path.join(work, "lake"))
        self.fleet = gen.Fleet(seed)
        self.transport = gen.Transport(self.fleet, seed)
        clock = lambda: gen.minute_ts(self.transport.minute)  # noqa: E731
        self.flights_client = ingest.OpenSkyClient(self.transport, clock=clock)
        self.weather_client = ingest.OpenMeteoClient(self.transport, clock=clock)
        self.minute = 0
        self.meter = Meter(spark)
        self.last = (0.0, 0.0, 0.0)  # wall, cpu, steal seconds of the last unit
        self.attempted = 0
        self.failures: list[str] = []
        self.used_kmeans: list[bool] = []
        self.traced_units: list[dict] = []

    def prepare(self) -> None:
        """Nothing to do: each minute's snapshot and weather are
        generated just before that minute's timing starts."""

    def warm_up(self) -> float:
        """One full-size minute: JVM class loading and code generation
        happen here, outside the timed units."""
        self.unit(None)
        return self.last[0]

    def _patch(self, tracer: Tracer) -> None:
        from pyspark.ml.clustering import KMeans

        from skysafe_datalake_spark.plans import combine, pipeline
        from skysafe_datalake_spark.sources import ingest

        tracer.patch(ingest, "extract_flights", "sources.extract")
        tracer.patch(ingest, "extract_weather", "sources.extract")
        tracer.patch(pipeline, "format_flights_stage", "sources.format")
        tracer.patch(pipeline, "format_weather_stage", "sources.format")
        tracer.patch(pipeline, "combine_stage", "plans.combine")
        tracer.patch(combine, "classify_phases", "ml.phase_kmeans")
        tracer.patch(pipeline, "usage_stage", "plans.usage")
        tracer.patch(KMeans, "fit", "ml.phase_kmeans.fit")
        tracer.patch(self.catalog, "write", "catalog.write", overlay=True)
        tracer.patch(self.catalog, "read_latest", "catalog.read_latest", overlay=True)

    def unit(self, tracer: Tracer | None) -> float | None:
        from skysafe_datalake_spark.plans.pipeline import run_batch_pipeline

        minute = self.minute
        self.minute += 1
        self.transport.minute = minute
        snapshot = self.transport.snapshot()  # generated before the timing starts
        weather = list(self.transport.weather_by_point().values())
        ts = gen.minute_ts(minute)
        self.attempted += 1
        run = run_batch_pipeline
        if tracer is not None:
            tracer.run_id += 1
            self._patch(tracer)
            run = tracer.wrap(run_batch_pipeline, "plans.pipeline", root=True)
        self.meter.start()
        try:
            result = run(
                self.spark, self.catalog, self.flights_client, self.weather_client, ts=ts
            )
        except Exception:
            self.failures.append(f"minute {minute}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.last = self.meter.stop()
            wall = self.last[0]
            if tracer is not None:
                tracer.unpatch()
        date, hour = self.catalog.partition_values(ts)
        part = f"date={date}/hour={hour}"
        problems = checks.check_usage(
            os.path.join(self.catalog.path("usage", "skysafe", "flights"), part),
            snapshot,
            weather,
        )
        if problems:
            self.failures.append(f"minute {minute}: {'; '.join(problems)}")
            return None
        self.used_kmeans.append(result.model_info.used_kmeans)
        if tracer is not None:
            figures = _layer_figures(self.spark, tracer, tracer.run_id)
            figures["_files"] = self._partition_files(part)
            self.traced_units.append(figures)
        return wall

    def _partition_files(self, part: str) -> dict:
        files = raw_bytes = 0
        for layer, source, entity in (
            ("raw", "opensky", "flights"), ("raw", "open_meteo", "weather"),
            ("formatted", "opensky", "flights"), ("formatted", "open_meteo", "weather"),
            ("enriched", "skysafe", "flights"), ("usage", "skysafe", "flights"),
        ):
            d = os.path.join(self.catalog.path(layer, source, entity), part)
            for name in os.listdir(d):
                if name.startswith((".", "_")):
                    continue
                files += 1
                if layer == "raw":
                    raw_bytes += os.path.getsize(os.path.join(d, name))
        return {"files": files, "raw_bytes": raw_bytes}

    def layer_metrics(self) -> dict[str, float]:
        units = self.traced_units
        out = {}
        for layer, fields in SPAN_LAYERS:
            for field, _unit in fields:
                out[f"{layer}.{field}"] = _median_of(units, layer, field)
        out["sources.raw_bytes"] = _median_of(units, "_files", "raw_bytes")
        out["catalog.files_written"] = _median_of(units, "_files", "files")
        out["ml.phase_kmeans.kmeans_share"] = (
            sum(self.used_kmeans) / len(self.used_kmeans) if self.used_kmeans else 0.0
        )
        return out


class LakeQueries:
    """Closed loop, one client: each unit is one pass over LAKE_MIX
    through the query registry, in a seed-permuted order, into a noop
    sink."""

    name = "lake_queries"
    nominal_unit_s = 8.0
    scale = 0.5  # 30k lineitem rows; 10k events, the rows nn_station_join joins

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.rng = random.Random(seed)
        self.seed = seed
        self.table_dir = os.path.join(work, "tables")
        self.attempted = 0
        self.failures: list[str] = []
        self.row_counts: dict[str, int] = {}
        self.traced_units: list[dict] = []
        self.meter = Meter(spark)
        self.last = (0.0, 0.0, 0.0)  # wall, cpu, steal seconds of the last unit

    def prepare(self) -> None:
        lake.generate(self.table_dir, self.seed, self.scale)

    def warm_up(self) -> float:
        """One pass with every result collected and compared with its
        registry oracle in DuckDB; the row counts seen here are checked
        on every later pass. Returns the seconds spent in the engine."""
        from skysafe_datalake_spark.workload import registry

        engine_s = 0.0
        con = checks.lake_connection(self.table_dir, lake.TABLES)
        try:
            for q in LAKE_MIX:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    df = registry.QUERIES[q](self.spark, self.table_dir)
                    columns, rows = df.columns, df.collect()
                except Exception:
                    self.failures.append(f"{q}: {traceback.format_exc(limit=3)}")
                    continue
                finally:
                    engine_s += time.perf_counter() - t0
                got = checks.canonical_rows(columns, rows)
                self.row_counts[q] = len(got)
                if got != checks.oracle_rows(con, registry.ORACLE[q]):
                    self.failures.append(f"{q}: result differs from its oracle")
        finally:
            con.close()
        return engine_s

    def unit(self, tracer: Tracer | None) -> float | None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from skysafe_datalake_spark.workload import registry

        order = list(LAKE_MIX)
        self.rng.shuffle(order)
        if tracer is not None:
            tracer.run_id += 1
        ok = True
        self.meter.start()
        for q in order:
            self.attempted += 1
            span = (
                contextlib.nullcontext() if tracer is None
                else tracer.span(f"lake.{q}", root=True)
            )
            try:
                obs = Observation()
                with span:
                    df = registry.QUERIES[q](self.spark, self.table_dir)
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop").mode("overwrite").save()
                n = obs.get["n"]
            except Exception:
                self.failures.append(f"{q}: {traceback.format_exc(limit=3)}")
                ok = False
                continue
            if n != self.row_counts.get(q):
                self.failures.append(f"{q}: {n} rows, expected {self.row_counts.get(q)}")
                ok = False
        self.last = self.meter.stop()
        wall = self.last[0]
        if tracer is not None:
            self.traced_units.append(_layer_figures(self.spark, tracer, tracer.run_id))
        return wall if ok else None

    def layer_metrics(self) -> dict[str, float]:
        return {
            f"lake.{q}.{field}": _median_of(self.traced_units, f"lake.{q}", field)
            for q in LAKE_MIX
            for field, _unit in LAKE_FIELDS
        }


WORKLOADS = {w.name: w for w in (MinuteDag, LakeQueries)}
