"""SparkSession factory.

Replaces the reference's per-task session builder
(``/root/reference/src/helpers.py:197-225`` — ``local[1]``, 512 MB,
``shuffle.partitions=2``) with a scale-ready configuration:

- AQE on (dynamic shuffle-partition coalescing + skew-join handling)
  so the same code runs from sf0.001 fixtures to a 100 TB cluster
  without retuning ``spark.sql.shuffle.partitions``.
- Session timezone pinned to UTC engine-wide (the reference pins it
  per-job, ``src/format_flights.py:138``); all epoch→timestamp
  conversions mean UTC instants.
- Arrow enabled for any pandas interchange (vectorized batches).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else half the host's physical
    memory in MiB (at least 1 GiB): a fixed size either starves a
    large host or asks a small one for more than it has."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):  # no sysconf on this OS
        return "4g"
    return f"{max(1024, phys // 2 // 2**20)}m"


_DEFAULTS: dict[str, str] = {
    # AQE: coalesce shuffle partitions at runtime, split skewed
    # partitions, demote/promote join strategies on real sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics: epoch seconds == UTC instants.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / toPandas / createDataFrame(pandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast joins for dimension tables up to 64 MB (the engine
    # also hints explicitly with F.broadcast where it matters).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark rejects by default; read as nanos-since-epoch long and let
    # the loader normalize to a microsecond timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Quieter local runs.
    "spark.ui.showConsoleProgress": "false",
    # Local mode runs everything in the driver JVM; the Spark default
    # (1g) starves broadcast builds long before the machine does.
    # Applied only when this factory CREATES the JVM — a pre-existing
    # session keeps its own memory setting.
    "spark.driver.memory": _driver_memory(),
    # Whole-stage codegen classes are cached keyed on generated source
    # (janino compile ≈ seconds for wide aggregates); the Spark default
    # of 100 entries thrashes under this engine's 183-query workload —
    # MEASURED: with 100 entries, `random_projection_reduce` pays its
    # ~4 s compile on EVERY bench pass because ~60 intervening queries
    # evict it; standalone (cache hit) it runs in 0.36 s. A long-lived
    # session serving many distinct queries (exactly the 100 TB
    # deployment shape) wants the compiled classes resident.
    # STATIC SQL conf: like spark.driver.memory above, it only takes
    # effect when this factory actually creates the JVM. getOrCreate()
    # against a session some other harness built first silently keeps
    # the 100-entry default — embedded contexts that care must set it
    # before their first SparkSession.
    "spark.sql.codegen.cache.maxEntries": "10000",
}


def get_spark(
    app_name: str = "skysafe-datalake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``) so the same entry points run in tests and under the
    driver harness; on a real cluster, pass ``master=None`` with
    ``spark.master`` preset in the environment/spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        # Local default: one per core is plenty; AQE coalesces further.
        conf.setdefault("spark.sql.shuffle.partitions", "32")
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
