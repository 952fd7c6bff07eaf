"""Medallion lake catalog: layer/source/entity → date/hour partitions.

The reference's two helpers (``/root/reference/src/helpers.py:90-154``)
as the engine's: a ``<layer>/<source>/<entity>/date=YYYY-MM-DD/hour=HH``
path writer and a listing walk that finds the latest partition. Layers
follow the reference's medallion layout (``README.md:57-75``): raw
(JSON) → formatted / enriched / usage (Parquet).

Every file operation goes through the Hadoop FileSystem client, the
one Spark's own readers use, so plain, ``file://``, ``s3a://`` and
``hdfs://`` roots take one path, and its errors propagate. A write
replaces one partition: the new data lands in a hidden stage inside
it, every other entry is deleted, and the staged data files are
renamed in. Readers skip hidden names, so a failed write leaves the
partition's old data readable. The catalog keeps no state between
calls.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYERS = ("raw", "formatted", "enriched", "usage")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` from the session's Hadoop
    configuration."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def hadoop_ls(spark: SparkSession, path: str) -> list[tuple[str, bool]]:
    """(name, is_dir) of each entry of directory ``path``; [] when it
    does not exist."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [(st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(jpath)]


def _is_data(name: str) -> bool:
    """Spark's readers skip names starting with "." or "_"."""
    return not name.startswith((".", "_"))


def _replace(spark: SparkSession, part: str, stage: str) -> None:
    """Make the data files in ``part``'s hidden child ``stage`` the
    only data of partition ``part``: delete every other entry, rename
    the staged data files in, remove the stage."""
    fs, jpart = _hadoop_fs(spark, part)
    # jpart.suffix("/x") is part's child x, built without a JVM class
    # lookup (one gateway round trip per package level).
    for name, _is_dir in hadoop_ls(spark, part):
        if name != stage:
            fs.delete(jpart.suffix(f"/{name}"), True)
    for name, is_dir in hadoop_ls(spark, f"{part}/{stage}"):
        if not is_dir and _is_data(name):
            src, dst = jpart.suffix(f"/{stage}/{name}"), jpart.suffix(f"/{name}")
            if not fs.rename(src, dst):
                raise OSError(f"could not rename {src.toString()} to {name}")
    fs.delete(jpart.suffix(f"/{stage}"), True)


class LakeCatalog:
    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def path(self, layer: str, source: str, entity: str) -> str:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        return f"{self.root}/{layer}/{source}/{entity}"

    @staticmethod
    def partition_values(ts: datetime | None = None) -> tuple[str, str]:
        ts = ts or datetime.now(timezone.utc)
        return ts.strftime("%Y-%m-%d"), ts.strftime("%H")

    def _partition(self, layer: str, source: str, entity: str, ts: datetime | None) -> str:
        date, hour = self.partition_values(ts)
        return f"{self.path(layer, source, entity)}/date={date}/hour={hour}"

    def write(
        self,
        df: DataFrame,
        layer: str,
        source: str,
        entity: str,
        *,
        ts: datetime | None = None,
    ) -> str:
        """Replace ``ts``'s date/hour partition with one Parquet file of
        ``df``'s rows, in one Spark job: re-running a minute replaces
        only its partition. The frame is coalesced to one task because
        Spark's first task always writes a file, empty or not; so a
        0-row frame leaves one 0-row file of its schema."""
        part = self._partition(layer, source, entity, ts)
        stage = f".stage-{uuid.uuid4()}"
        df.drop("date", "hour").coalesce(1).write.parquet(f"{part}/{stage}")
        _replace(df.sparkSession, part, stage)
        return self.path(layer, source, entity)

    def write_file(
        self,
        spark: SparkSession,
        data: bytes,
        layer: str,
        source: str,
        entity: str,
        *,
        ts: datetime | None = None,
    ) -> str:
        """Replace ``ts``'s date/hour partition with one file holding
        ``data``, with no Spark job; an empty ``data`` reads as 0 rows.
        The file's name is new on every write, because a file-stream
        source remembers paths and would never see a rewritten one."""
        part = self._partition(layer, source, entity, ts)
        stage = f".stage-{uuid.uuid4()}"
        fs, jfile = _hadoop_fs(spark, f"{part}/{stage}/part-{uuid.uuid4()}.json")
        out = fs.create(jfile, True)
        try:
            out.write(data)
        finally:
            out.close()
        _replace(spark, part, stage)
        return self.path(layer, source, entity)

    def _latest_partition(
        self, spark: SparkSession, layer: str, source: str, entity: str
    ) -> tuple[str, str] | None:
        """Newest (date, hour) partition holding a data file, from
        directory listings alone, or None. Dates and hours are walked
        newest first; hours compare as numbers, so a foreign writer's
        unpadded hour=8 orders right, and hours that are not numbers
        (hour=__HIVE_DEFAULT_PARTITION__) are skipped."""
        root = self.path(layer, source, entity)
        dates = [n for n, is_dir in hadoop_ls(spark, root) if is_dir and n.startswith("date=")]
        for date_dir in sorted(dates, reverse=True):  # ISO dates sort by time
            hours = []
            for name, is_dir in hadoop_ls(spark, f"{root}/{date_dir}"):
                if is_dir and name.startswith("hour="):
                    try:
                        hours.append((int(name[len("hour="):]), name))
                    except ValueError:
                        continue
            for _num, hour_dir in sorted(hours, reverse=True):
                entries = hadoop_ls(spark, f"{root}/{date_dir}/{hour_dir}")
                if any(not is_dir and _is_data(n) for n, is_dir in entries):
                    return date_dir[len("date="):], hour_dir[len("hour="):]
        return None

    def read_latest(
        self,
        spark: SparkSession,
        layer: str,
        source: str,
        entity: str,
        *,
        fmt: str = "parquet",
        schema=None,
    ) -> DataFrame:
        """The latest date/hour partition that holds data (reference
        S7, ``src/helpers.py:126-154``). Only that partition's
        directory is loaded, with the entity as ``basePath`` so
        ``date``/``hour`` keep their discovered types: the read is O(1)
        in history and lists with no Spark job. ``schema`` applies to
        the data files; without it Spark infers one from them, which
        for Parquet costs a job. Raises FileNotFoundError when no
        partition holds data."""
        target = self.path(layer, source, entity)
        latest = self._latest_partition(spark, layer, source, entity)
        if latest is None:
            raise FileNotFoundError(f"no partition of {target} holds a data file")
        reader = spark.read.format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        date, hour = latest
        df = reader.option("basePath", target).load(f"{target}/date={date}/hour={hour}")
        # Redundant with the path, but keeps the pruning visible in the
        # plan as PartitionFilters.
        return df.where((F.col("date") == date) & (F.col("hour") == hour))
