"""Medallion lake catalog: layer/source/entity → partitioned files.

Replaces the reference's path arithmetic + S3 ListObjectsV2 scanning
(``/root/reference/src/helpers.py:90-154``:
``<layer>/<source>/<entity>/date=YYYY-MM-DD/hour=HH``) with
partition COLUMNS, so Catalyst does static partition pruning from a
``WHERE date = ... AND hour = ...`` predicate instead of application
code enumerating object-store prefixes. Layers follow the reference's
medallion layout (``README.md:57-75``): raw (JSON) → formatted /
enriched / usage (Parquet).

Two write paths. ``write`` runs a Spark write with dynamic partition
overwrite (only touched partitions rewritten — the reference's
``mode("overwrite")`` nukes the whole entity dir); a 0-row batch still
replaces its partition, with one empty file. ``write_file``
puts one fetch's bytes into the partition through the Hadoop
FileSystem client, no Spark job: the raw layer, like the reference's
boto3 ``save_json``. Latest-partition discovery is a directory
listing (no data files read), and a layer read back by the catalog
instance that wrote it uses the schema it wrote instead of inferring
one from file footers.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LAYERS = ("raw", "formatted", "enriched", "usage")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` from the session's Hadoop
    configuration: the client Spark's own readers use, so it serves
    plain, file://, s3a:// and hdfs:// paths alike."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _data_schema(schema: StructType) -> StructType:
    """``schema`` without the partition columns: a read schema that
    named them would override their discovered types."""
    return StructType([f for f in schema if f.name.lower() not in ("date", "hour")])


def _hadoop_ls(spark: SparkSession, path: str):
    """Directory listing as (basename, is_dir, bytes) triples via the
    Hadoop FileSystem API — the same client Spark's own reader uses,
    so it sees every URI scheme the session can read (file://, s3a://,
    hdfs://, ...). This is the Spark-side twin of the reference's S3
    ListObjectsV2 discovery (``src/helpers.py:90-154``): partition
    discovery stays listing-only, no data files opened, on a real
    object-store lake. Returns [] for a missing path and None when the
    listing itself fails (unsupported scheme, gateway down) so callers
    can fall back."""
    try:
        fs, jpath = _hadoop_fs(spark, path)
        if not fs.exists(jpath):
            return []
        return [
            (st.getPath().getName(), st.isDirectory(), int(st.getLen()))
            for st in fs.listStatus(jpath)
        ]
    except Exception:  # py4j Py4JJavaError / gateway errors
        return None


class LakeCatalog:
    def __init__(self, root: str):
        self.root = root.rstrip("/")
        # entity path -> (date, hour, data schema) of this instance's
        # last successful write(); read_latest reuses the schema while
        # that partition is still the latest one.
        self._written: dict[str, tuple[str, str, StructType]] = {}

    def path(self, layer: str, source: str, entity: str) -> str:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        return f"{self.root}/{layer}/{source}/{entity}"

    @staticmethod
    def partition_values(ts: datetime | None = None) -> tuple[str, str]:
        ts = ts or datetime.now(timezone.utc)
        return ts.strftime("%Y-%m-%d"), ts.strftime("%H")

    def write(
        self,
        df: DataFrame,
        layer: str,
        source: str,
        entity: str,
        *,
        ts: datetime | None = None,
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
    ) -> str:
        """Write one batch into its date/hour partition (dynamic
        overwrite: re-running a minute replaces only that partition —
        idempotent retries, matching the reference's per-partition
        overwrite semantics without its full-table clobber).

        Dynamic overwrite touches only the partitions that receive
        rows, so a 0-row batch would leave the partition's old files
        (or no partition at all) and ``read_latest`` would re-serve an
        older batch. The rows are counted by an ``Observation`` on the
        write itself (no extra job); at 0 rows one more write replaces
        the partition with a single 0-row file of the batch's schema."""
        date, hour = self.partition_values(ts)
        target = self.path(layer, source, entity)
        schema = _data_schema(df.schema)
        self._written.pop(target, None)
        rows = Observation()
        (
            df.observe(rows, F.count(F.lit(1)).alias("n"))
            .withColumn("date", F.lit(date))
            .withColumn("hour", F.lit(hour))
            .write.format(fmt)
            .options(**(options or {}))
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date", "hour")
            .save(target)
        )
        if rows.get["n"] == 0:
            (
                df.sparkSession.createDataFrame([], schema)
                .write.format(fmt)
                .options(**(options or {}))
                .mode("overwrite")
                .save(f"{target}/date={date}/hour={hour}")
            )
        self._written[target] = (date, hour, schema)
        return target

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
        """Make ``data`` the only data file of one date/hour partition,
        through the Hadoop FileSystem client (no Spark job). The bytes
        go to a hidden temp file, every other entry of the partition
        (old data files, stale temps, ``_SUCCESS``) is deleted, and the
        temp is renamed to ``part-<uuid4>.json``. Readers skip hidden
        names, so they never see a partial file, and a re-run minute
        replaces the partition as ``write``'s dynamic overwrite does;
        an empty ``data`` leaves one empty file, which reads as 0 rows.
        The name is new on every write because a file-stream source
        remembers paths and would never see a rewritten one."""
        date, hour = self.partition_values(ts)
        target = self.path(layer, source, entity)
        self._written.pop(target, None)
        name = f"part-{uuid.uuid4()}.json"
        tmp_name = f".{name}.tmp"
        fs, tmp = _hadoop_fs(spark, f"{target}/date={date}/hour={hour}/{tmp_name}")
        part = tmp.getParent()
        out = fs.create(tmp, True)
        try:
            out.write(data)
        finally:
            out.close()
        for st in fs.listStatus(part):
            path = st.getPath()
            if path.getName() != tmp_name:
                fs.delete(path, True)
        # part.suffix("/x") is part's child x, built without a JVM
        # class lookup (one gateway round trip per package level).
        if not fs.rename(tmp, part.suffix(f"/{name}")):
            raise OSError(f"could not rename {tmp.toString()} to {name}")
        return target

    def read(
        self,
        spark: SparkSession,
        layer: str,
        source: str,
        entity: str,
        *,
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
        schema=None,
    ) -> DataFrame:
        """``schema`` (StructType) applies to the data files only;
        partition columns (date/hour) are still appended by partition
        discovery. Required for raw JSON whose payload types must not
        be inferred (e.g. opensky.RAW_SCHEMA keeps heterogeneous
        states[][] scalars as strings)."""
        reader = spark.read.format(fmt).options(**(options or {}))
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(self.path(layer, source, entity))

    def _ls(self, path: str, spark: SparkSession | None = None):
        """(basename, is_dir, bytes) triples for one directory. Plain
        local roots use os.listdir (no JVM hop); URI-schemed roots go
        through the Hadoop FileSystem client when a session is at hand.
        [] = missing/empty dir; None = can't list this root at all
        (URI root without a session, or the Hadoop listing failed)."""
        if "://" in self.root:
            return _hadoop_ls(spark, path) if spark is not None else None
        import os as _os

        try:
            out = []
            for name in _os.listdir(path):
                full = _os.path.join(path, name)
                if _os.path.isdir(full):
                    out.append((name, True, 0))
                else:
                    out.append((name, False, _os.path.getsize(full)))
            return out
        except FileNotFoundError:
            return []

    def _latest_partition(
        self,
        layer: str,
        source: str,
        entity: str,
        spark: SparkSession | None = None,
    ) -> tuple[str, str] | None:
        """Newest (date, hour) partition from the DIRECTORY listing —
        the same discovery compact() uses, via the Hadoop FileSystem
        client on URI-schemed lake roots (the Spark-side twin of the
        reference's S3 ListObjectsV2 walk, ``src/helpers.py:90-154``).
        The former select(date,hour).distinct() was a full data scan
        (metadata-only optimization is off by default), so finding
        the latest raw-JSON partition re-parsed every file ever
        written, O(history) per minute-cadence run. Hours compare
        numerically so an unpadded hour=8 from a foreign writer still
        orders correctly; hour values that don't parse as int (e.g.
        hour=__HIVE_DEFAULT_PARTITION__ from a foreign writer) are
        skipped, and so are hour dirs with no data files (a failed or
        in-flight write leaves an empty dir — selecting it would
        return zero rows while older populated partitions exist).

        Returns None when the root can't be LISTED at all (a URI root
        with no session to reach it, or the Hadoop listing failed);
        read_latest then falls back to Spark-side distinct() discovery
        instead of silently skipping the filter."""
        root = self.path(layer, source, entity)
        entries = self._ls(root, spark)
        if entries is None:
            return None
        dates = sorted(
            n for n, is_dir, _sz in entries if is_dir and n.startswith("date=")
        )
        for date_dir in reversed(dates):  # ISO dates: lexicographic = chrono
            hours = []
            for h, is_dir, _sz in self._ls(f"{root}/{date_dir}", spark) or []:
                if not (is_dir and h.startswith("hour=")):
                    continue
                try:
                    hour_num = int(h.split("=", 1)[1])
                except ValueError:
                    continue
                files = self._ls(f"{root}/{date_dir}/{h}", spark) or []
                if any(
                    not n.startswith((".", "_"))
                    for n, d, _s in files
                    if not d
                ):
                    hours.append((hour_num, h))
            if hours:
                best = max(hours)[1]
                return date_dir.split("=", 1)[1], best.split("=", 1)[1]
        return None

    def read_latest(
        self,
        spark: SparkSession,
        layer: str,
        source: str,
        entity: str,
        *,
        fmt: str = "parquet",
        options: dict[str, str] | None = None,
        schema=None,
    ) -> DataFrame:
        """Latest date/hour partition only (reference S7,
        ``src/helpers.py:126-154``). Discovery is a directory listing
        (no data read) on any filesystem the session can reach —
        os.listdir locally, the Hadoop FileSystem client on URI roots
        (file://, s3a://, hdfs://) — and only the latest partition's
        directory is loaded, with the entity as ``basePath`` so
        ``date``/``hour`` keep their discovered types: the read is O(1)
        in history and never lists with a Spark job. If the listing
        itself fails, falls back to a Spark-side distinct() over the
        partition columns — a partition-values scan instead of a
        listing, but correct on any filesystem Spark can read
        (returning ALL partitions would be a silent semantic downgrade).

        Without a ``schema``, the data schema is the one this instance
        recorded when it wrote the latest partition (no footer-reading
        job). When the latest partition is not the recorded one (another
        writer wrote a newer hour) or nothing was recorded, it is
        inferred from the latest partition's files."""
        latest = self._latest_partition(layer, source, entity, spark)
        if latest is not None:
            target = self.path(layer, source, entity)
            recorded = self._written.get(target)
            if schema is None and recorded is not None and recorded[:2] == latest:
                schema = recorded[2]
            reader = spark.read.format(fmt).options(**(options or {}))
            if schema is not None:
                reader = reader.schema(schema)
            date, hour = latest
            df = reader.option("basePath", target).load(f"{target}/date={date}/hour={hour}")
            # Redundant with the path, but keeps the pruning visible in the
            # plan as PartitionFilters.
            return df.where((F.col("date") == date) & (F.col("hour") == hour))
        df = self.read(
            spark, layer, source, entity, fmt=fmt, options=options, schema=schema
        )
        if {"date", "hour"} <= set(df.columns):
            row = (
                df.select("date", "hour")
                .distinct()
                .orderBy(
                    F.col("date").desc(),
                    # numeric hour ordering, tolerant of foreign
                    # non-numeric values (try_cast: NULL, sorts last)
                    F.expr("try_cast(hour AS INT)").desc_nulls_last(),
                )
                .limit(1)
                .collect()
            )
            if row:
                # Filter on the COLUMN-TYPED values (partition
                # inference may have read hour=08 as int 8 — a
                # stringified "8" would no longer match the column).
                d_v, h_v = row[0]["date"], row[0]["hour"]
                return df.where(
                    (F.col("date") == F.lit(d_v)) & (F.col("hour") == F.lit(h_v))
                )
        return df

    def compact(
        self,
        spark: SparkSession,
        layer: str,
        source: str,
        entity: str,
        *,
        target_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
    ) -> dict[str, tuple[int, int]]:
        """Small-file compaction: rewrite each date/hour partition
        whose file count exceeds what its data volume needs.

        A minute-cadence pipeline writes 1440 partitions/day and each
        micro-batch can leave many small files; scans then pay one
        task + one open per file. Compaction reads a partition once,
        coalesces to ceil(bytes / target_bytes) files, and swaps it
        atomically via dynamic partition overwrite — untouched
        partitions are never rewritten (same mechanism as the upsert
        sink). Returns {partition: (files_before, files_after)} for
        the partitions actually rewritten. Discovery shares ``_ls``
        with read_latest, so it works on URI-schemed lake roots
        (file://, s3a://, hdfs://) through the Hadoop FileSystem
        client.
        """
        root = self.path(layer, source, entity)
        entries = self._ls(root, spark)
        if entries is None:
            raise FileNotFoundError(
                f"cannot list lake root {root!r} for compaction"
            )
        plan: dict[str, tuple[str, str, int, int]] = {}
        for date_dir, d_is_dir, _dsz in sorted(entries):
            if not (d_is_dir and date_dir.startswith("date=")):
                continue
            hour_entries = self._ls(f"{root}/{date_dir}", spark) or []
            for hour_dir, h_is_dir, _hsz in sorted(hour_entries):
                if not (h_is_dir and hour_dir.startswith("hour=")):
                    continue
                listing = (
                    self._ls(f"{root}/{date_dir}/{hour_dir}", spark) or []
                )
                files = [
                    (n, sz)
                    for n, is_dir, sz in listing
                    if not is_dir and n.endswith(".parquet")
                ]
                nbytes = sum(sz for _n, sz in files)
                want = max(1, -(-nbytes // target_bytes))
                if len(files) >= min_files and len(files) > want:
                    key = f"{date_dir}/{hour_dir}"
                    plan[key] = (
                        date_dir.split("=", 1)[1],
                        hour_dir.split("=", 1)[1],
                        len(files),
                        want,
                    )
        result: dict[str, tuple[int, int]] = {}
        for key, (date, hour, before, want) in plan.items():
            part = self.read(spark, layer, source, entity).where(
                (F.col("date") == date) & (F.col("hour") == hour)
            )
            # Re-attach the partition columns as the EXACT directory
            # strings (the write() convention). Partition-type
            # inference reads hour=08 back as int 8; writing that
            # inferred value lands in a NEW hour=8 directory while
            # dynamic overwrite never clears hour=08 — the partition's
            # data silently doubles on every compaction (round-9
            # review, reproduced: 100 rows -> 200).
            part = (
                part.drop("date", "hour")
                .withColumn("date", F.lit(date))
                .withColumn("hour", F.lit(hour))
            )
            (
                part.coalesce(want)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("date", "hour")
                .save(root)
            )
            result[key] = (before, want)
        return result
