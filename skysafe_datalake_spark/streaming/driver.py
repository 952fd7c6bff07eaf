"""Streaming pipeline driver — real Structured Streaming replacing
the reference's cron-emulated stream (SURVEY.md §2.10: Airflow
``* * * * *`` + latest-partition reads + ES upsert,
``/root/reference/dags/sky_safe_dag.py:31-33``).

``run_flights_stream`` reads the catalog's raw flights layer as a
file stream (new snapshot files are discovered automatically —
replaces S7 latest-partition scanning). Its ``foreachBatch`` runs the
batch DAG's minute, ``plans.pipeline.run_minute``, once per snapshot
of the micro-batch in ``_extracted_at`` order, so the stream writes the
same layers against the latest formatted weather. The per-minute model
fit and μ+2σ threshold are batch-scoped, which is why this pipeline is
not a pure continuous-streaming plan (SURVEY.md §7.4). Each minute's
usage rows are also upserted by ``icao24`` into a bucketed table, the
engine-native equivalent of the reference's ES ``_id=icao24`` upsert.

Also provided: ``windowed_event_counts`` — a *pure* streaming plan
(watermark + tumbling event-time window) for late-data aggregation,
the capability the reference lacks outright.
"""

from __future__ import annotations

import contextlib
import threading
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from skysafe_datalake_spark.catalog import LakeCatalog, _hadoop_fs
from skysafe_datalake_spark.plans.pipeline import run_minute
from skysafe_datalake_spark.plans.usage import upsert_partitioned
from skysafe_datalake_spark.sources import opensky


def run_flights_stream(
    spark: SparkSession,
    catalog: LakeCatalog,
    usage_dir: str,
    checkpoint_dir: str,
    *,
    trigger_seconds: int | None = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Raw OpenSky snapshots in ``catalog`` → its formatted, enriched
    and usage layers, plus the keyed-upsert table at ``usage_dir``
    (:func:`~skysafe_datalake_spark.plans.usage.upsert_partitioned`),
    once per trigger (the reference's 1-minute cadence).
    ``available_now=True`` processes the current backlog and stops.
    A snapshot without ``_extracted_at`` fails its micro-batch. The
    raw flights directory is created if missing, so the stream can
    start before the first extract.
    """
    raw_dir = catalog.path("raw", "opensky", "flights")
    fs, jpath = _hadoop_fs(spark, raw_dir)
    fs.mkdirs(jpath)
    raw_stream = (
        spark.readStream.schema(opensky.RAW_SCHEMA)
        .option("maxFilesPerTrigger", 96)
        .json(raw_dir)
    )

    def process_batch(raw_batch: DataFrame, batch_id: int) -> None:
        stamps = [r[0] for r in raw_batch.select("_extracted_at").distinct().collect()]
        if None in stamps:
            raise ValueError(f"batch {batch_id} has a snapshot without _extracted_at")
        for stamp in sorted(stamps, key=datetime.fromisoformat):
            snapshot = raw_batch.where(F.col("_extracted_at") == stamp)
            minute = run_minute(spark, catalog, snapshot, ts=datetime.fromisoformat(stamp))
            upsert_partitioned(minute.usage, usage_dir)

    writer = raw_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    # trigger_seconds=None: leave the default ASAP micro-batch trigger
    # (the literal string 'None seconds' would fail interval parsing
    # at query start).
    return writer.start()


SESSIONIZE_OUTPUT_SCHEMA = (
    "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, session_idx INT"
)
SESSIONIZE_STATE_SCHEMA = "last_us BIGINT, last_idx INT"


def sessionize_stream(
    events, *, gap_seconds: int = 1800
):
    """Custom stateful streaming operator: gap-based session
    assignment via ``applyInPandasWithState`` — the streaming twin of
    ``operators.temporal.sessionize`` (same output given the same
    rows).

    Per-key state is one (last event micros, last session index)
    pair, so state size is O(|keys|) regardless of stream length.
    Each micro-batch's rows for a key arrive as Arrow batches, are
    sorted by (ts, event_id), and continue the session numbering from
    state. Rows are emitted append-mode as they are processed;
    grouping shuffles by user_id exactly like the batch window
    partition. (Cross-batch late data is the caller's contract: pair
    with a watermark upstream when feeding real streams.)
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def assign(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            last_us, last_idx = state.get
        else:
            last_us, last_idx = None, 0
        # A key's micro-batch rows can span several Arrow chunks
        # (arrow.maxRecordsPerBatch) with no cross-chunk time order;
        # sorting chunks independently would number sessions wrongly.
        # Materialize the key's whole batch and sort ONCE — per-key
        # batch size is the state contract here, and a single key's
        # events-per-minute is dimension-sized in this domain.
        chunks = list(pdfs)
        if not chunks:  # timeout invocation carries no data
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"])
        us = pdf["ts"].astype("int64") // 1000  # ns -> us
        idxs = []
        for t in us:
            if last_us is None or (t - last_us) > gap_seconds * 1_000_000:
                last_idx += 1
            last_us = int(t)
            idxs.append(last_idx)
        state.update((last_us, last_idx))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": pdf["event_id"].to_numpy(),
                "ts": pdf["ts"].to_numpy(),
                "session_idx": idxs,
            }
        )

    return (
        events.select("user_id", "event_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            assign,
            outputStructType=SESSIONIZE_OUTPUT_SCHEMA,
            stateStructType=SESSIONIZE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_shuffle_partitions(
    n_rows: int,
    *,
    rows_per_store: int = 200_000,
    lo: int = 8,
    hi: int = 128,
) -> int:
    """Shuffle-partition count for a STATEFUL streaming query, sized
    to the stream's input volume (``n_rows``).

    Every shuffle partition of a stateful plan owns a state-store
    instance for the life of the query, and AQE cannot coalesce or
    split stateful shuffles — the count is locked in up front. Both
    directions hurt: 32 stores on a 4k-row replay more than double
    wall time on instance setup/commit alone (measured, hence the
    ``lo`` floor at replay volume), while a fixed small count
    serializes a grown input on ``lo`` tasks — the 64x scale smoke
    measured streaming_stateful_running_agg at 14.8x wall from
    exactly this (6.4M rows through 8 partitions on 32 cores).

    Sizing is by ROW count, not bytes: state work (store puts,
    Python state-update batches) is per-row, and compressed parquet
    bytes understate it ~10x. Callers that already materialize the
    replay input (the bounded-replay harness queries write it to
    parquet first) should capture ``n_rows`` from that same action
    with ``pyspark.sql.Observation`` — an exact count at zero extra
    scans. ``hi`` bounds total store instances (RAM +
    per-micro-batch commit fan-out) on any input.
    """
    return int(max(lo, min(hi, n_rows // rows_per_store)))


# Held by the session-conf scopes below for their whole duration. They
# nest (a stateful replay sizes its shuffle and drops the trailing
# batch), hence re-entrant.
_CONF_SCOPE_LOCK = threading.RLock()


@contextlib.contextmanager
def no_trailing_nodata_batch(spark: SparkSession):
    """Scope ``spark.sql.streaming.noDataMicroBatches.enabled=false``
    to one bounded availableNow replay, restoring the session value on
    exit.

    A terminating replay runs one trailing NO-DATA micro-batch after
    the data batches — a full commit cycle (planning, state-store
    open/commit, offset log) that processes zero rows. For a stream
    whose OUTPUT is complete once the data batches have run, that
    cycle is pure overhead at any scale (it is a fixed per-query cost,
    not a per-row one). Measured at sf0.1 (interleaved A/B, min-of-4,
    results md5-identical): streaming_interval_join 4.01 → 2.35 s,
    streaming_dedup_watermark 1.84 → 1.39 s;
    streaming_stateful_running_agg −0.4 s in a same-session
    decomposition.

    ELIGIBILITY IS SEMANTIC, decide per query: an inner interval join
    emits every match inside the data batch; dedup-within-watermark
    emits first-seen rows immediately; a per-batch stateful emitter
    (NoTimeout) emits as keys appear. The trailing batch only expires
    state those replays no longer need. A streaming OUTER join is the
    opposite — its null-padded rows are produced BY the
    watermark-advance flush in the trailing batch — so
    streaming_left/full_outer_join must NEVER run under this scope
    (pinned by tests/test_streaming_contracts.py).

    The conf is session-global, so the scope holds ``_CONF_SCOPE_LOCK``
    for its whole duration: conf-scoped replays on one session
    serialize, and a concurrent scope can neither read the scoped value
    as its own to restore nor restore over a scope still running."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    with _CONF_SCOPE_LOCK:
        saved = spark.conf.get(key, "true")
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            spark.conf.set(key, saved)


@contextlib.contextmanager
def sized_stateful_shuffle(
    spark: SparkSession,
    n_rows: int,
    *,
    rows_per_store: int = 200_000,
    lo: int = 8,
    hi: int = 128,
):
    """Scope ``spark.sql.shuffle.partitions`` to
    :func:`stateful_shuffle_partitions`'s data-sized count for the
    duration of a stateful stream, restoring the session's value on
    exit (success, return, or raise). The save/restore is load-bearing
    on a shared session — six registry queries used to hand-roll this
    try/finally and each new one risked getting the restore wrong.
    Like :func:`no_trailing_nodata_batch` (the two nest), it holds
    ``_CONF_SCOPE_LOCK`` for its whole duration, so conf changes made
    through these scopes serialize across threads."""
    key = "spark.sql.shuffle.partitions"
    n = stateful_shuffle_partitions(n_rows, rows_per_store=rows_per_store, lo=lo, hi=hi)
    with _CONF_SCOPE_LOCK:
        saved = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, saved)


def streaming_dedup(events, *, id_col: str = "event_id", watermark: str = "2 hours"):
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keys
    state by ``id_col`` and expires entries once the watermark passes
    — bounded state, unlike a plain dropDuplicates on a stream which
    grows forever. Batch-mode semantics degenerate to dropDuplicates
    (same rows), which is what makes it testable."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def session_window_agg(events, *, gap: str = "30 minutes"):
    """Built-in session-window aggregation (F.session_window): one
    row per (user, session) with start/end/count/value-sum. Works on
    batch and streaming inputs with identical semantics; the oracle
    twin derives the same sessions with lag + running-sum SQL
    (workload.advanced.session_window_agg), proving the built-in
    matches classic SQL sessionization."""
    return (
        events.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling event-time aggregation — the streaming
    operator family the reference has none of (no watermarks, no
    event-time windows). Works on a streaming OR batch events
    DataFrame (same plan both ways)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
    within: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded by an event-time interval: right
    rows match left rows with the same key whose timestamp falls in
    ``[left_ts, left_ts + within]`` (the click→purchase attribution
    shape). Both sides carry watermarks and the join condition bounds
    event time in BOTH directions, so Spark can compute a state
    eviction horizon for each side — without the interval bound a
    stream-stream join must keep all history (unbounded state).
    Inputs must have disjoint column names. Works identically on
    batch inputs (plain range-condition join), which is what the
    parity test exploits.

    ``how="left_outer"`` additionally emits null-padded left rows —
    but only once the GLOBAL watermark (min across both streams) has
    passed a row's match window, because until then a matching right
    row could still arrive. Consequence for replays/backfills: the
    final unmatched rows sit in state until some later batch advances
    the watermark past them — a terminating availableNow run must
    push one watermark-advancing sentinel through BOTH streams. When
    the whole replay fits one data batch the sentinel can ride with
    the data (the trailing no-data batch flushes state); if the replay
    is split into multiple batches the sentinel needs a second pass on
    the same checkpoint, or rows batched after it are dropped as late
    (see streaming_left_outer_join)."""
    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l_wm.join(r_wm, cond, how)


def idempotent_foreach_batch(write_fn, commit_dir: str):
    """Exactly-once guard for ``foreachBatch`` sinks that are not
    naturally idempotent (plain appends): Structured Streaming
    guarantees each micro-batch id is REPLAYED after a failure, not
    that your sink saw it once — an append sink duplicates rows on
    retry. This wraps the batch writer with a batch-id commit log:
    a batch whose marker exists is skipped entirely, and the marker
    is written only after ``write_fn`` returns, so a crash between
    write and commit replays the batch (at-least-once write + skip
    on replay = exactly-once observable output for deterministic
    batches).

    The marker store is a directory of ``<batch_id>.committed``
    files — local FS here; on a cluster point it at the same DFS as
    the checkpoint (the pattern table formats implement internally
    via transaction-log commits keyed on (queryId, batchId)).
    Partition-overwrite sinks (``upsert_partitioned``) are already
    idempotent and don't need this."""
    import os

    def inner(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(commit_dir, f"{batch_id}.committed")
        if os.path.exists(marker):
            return
        write_fn(batch_df, batch_id)
        os.makedirs(commit_dir, exist_ok=True)
        tmp = f"{marker}.tmp"
        with open(tmp, "w") as fh:
            fh.write("committed")
        os.rename(tmp, marker)

    return inner
