"""End-to-end batch pipeline tests: fixture-fed fetchers (the real
OAuth2/token/tolerance code paths, transport swapped), all four
medallion layers materialized through the catalog, and the bucketed
keyed-upsert sink's partition-pruning contract."""

from __future__ import annotations

import os
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from skysafe_datalake_spark.catalog import LakeCatalog
from skysafe_datalake_spark.plans.pipeline import format_weather_stage, run_batch_pipeline
from skysafe_datalake_spark.plans.usage import build_usage, upsert_partitioned
from skysafe_datalake_spark.sources import ingest
from skysafe_datalake_spark.workload.pipeline import (
    FIXTURE_TS,
    fixture_clients,
    fixture_transport,
    states_payload,
    weather_payload,
)
from skysafe_datalake_spark.workload.tables import STATIONS


def _rows(n=40):
    # synthetic_flights-shaped dicts without needing the events table
    out = []
    for i in range(1, n + 1):
        out.append(
            {
                "flight_id": i,
                "lat": 41.3 + (i % 981) / 100.0,
                "lon": -5.1 + ((i * 7) % 1471) / 100.0,
                "baro_altitude": float((i * 13) % 13000),
                "on_ground": i % 10 == 0,
                "velocity": 100.0 + i,
                "vertical_rate": float((i % 41) - 20),
            }
        )
    return out


# ───────────────────────── fetcher contracts ──────────────────────


def test_opensky_token_flow_is_enforced():
    doc = states_payload(_rows(3))
    transport = fixture_transport(doc, {})
    client = ingest.OpenSkyClient(transport, client_id="fixture", client_secret="s")
    payload = client.fetch_states()
    assert len(payload["states"]) == 3
    assert "_extracted_at" in payload

    # a transport that refuses the token must fail the fetch
    def no_token(method, url, **kw):
        if url == ingest.OPENSKY_TOKEN_URL:
            raise ingest.HttpError("500")
        return transport(method, url, **kw)

    bad = ingest.OpenSkyClient(no_token, client_id="fixture", client_secret="s")
    with pytest.raises(ingest.HttpError):
        bad.fetch_states()


def test_opensky_proxy_path_and_none_payload():
    calls = []

    def proxy_transport(method, url, *, json_body=None, **kw):
        calls.append((method, url, json_body))
        return {"time": 1, "states": []}

    client = ingest.OpenSkyClient(proxy_transport, proxy_url="https://proxy.test/")
    client.fetch_states()
    method, url, body = calls[0]
    assert (method, url) == ("POST", "https://proxy.test/")
    assert body == {"bounding_box": list(ingest.FRANCE_BBOX)}

    none_client = ingest.OpenSkyClient(
        lambda *a, **k: None, proxy_url="https://proxy.test/"
    )
    with pytest.raises(ingest.IngestError):
        none_client.fetch_states()


def test_weather_per_point_error_tolerance():
    """One dead station is skipped, the batch succeeds with the other
    five (reference extract_weather.py:78-85 semantics)."""
    weather_by_point = {(s[1], s[2]): weather_payload(s) for s in STATIONS[1:]}
    transport = fixture_transport({"states": []}, weather_by_point)
    client = ingest.OpenMeteoClient(transport)
    results = client.fetch_all()
    assert len(results) == 5
    assert all("_extracted_at" in r for r in results)


# ─────────────────────── end-to-end pipeline ──────────────────────


def test_batch_pipeline_materializes_all_layers(spark, tmp_path):
    import time as _time

    flights_client, weather_client = fixture_clients(states_payload(_rows(60)))
    cat = LakeCatalog(str(tmp_path / "lake"))
    t0 = _time.perf_counter()
    result = run_batch_pipeline(
        spark, cat, flights_client, weather_client, ts=FIXTURE_TS, with_counts=True
    )
    total = _time.perf_counter() - t0

    # Per-stage wall attribution: every DAG stage records a positive
    # wall time. Since r14 the flights and weather legs (extract →
    # format) run concurrently (guide §2.6), so the stage sum may
    # legitimately EXCEED the wall (overlapped time counts twice);
    # the serial-spine invariant below replaces the old
    # `staged <= total` bound. The legs still dominate the wall, so
    # the 0.95 lower bound stands.
    expected_stages = {
        "extract_flights",
        "extract_weather",
        "format_flights",
        "format_weather",
        "combine",
        "usage",
        "counts",  # with_counts=True
    }
    assert set(result.stage_seconds) == expected_stages
    assert all(s >= 0 for s in result.stage_seconds.values())
    staged = sum(result.stage_seconds.values())
    assert staged >= 0.95 * total
    # Serial spine: the longest leg plus the sequential tail stages
    # must fit inside the pipeline wall (a stage timer counting work
    # outside its thread would break this).
    s = result.stage_seconds
    flights_leg = s["extract_flights"] + s["format_flights"]
    weather_leg = s["extract_weather"] + s["format_weather"]
    spine = max(flights_leg, weather_leg) + s["combine"] + s["usage"] + s["counts"]
    assert spine <= total + 0.05
    # scale_smoke.py reads the module-level copy for the e2e row
    from skysafe_datalake_spark.plans import pipeline as plans_pipeline

    assert plans_pipeline.LAST_STAGE_SECONDS == result.stage_seconds

    assert result.counts["formatted_flights"] == 60
    assert result.counts["formatted_weather"] == 6
    assert result.counts["enriched"] == 60
    assert result.counts["usage"] == 60

    # raw layer holds the verbatim payload documents
    raw = cat.read_latest(spark, "raw", "opensky", "flights", fmt="text")
    assert raw.count() == 1 and raw.first()["value"].startswith("{")

    # usage layer == build_usage applied to the formatted layers
    flights = cat.read_latest(spark, "formatted", "opensky", "flights").drop(
        "date", "hour"
    )
    weather = cat.read_latest(spark, "formatted", "open_meteo", "weather").drop(
        "date", "hour"
    )
    from skysafe_datalake_spark.plans.combine import combine_enrich

    enriched, _ = combine_enrich(flights, weather)
    expected = {
        (r["icao24"], r["risk_score"], r["risk_category"], round(r["dist_km"], 6))
        for r in build_usage(enriched)
        .select("icao24", "risk_score", "risk_category", "dist_km")
        .collect()
    }
    usage = cat.read_latest(spark, "usage", "skysafe", "flights")
    got = {
        (r["icao24"], r["risk_score"], r["risk_category"], round(r["dist_km"], 6))
        for r in usage.select(
            "icao24", "risk_score", "risk_category", "dist_km"
        ).collect()
    }
    assert got == expected

    # partition pruning survives the pipeline: latest-read plans carry
    # the partition predicate, not a full-table scan
    plan = usage._jdf.queryExecution().executedPlan().toString()
    assert "date=2026-02-26" in plan or "PartitionFilters" in plan


def _phase_rows(n=300, seed=7):
    """A snapshot with ground, climbing/descending and cruising
    traffic (plus a few odd aircraft), so the minute's K-Means fit
    separates its clusters and takes the KMeans path."""
    import random

    rnd = random.Random(seed)
    out = []
    for i in range(1, n + 1):
        kind = i % 3
        if kind == 0:  # on the ground or on a take-off/landing roll
            alt, vel, vr = rnd.uniform(0, 300), rnd.uniform(0, 60), rnd.uniform(-1, 1)
        elif kind == 1:  # climb or descent
            alt = rnd.uniform(1000, 9000)
            vel = rnd.uniform(120, 220)
            vr = rnd.choice((-1, 1)) * rnd.uniform(5, 15)
        else:  # cruise
            alt, vel, vr = rnd.uniform(10000, 12000), rnd.uniform(220, 260), rnd.uniform(-1, 1)
        if i % 50 == 0:  # an odd one: fast and steep near the ground
            alt, vel, vr = rnd.uniform(0, 500), rnd.uniform(250, 300), 25.0
        out.append(
            {
                "flight_id": i,
                "lat": rnd.uniform(41.3, 51.1),
                "lon": rnd.uniform(-5.1, 9.6),
                "baro_altitude": alt,
                "on_ground": kind == 0 and vel < 30,
                "velocity": vel,
                "vertical_rate": vr,
            }
        )
    return out


def _partition_files(partition_dir):
    return [f for f in os.listdir(partition_dir) if f.startswith("part-")]


def test_batch_minute_invariants(spark, tmp_path):
    """Phase labels follow cluster altitude, the anomaly flag is the
    μ+2σ threshold over the score, and each layer partition of a
    minute is one data file."""
    flights_client, weather_client = fixture_clients(states_payload(_phase_rows()))
    cat = LakeCatalog(str(tmp_path / "lake"))
    result = run_batch_pipeline(spark, cat, flights_client, weather_client, ts=FIXTURE_TS)
    info = result.model_info
    assert info.used_kmeans
    usage = cat.read_latest(spark, "usage", "skysafe", "flights")
    rows = usage.select(
        "flight_phase", "flight_phase_id", "baro_altitude", "is_anomaly", "anomaly_score"
    ).collect()
    assert len(rows) == 300

    # M5: clusters labelled in the order of their mean altitude.
    by_cluster: dict[int, list[float]] = {}
    label_of: dict[int, set[str]] = {}
    for r in rows:
        by_cluster.setdefault(r["flight_phase_id"], []).append(r["baro_altitude"])
        label_of.setdefault(r["flight_phase_id"], set()).add(r["flight_phase"])
    assert all(len(labels) == 1 for labels in label_of.values())
    ranked = sorted(by_cluster, key=lambda c: sum(by_cluster[c]) / len(by_cluster[c]))
    assert [label_of[c].pop() for c in ranked] == [
        "Takeoff / Landing",
        "Climb / Descent",
        "Cruise",
    ]

    # M7: is_anomaly == score > threshold; anomaly_score is rounded to
    # 4 decimals, so rows within half a unit of the threshold are moot.
    decided = [r for r in rows if abs(r["anomaly_score"] - info.anomaly_threshold) > 5e-5]
    assert len(decided) >= len(rows) - 2
    assert all(
        r["is_anomaly"] == (r["anomaly_score"] > info.anomaly_threshold) for r in decided
    )
    assert any(r["is_anomaly"] for r in rows)

    date, hour = LakeCatalog.partition_values(FIXTURE_TS)
    layers = (
        ("raw", "opensky", "flights"),
        ("raw", "open_meteo", "weather"),
        ("formatted", "opensky", "flights"),
        ("formatted", "open_meteo", "weather"),
        ("enriched", "skysafe", "flights"),
        ("usage", "skysafe", "flights"),
    )
    for layer in layers:
        part = os.path.join(cat.path(*layer), f"date={date}", f"hour={hour}")
        assert len(_partition_files(part)) == 1, layer


def _clients_at(doc, at, stations=STATIONS):
    """``fixture_clients`` whose fetches are stamped ``at``."""
    transport = fixture_transport(doc, {(st[1], st[2]): weather_payload(st) for st in stations})
    return (
        ingest.OpenSkyClient(transport, client_id="fixture", client_secret="s", clock=lambda: at),
        ingest.OpenMeteoClient(transport, clock=lambda: at),
    )


def _partition_rows(spark, cat, layer, ts):
    """Sorted reprs of one layer partition's rows."""
    return sorted(map(repr, spark.read.parquet(*_layer_files(cat, layer, ts)).collect()))


def _drain(query):
    try:
        assert query.awaitTermination(300), "stream did not drain its backlog"
    finally:
        query.stop()


# Two minutes a minute apart, in two hours: a raw write replaces its
# hour partition, so two snapshots only coexist in the raw layer when
# their hours differ.
TWO_MINUTES = (FIXTURE_TS + timedelta(minutes=59), FIXTURE_TS + timedelta(minutes=60))


def test_batch_and_stream_paths_agree(spark, tmp_path):
    """Two minutes through the batch DAG, then the same raw layer
    through the flights stream in one micro-batch: every layer
    partition the stream writes, and its upsert table, equal the batch
    DAG's. Both paths run one minute function."""
    import shutil

    from skysafe_datalake_spark.streaming.driver import run_flights_stream

    batch = LakeCatalog(str(tmp_path / "batch"))
    for seed, ts in zip((7, 8), TWO_MINUTES):
        doc = states_payload(_phase_rows(seed=seed))
        run_batch_pipeline(spark, batch, *_clients_at(doc, ts), ts=ts)
    stream = LakeCatalog(str(tmp_path / "stream"))
    for part in (("raw",), ("formatted", "open_meteo")):
        shutil.copytree(os.path.join(batch.root, *part), os.path.join(stream.root, *part))

    usage_dir = str(tmp_path / "stream_usage")
    q = run_flights_stream(spark, stream, usage_dir, str(tmp_path / "ckpt"), available_now=True)
    _drain(q)
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 1  # one batch
    for layer in (
        ("formatted", "opensky", "flights"),
        ("enriched", "skysafe", "flights"),
        ("usage", "skysafe", "flights"),
    ):
        for ts in TWO_MINUTES:
            want = _partition_rows(spark, batch, layer, ts)
            assert len(want) == 300 and _partition_rows(spark, stream, layer, ts) == want

    batch_usage = batch.read_latest(spark, "usage", "skysafe", "flights").drop("date", "hour")
    upserted = spark.read.parquet(usage_dir).drop("kb")
    assert sorted(upserted.columns) == sorted(batch_usage.columns)
    cols = sorted(batch_usage.columns)
    got = sorted((tuple(r) for r in upserted.select(cols).collect()), key=repr)
    want = sorted((tuple(r) for r in batch_usage.select(cols).collect()), key=repr)
    assert len(want) == 300
    assert got == want


def test_stream_batch_of_two_snapshots_serves_the_newest(spark, tmp_path):
    """One micro-batch holding two snapshots of the same aircraft
    upserts each aircraft's newer position, not the one nearer a
    station."""
    from skysafe_datalake_spark.streaming.driver import run_flights_stream

    cat = LakeCatalog(str(tmp_path / "lake"))
    at_station = [dict(r, lat=st[1], lon=st[2]) for r, st in zip(_phase_rows(2), STATIONS)]
    moved = [dict(r, lat=r["lat"] + 0.5, lon=r["lon"] + 0.5) for r in at_station]
    for rows, ts in zip((at_station, moved), TWO_MINUTES):
        flights_client, weather_client = _clients_at(states_payload(rows), ts)
        ingest.extract_flights(spark, cat, flights_client, ts=ts)
    ingest.extract_weather(spark, cat, weather_client, ts=TWO_MINUTES[0])
    format_weather_stage(spark, cat, ts=TWO_MINUTES[0])

    usage_dir = str(tmp_path / "usage")
    _drain(run_flights_stream(spark, cat, usage_dir, str(tmp_path / "ckpt"), available_now=True))
    want = {str(r["flight_id"]): (r["lat"], r["lon"]) for r in moved}
    layer = cat.read_latest(spark, "usage", "skysafe", "flights")
    for usage in (spark.read.parquet(usage_dir), layer):
        got = {r["icao24"]: (r["latitude"], r["longitude"]) for r in usage.collect()}
        assert got == want


def test_stream_uses_weather_written_after_it_started(spark, tmp_path):
    """A running flights stream combines each minute with the latest
    formatted weather at that minute, including weather formatted after
    the query started."""
    from skysafe_datalake_spark.streaming.driver import run_flights_stream

    cat = LakeCatalog(str(tmp_path / "lake"))
    windy = [st[:4] + (st[4] + 50.0,) + st[5:] for st in STATIONS]
    doc = states_payload(_phase_rows(3))
    usage_dir = str(tmp_path / "usage")
    q = None
    gusts = []
    try:
        for ts, stations in zip(TWO_MINUTES, (STATIONS, windy)):
            flights_client, weather_client = _clients_at(doc, ts, stations)
            ingest.extract_weather(spark, cat, weather_client, ts=ts)
            format_weather_stage(spark, cat, ts=ts)
            ingest.extract_flights(spark, cat, flights_client, ts=ts)
            if q is None:
                q = run_flights_stream(
                    spark, cat, usage_dir, str(tmp_path / "ckpt"), trigger_seconds=None
                )
            q.processAllAvailable()
            usage = spark.read.parquet(usage_dir).orderBy("icao24")
            gusts.append([r["wind_gusts_10m"] for r in usage.collect()])
    finally:
        if q is not None:
            q.stop()
    assert len(gusts[0]) == 3
    assert gusts[1] == [g + 50.0 for g in gusts[0]]


def test_stream_starts_before_the_first_extract(spark, tmp_path):
    """A flights stream started on an empty catalog drains with no
    batch, then picks up a minute extracted afterwards."""
    from skysafe_datalake_spark.streaming.driver import run_flights_stream

    cat = LakeCatalog(str(tmp_path / "lake"))
    usage_dir, ckpt = str(tmp_path / "usage"), str(tmp_path / "ckpt")
    q = run_flights_stream(spark, cat, usage_dir, ckpt, available_now=True)
    _drain(q)
    assert not [p for p in q.recentProgress if p["numInputRows"]]

    flights_client, weather_client = fixture_clients(states_payload(_phase_rows(3)))
    ingest.extract_weather(spark, cat, weather_client, ts=FIXTURE_TS)
    format_weather_stage(spark, cat, ts=FIXTURE_TS)
    ingest.extract_flights(spark, cat, flights_client, ts=FIXTURE_TS)
    _drain(run_flights_stream(spark, cat, usage_dir, ckpt, available_now=True))
    usage = spark.read.parquet(usage_dir)
    assert sorted(r["icao24"] for r in usage.collect()) == ["1", "2", "3"]


def test_stream_fails_a_snapshot_without_extracted_at(spark, tmp_path):
    """A snapshot with no ``_extracted_at`` has no minute to run as:
    its micro-batch fails the query instead of being skipped."""
    from pyspark.errors import StreamingQueryException

    from skysafe_datalake_spark.streaming.driver import run_flights_stream

    cat = LakeCatalog(str(tmp_path / "lake"))
    ingest.write_raw_payloads(
        spark, cat, [states_payload(_phase_rows(2))], "opensky", "flights", ts=FIXTURE_TS
    )
    q = run_flights_stream(
        spark, cat, str(tmp_path / "usage"), str(tmp_path / "ckpt"), available_now=True
    )
    try:
        with pytest.raises(StreamingQueryException, match="without _extracted_at"):
            q.awaitTermination(300)
    finally:
        q.stop()


def test_repeated_icao24_yields_one_enriched_and_one_usage_row(spark, tmp_path):
    """A snapshot that lists an aircraft twice still yields one enriched
    and one usage row for it: the NN join's argmin groups by icao24, so
    the minute needs no latest-per-key pass of its own."""
    rows = _phase_rows(6)
    rows.append(dict(rows[0], lat=rows[0]["lat"] + 1.0, velocity=rows[0]["velocity"] + 5))
    cat = LakeCatalog(str(tmp_path / "lake"))
    run_batch_pipeline(spark, cat, *fixture_clients(states_payload(rows)), ts=FIXTURE_TS)
    assert cat.read_latest(spark, "formatted", "opensky", "flights").count() == 7
    for layer in (("enriched", "skysafe", "flights"), ("usage", "skysafe", "flights")):
        keys = [r["icao24"] for r in cat.read_latest(spark, *layer).collect()]
        assert sorted(keys) == ["1", "2", "3", "4", "5", "6"], layer


def test_two_aircraft_minute(spark, tmp_path):
    """A sparse snapshot (fewer aircraft than clusters) is a normal
    minute: the rules path labels it and its usage rows land."""
    flights_client, weather_client = fixture_clients(states_payload(_phase_rows(2)))
    cat = LakeCatalog(str(tmp_path / "lake"))
    result = run_batch_pipeline(spark, cat, flights_client, weather_client, ts=FIXTURE_TS)
    assert not result.model_info.used_kmeans
    usage = cat.read_latest(spark, "usage", "skysafe", "flights")
    rows = usage.select("icao24", "is_anomaly", "anomaly_score").collect()
    assert sorted(tuple(r) for r in rows) == [("1", False, 0.0), ("2", False, 0.0)]


def test_combine_job_budget(spark, tmp_path):
    """A perf gate host noise cannot move: on one fixture minute the
    combine stage (NN join, risk, phase model) starts at most 4 Spark
    jobs, counted by Spark's own status tracker."""
    from skysafe_datalake_spark.plans.combine import combine_enrich

    flights_client, weather_client = fixture_clients(states_payload(_phase_rows()))
    cat = LakeCatalog(str(tmp_path / "lake"))
    run_batch_pipeline(spark, cat, flights_client, weather_client, ts=FIXTURE_TS)
    flights = cat.read_latest(spark, "formatted", "opensky", "flights").drop("date", "hour")
    weather = cat.read_latest(spark, "formatted", "open_meteo", "weather").drop(
        "date", "hour"
    )

    sc = spark.sparkContext
    group = "test-combine-job-budget"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        _, info = combine_enrich(flights, weather)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert info.used_kmeans
    assert 1 <= len(jobs) <= 4, sorted(jobs)


def test_minute_rerun_after_crash_matches_clean_run(spark, tmp_path, monkeypatch):
    """A minute whose usage stage crashed, re-run for the same ts,
    leaves every layer partition as a clean run of that minute in a
    second lake: the same rows, one data file, nothing left over from
    the failed attempt."""
    from skysafe_datalake_spark.plans import pipeline as plans_pipeline

    doc = states_payload(_phase_rows())
    clean = LakeCatalog(str(tmp_path / "clean"))
    run_batch_pipeline(spark, clean, *fixture_clients(doc), ts=FIXTURE_TS)

    def crash(*args, **kwargs):
        raise RuntimeError("usage stage crashed")

    rerun = LakeCatalog(str(tmp_path / "rerun"))
    with monkeypatch.context() as m:
        m.setattr(plans_pipeline, "usage_stage", crash)
        with pytest.raises(RuntimeError, match="usage stage crashed"):
            run_batch_pipeline(spark, rerun, *fixture_clients(doc), ts=FIXTURE_TS)
    run_batch_pipeline(spark, rerun, *fixture_clients(doc), ts=FIXTURE_TS)

    date, hour = LakeCatalog.partition_values(FIXTURE_TS)
    for layer in (
        ("raw", "opensky", "flights"),
        ("raw", "open_meteo", "weather"),
        ("formatted", "opensky", "flights"),
        ("formatted", "open_meteo", "weather"),
        ("enriched", "skysafe", "flights"),
        ("usage", "skysafe", "flights"),
    ):
        rows = []
        for cat in (clean, rerun):
            table = cat.path(*layer)
            assert os.listdir(table) == [f"date={date}"], layer
            assert os.listdir(os.path.join(table, f"date={date}")) == [f"hour={hour}"]
            part = os.path.join(table, f"date={date}", f"hour={hour}")
            names = sorted(os.listdir(part))
            data = [n for n in names if not n.startswith(".")]
            assert len(data) == 1 and names == [f".{data[0]}.crc", data[0]], (layer, names)
            fmt = "text" if layer[0] == "raw" else "parquet"
            df = spark.read.format(fmt).load(part)
            rows.append(sorted(map(repr, df.collect())))
        assert rows[0] == rows[1], layer


def _jobs_in_group(spark, group, fn):
    """``fn()`` under its own Spark job group, and the number of jobs
    it started, by Spark's status tracker. The caller's group is put
    back afterwards, so groups nest."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_minute_job_budget(spark, tmp_path, monkeypatch):
    """A perf gate host noise cannot move: each stage of one fixture
    minute, run in its own job group, starts no more Spark jobs than
    its budget, and the minute as a whole no more than 8. Extract
    writes files, not Spark jobs, no layer read-back starts a
    schema-inference job, and each stage hands its frame to the next."""
    from skysafe_datalake_spark.plans import pipeline as plans_pipeline

    budgets = {
        (ingest, "extract_flights"): 0,
        (ingest, "extract_weather"): 0,
        (plans_pipeline, "format_flights_stage"): 1,
        (plans_pipeline, "format_weather_stage"): 1,
        (plans_pipeline, "combine_stage"): 5,
        (plans_pipeline, "usage_stage"): 1,
    }
    jobs = {}
    for owner, name in budgets:
        def grouped(*args, _fn=getattr(owner, name), _name=name, **kwargs):
            group = f"test-minute-job-budget-{_name}"
            out, jobs[_name] = _jobs_in_group(spark, group, lambda: _fn(*args, **kwargs))
            return out

        monkeypatch.setattr(owner, name, grouped)
    flights_client, weather_client = fixture_clients(states_payload(_phase_rows()))
    cat = LakeCatalog(str(tmp_path / "lake"))
    result, elsewhere = _jobs_in_group(
        spark,
        "test-minute-job-budget",
        lambda: run_batch_pipeline(spark, cat, flights_client, weather_client, ts=FIXTURE_TS),
    )
    monkeypatch.undo()
    assert result.model_info.used_kmeans
    assert all(jobs[name] <= budget for (_o, name), budget in budgets.items()), jobs
    assert sum(jobs.values()) + elsewhere <= 8, (jobs, elsewhere)
    assert cat.read_latest(spark, "usage", "skysafe", "flights").count() == 300


def _raw_partition(cat, source, entity, ts=FIXTURE_TS):
    date, hour = LakeCatalog.partition_values(ts)
    return os.path.join(cat.path("raw", source, entity), f"date={date}", f"hour={hour}")


def test_zero_document_fetch_empties_the_raw_partition(spark, tmp_path):
    """A fetch that returns no documents replaces the minute's raw
    partition with an empty file instead of re-serving the previous
    fetch (the reference's ``save_json(results)`` of an empty list)."""
    from skysafe_datalake_spark.sources import openmeteo

    cat = LakeCatalog(str(tmp_path / "lake"))
    docs = [weather_payload(s) for s in STATIONS[:2]]
    ingest.write_raw_payloads(spark, cat, docs, "open_meteo", "weather", ts=FIXTURE_TS)

    def read():
        return cat.read_latest(
            spark, "raw", "open_meteo", "weather", fmt="json", schema=openmeteo.RAW_SCHEMA
        ).count()

    assert read() == 2
    ingest.write_raw_payloads(spark, cat, [], "open_meteo", "weather", ts=FIXTURE_TS)
    assert read() == 0
    part = _raw_partition(cat, "open_meteo", "weather")
    (data,) = [n for n in os.listdir(part) if not n.startswith(".")]
    assert os.path.getsize(os.path.join(part, data)) == 0


def _layer_files(cat, layer, ts):
    date, hour = LakeCatalog.partition_values(ts)
    part = os.path.join(cat.path(*layer), f"date={date}", f"hour={hour}")
    return [os.path.join(part, name) for name in _partition_files(part)]


def test_zero_row_write_replaces_the_partition(spark, tmp_path):
    """Writing 0 rows over a minute's 2 rows, in one Spark job, leaves
    that partition one 0-row file with the frame's schema: read_latest
    returns 0 rows, not the 2 old ones."""
    cat = LakeCatalog(str(tmp_path / "lake"))
    layer = ("formatted", "opensky", "flights")
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "icao24 string, lat double")
    cat.write(df, *layer, ts=FIXTURE_TS)
    assert cat.read_latest(spark, *layer).count() == 2

    _, jobs = _jobs_in_group(
        spark, "test-zero-row-write", lambda: cat.write(df.limit(0), *layer, ts=FIXTURE_TS)
    )
    assert jobs == 1
    latest = cat.read_latest(spark, *layer)
    assert latest.count() == 0
    assert latest.columns == ["icao24", "lat", "date", "hour"]
    (data,) = _layer_files(cat, layer, FIXTURE_TS)
    assert spark.read.parquet(data).schema == df.schema


def test_zero_row_write_makes_a_new_hour_the_latest(spark, tmp_path):
    """0 rows written for a later hour create that hour's partition, so
    read_latest serves it (0 rows) instead of the earlier hour's rows."""
    from datetime import timedelta

    cat = LakeCatalog(str(tmp_path / "lake"))
    layer = ("formatted", "open_meteo", "weather")
    df = spark.createDataFrame([(1, 20.5), (2, 21.0)], "station_id int, temp double")
    cat.write(df, *layer, ts=FIXTURE_TS)
    later = FIXTURE_TS + timedelta(hours=1)
    cat.write(df.where("temp > 100"), *layer, ts=later)
    assert len(_layer_files(cat, layer, later)) == 1
    latest = cat.read_latest(spark, *layer)
    assert latest.count() == 0
    # A second catalog on the same root reads the empty file's schema.
    fresh = LakeCatalog(str(tmp_path / "lake")).read_latest(spark, *layer)
    assert fresh.count() == 0 and fresh.columns[:2] == ["station_id", "temp"]


def test_empty_snapshot_minute_serves_no_stale_aircraft(spark, tmp_path):
    """A minute whose snapshot has no aircraft, after a 3-aircraft
    minute of the same hour, reads back 0 rows from its formatted
    flights, enriched and usage layers."""
    from datetime import timedelta

    cat = LakeCatalog(str(tmp_path / "lake"))
    run_batch_pipeline(
        spark, cat, *fixture_clients(states_payload(_phase_rows(3))), ts=FIXTURE_TS
    )
    layers = (
        ("formatted", "opensky", "flights"),
        ("enriched", "skysafe", "flights"),
        ("usage", "skysafe", "flights"),
    )
    assert [cat.read_latest(spark, *layer).count() for layer in layers] == [3, 3, 3]

    ts = FIXTURE_TS + timedelta(minutes=1)
    run_batch_pipeline(spark, cat, *fixture_clients(states_payload([])), ts=ts)
    assert [cat.read_latest(spark, *layer).count() for layer in layers] == [0, 0, 0]
    assert cat.read_latest(spark, "formatted", "open_meteo", "weather").count() > 0
    for layer in layers:
        assert len(_layer_files(cat, layer, ts)) == 1, layer


def test_flights_stream_sees_every_minute_of_an_hour(spark, tmp_path):
    """Two minutes of one hour land two raw files; a stream over the
    raw flights layer picks up the second one as a new batch. A raw
    write that reused its file name would be skipped by the file
    source, which remembers the paths it has read."""
    from datetime import timedelta

    from skysafe_datalake_spark.streaming.driver import run_flights_stream

    cat = LakeCatalog(str(tmp_path / "lake"))
    _, weather_client = fixture_clients(states_payload([]))
    ingest.extract_weather(spark, cat, weather_client, ts=FIXTURE_TS)
    format_weather_stage(spark, cat, ts=FIXTURE_TS)
    usage_dir = str(tmp_path / "usage")
    seen = []
    for minute, n in ((0, 3), (1, 5)):
        flights_client, _ = fixture_clients(states_payload(_phase_rows(n)))
        ts = FIXTURE_TS + timedelta(minutes=minute)
        ingest.extract_flights(spark, cat, flights_client, ts=ts)
        q = run_flights_stream(
            spark, cat, usage_dir, str(tmp_path / "ckpt"), available_now=True
        )
        try:
            assert q.awaitTermination(300), "stream did not drain its backlog"
        finally:
            q.stop()
        usage = spark.read.parquet(usage_dir)
        seen.append(sorted(r["icao24"] for r in usage.select("icao24").collect()))
    assert seen == [["1", "2", "3"], ["1", "2", "3", "4", "5"]]


def test_raw_write_is_atomic_and_leaves_nothing_behind(spark, tmp_path, monkeypatch):
    """A raw write whose final rename fails leaves only a hidden stage;
    re-running the same minute leaves exactly one data file with the
    second run's documents and no stage."""
    from skysafe_datalake_spark import catalog as catalog_mod

    real_hadoop_fs = catalog_mod._hadoop_fs
    failures = []

    class RenameFailsOnce:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            if not failures:
                failures.append(dst.getName())
                raise OSError("rename failed")
            return self._fs.rename(src, dst)

    def hadoop_fs(spark_, path):
        fs, jpath = real_hadoop_fs(spark_, path)
        return RenameFailsOnce(fs), jpath

    monkeypatch.setattr(catalog_mod, "_hadoop_fs", hadoop_fs)
    cat = LakeCatalog(str(tmp_path / "lake"))
    first = [{"run": 1, "i": i} for i in range(3)]
    second = [{"run": 2, "i": i} for i in range(2)]
    with pytest.raises(OSError, match="rename failed"):
        ingest.write_raw_payloads(spark, cat, first, "api", "docs", ts=FIXTURE_TS)
    ingest.write_raw_payloads(spark, cat, second, "api", "docs", ts=FIXTURE_TS)

    part = _raw_partition(cat, "api", "docs")
    names = sorted(os.listdir(part))
    data = [n for n in names if not n.startswith(".")]
    assert len(data) == 1 and data[0] != failures[0], names
    assert names == [f".{data[0]}.crc", data[0]], names
    back = cat.read_latest(spark, "raw", "api", "docs", fmt="json", schema="run int, i int")
    assert sorted(tuple(r)[:2] for r in back.collect()) == [(2, 0), (2, 1)]


def test_failed_write_keeps_the_previous_rows(spark, tmp_path):
    """A write whose Spark job fails leaves read_latest serving the
    partition's previous rows, with only a hidden stage left behind.
    The next write, of a frame whose first partition is empty, leaves
    one data file and its checksum."""
    cat = LakeCatalog(str(tmp_path / "lake"))
    layer = ("formatted", "api", "docs")
    df = spark.createDataFrame([(1,), (2,)], "x int")
    cat.write(df, *layer, ts=FIXTURE_TS)
    failing = df.withColumn(
        "x", F.when(F.col("x") > 1, F.raise_error(F.lit("write failed"))).otherwise(F.col("x"))
    )
    with pytest.raises(Exception, match="write failed"):
        cat.write(failing, *layer, ts=FIXTURE_TS)

    date, hour = LakeCatalog.partition_values(FIXTURE_TS)
    part = os.path.join(cat.path(*layer), f"date={date}", f"hour={hour}")
    hidden = [n for n in os.listdir(part) if n.startswith(".") and not n.endswith(".crc")]
    assert len(hidden) == 1 and hidden[0].startswith(".stage-"), hidden
    assert sorted(r["x"] for r in cat.read_latest(spark, *layer).collect()) == [1, 2]

    cat.write(df.where("x = 1"), *layer, ts=FIXTURE_TS)
    names = sorted(os.listdir(part))
    data = [n for n in names if not n.startswith(".")]
    assert len(data) == 1 and names == [f".{data[0]}.crc", data[0]], names
    assert [r["x"] for r in cat.read_latest(spark, *layer).collect()] == [1]


def test_raw_round_trip_on_a_file_uri_root(spark, tmp_path):
    """The raw write goes through the Hadoop FileSystem client, so a
    file:// lake root takes the same path as s3a:// or hdfs://."""
    from skysafe_datalake_spark.sources import opensky

    cat = LakeCatalog("file://" + str(tmp_path / "lake"))
    doc = states_payload(_phase_rows(4))
    path = ingest.write_raw_payloads(spark, cat, [doc], "opensky", "flights", ts=FIXTURE_TS)
    assert path.startswith("file://")
    raw = cat.read_latest(
        spark, "raw", "opensky", "flights", fmt="json", schema=opensky.RAW_SCHEMA
    ).collect()
    assert len(raw) == 1 and len(raw[0]["states"]) == 4
    assert sorted(s[0] for s in raw[0]["states"]) == ["1", "2", "3", "4"]


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema]


def test_recorded_schema_reads_like_inference(spark, tmp_path):
    """The formatted-weather schema ``run_minute`` reads with equals
    the schema Spark infers from what ``format_weather_stage`` wrote,
    and the read with it starts no job. Both reads give the same
    partition-column types and rows."""
    from skysafe_datalake_spark.plans.pipeline import formatted_weather_schema

    _, weather_client = fixture_clients(states_payload([]))
    cat = LakeCatalog(str(tmp_path / "lake"))
    ingest.extract_weather(spark, cat, weather_client, ts=FIXTURE_TS)
    format_weather_stage(spark, cat, ts=FIXTURE_TS)
    layer = ("formatted", "open_meteo", "weather")
    schema = formatted_weather_schema(spark)
    named, jobs = _jobs_in_group(
        spark, "test-recorded-weather", lambda: cat.read_latest(spark, *layer, schema=schema)
    )
    inferred = cat.read_latest(spark, *layer)
    assert jobs == 0
    assert _fields(schema) == _fields(inferred.drop("date", "hour").schema)
    assert _fields(named.schema) == _fields(inferred.schema)
    assert [f.dataType.simpleString() for f in named.schema[-2:]] == ["date", "int"]
    got = sorted(map(repr, named.collect()))
    assert got and got == sorted(map(repr, inferred.collect()))


def test_read_latest_infers_when_another_writer_wrote_a_newer_hour(spark, tmp_path):
    """Without a schema, read_latest infers the latest partition's:
    after a second catalog writes a newer hour with an extra column,
    the first catalog reads that column."""
    from datetime import datetime, timezone

    root = str(tmp_path / "lake")
    first, second = LakeCatalog(root), LakeCatalog(root)
    first.write(
        spark.createDataFrame([(1,)], "x int"), "formatted", "api", "e",
        ts=datetime(2026, 2, 26, 8, tzinfo=timezone.utc),
    )
    second.write(
        spark.createDataFrame([(2, "y")], "x int, extra string"), "formatted", "api", "e",
        ts=datetime(2026, 2, 26, 9, tzinfo=timezone.utc),
    )
    latest = first.read_latest(spark, "formatted", "api", "e")
    assert latest.columns == ["x", "extra", "date", "hour"]
    assert [tuple(r)[:2] for r in latest.collect()] == [(2, "y")]


# ───────────────────── bucketed upsert contract ───────────────────


def _bucket_files(table_dir):
    out = {}
    for d in os.listdir(table_dir):
        if d.startswith("kb="):
            full = os.path.join(table_dir, d)
            out[d] = {
                f: os.path.getmtime(os.path.join(full, f))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            }
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    table = str(tmp_path / "usage")
    base = spark.createDataFrame(
        [(f"k{i}", f"2026-01-01T00:0{i % 10}:00", i) for i in range(20)],
        "icao24 string, ts_str string, v int",
    ).withColumn("extracted_at", F.to_timestamp("ts_str")).drop("ts_str")
    upsert_partitioned(base, table, n_buckets=4)
    before = _bucket_files(table)
    assert len(before) >= 2  # keys spread over multiple buckets

    batch = spark.createDataFrame(
        [("k3", "2026-01-01T01:00:00", 999)],
        "icao24 string, ts_str string, v int",
    ).withColumn("extracted_at", F.to_timestamp("ts_str")).drop("ts_str")
    upsert_partitioned(batch, table, n_buckets=4)
    after = _bucket_files(table)

    (touched_kb,) = [
        r["kb"]
        for r in batch.withColumn(
            "kb", F.pmod(F.xxhash64("icao24"), F.lit(4)).cast("int")
        )
        .select("kb")
        .distinct()
        .collect()
    ]
    for kb_dir, files in before.items():
        if kb_dir == f"kb={touched_kb}":
            assert after[kb_dir] != files, "touched bucket must be rewritten"
        else:
            assert after[kb_dir] == files, f"untouched {kb_dir} was rewritten"

    # merge semantics: newer row won, all other keys intact
    final = spark.read.parquet(table)
    assert final.count() == 20
    assert final.filter(F.col("icao24") == "k3").first()["v"] == 999


def test_upsert_merges_into_a_file_uri_table(spark, tmp_path):
    """On a file:// table the second batch merges into the first: the
    upsert finds the existing table through the Hadoop FileSystem
    client, so the touched bucket keeps its other keys."""
    def batch(rows):
        return spark.createDataFrame(rows, "icao24 string, ts_str string, v int").withColumn(
            "extracted_at", F.to_timestamp("ts_str")
        ).drop("ts_str")

    table = "file://" + str(tmp_path / "usage")
    upsert_partitioned(
        batch([("a", "2026-01-01T00:00:00", 1), ("b", "2026-01-01T00:00:00", 2)]),
        table,
        n_buckets=1,
    )
    upsert_partitioned(batch([("a", "2026-01-01T00:01:00", 3)]), table, n_buckets=1)
    got = sorted((r["icao24"], r["v"]) for r in spark.read.parquet(table).collect())
    assert got == [("a", 3), ("b", 2)]


def test_upsert_dedupes_within_first_batch(spark, tmp_path):
    table = str(tmp_path / "usage")
    df = spark.createDataFrame(
        [("a", "2026-01-01T00:00:00", 1), ("a", "2026-01-01T00:05:00", 2)],
        "icao24 string, ts_str string, v int",
    ).withColumn("extracted_at", F.to_timestamp("ts_str")).drop("ts_str")
    upsert_partitioned(df, table, n_buckets=2)
    out = spark.read.parquet(table)
    assert out.count() == 1
    assert out.first()["v"] == 2


def test_es_sink_contract_without_connector(spark):
    """Serving-boundary stub: the mapping contract is complete and the
    sink fails with a clear signal when the es-hadoop jar is absent
    (it is, in this container)."""
    from skysafe_datalake_spark.streaming import es_sink

    opts = es_sink.es_write_options(index="idx")
    assert opts["es.mapping.id"] == "icao24"
    assert opts["es.write.operation"] == "upsert"
    props = es_sink.INDEX_MAPPING["mappings"]["properties"]
    assert props["location"] == {"type": "geo_point"}
    assert set(props) >= {
        "icao24", "risk_score", "risk_category", "flight_phase",
        "is_anomaly", "anomaly_score", "extracted_at",
    }

    df = spark.createDataFrame([("a",)], "icao24 string")
    assert not es_sink.es_available(spark)
    with pytest.raises(es_sink.EsSinkUnavailable):
        es_sink.write_batch_to_es(df, opts)


def test_es_sink_composes_with_existing_batch_function(monkeypatch):
    """A DataStreamWriter holds exactly ONE foreachBatch function, so
    attach_es_sink must COMPOSE with the parquet-upsert batch fn via
    base= (round-9 review: calling it bare silently replaced the
    upsert and the usage table stopped updating) — and the base runs
    FIRST so the serving mirror never precedes the table write."""
    from skysafe_datalake_spark.streaming import es_sink

    calls = []
    monkeypatch.setattr(
        es_sink, "write_batch_to_es",
        lambda batch, options: calls.append(("es", batch)),
    )

    class FakeWriter:
        def foreachBatch(self, fn):
            self.fn = fn
            return self

    w = es_sink.attach_es_sink(
        FakeWriter(),
        {"es.resource": "idx"},
        base=lambda batch, bid: calls.append(("upsert", batch)),
    )
    w.fn("BATCH", 7)
    assert calls == [("upsert", "BATCH"), ("es", "BATCH")]


def test_run_flights_stream_none_trigger_means_default(spark, tmp_path, monkeypatch):
    """trigger_seconds=None is the advertised way to ask for the
    default ASAP trigger; it used to interpolate the literal string
    'None seconds' into trigger(processingTime=...) and crash at
    query start (round-9 review)."""
    from skysafe_datalake_spark.streaming import driver as sdriver

    # An EMPTY raw dir: no micro-batch ever fires, so only the trigger
    # construction (the thing under test) is exercised.
    cat = LakeCatalog(str(tmp_path / "lake"))
    os.makedirs(cat.path("raw", "opensky", "flights"))
    q = sdriver.run_flights_stream(
        spark,
        cat,
        str(tmp_path / "usage"),
        str(tmp_path / "ckpt"),
        trigger_seconds=None,  # used to build trigger('None seconds')
    )
    try:
        assert q.isActive  # started: the interval parse did not throw
    finally:
        q.stop()


def test_round2_operators_handle_empty_inputs(spark, tmp_path):
    """Empty-input robustness for the round-2 operators: an empty
    micro-batch / an empty change batch / an empty left side must be
    no-ops or empty results, never errors."""
    from pyspark.sql import functions as F2

    from skysafe_datalake_spark.functions.geo import haversine_km
    from skysafe_datalake_spark.operators.nn_join import grid_nn_join
    from skysafe_datalake_spark.operators.temporal import scd2_build, scd2_merge

    # empty batch into an existing upsert table: table unchanged
    table = str(tmp_path / "usage")
    base = spark.createDataFrame(
        [("a", "2026-01-01T00:00:00", 1)],
        "icao24 string, ts_str string, v int",
    ).withColumn("extracted_at", F2.to_timestamp("ts_str")).drop("ts_str")
    upsert_partitioned(base, table, n_buckets=2)
    empty = base.where(F2.lit(False))
    upsert_partitioned(empty, table, n_buckets=2)
    assert spark.read.parquet(table).count() == 1

    # empty change batch merged into SCD2 history: history unchanged
    changes = spark.createDataFrame(
        [(1, "P1", "2026-01-01T00:00:00", 10)],
        "k long, v string, ts_str string, seq long",
    ).withColumn("ts", F2.to_timestamp("ts_str")).drop("ts_str")
    hist = scd2_build(changes, key="k", value="v", ts="ts", seq="seq")
    merged = scd2_merge(
        hist, changes.where(F2.lit(False)), key="k", value="v", ts="ts", seq="seq"
    )
    assert merged.count() == hist.count() == 1

    # empty left side through the grid NN join: empty result, no error
    left = spark.createDataFrame([], "fid long, lat double, lon double")
    right = spark.createDataFrame([(1, 45.0, 2.0)], "sid long, s_lat double, s_lon double")
    out = grid_nn_join(
        left, right,
        partition_by=["fid"], left_lat="lat", left_lon="lon",
        right_lat="s_lat", right_lon="s_lon",
        distance=haversine_km("lat", "lon", "s_lat", "s_lon"),
        cell_deg=0.5,
    )
    assert out.count() == 0


def test_kibana_provisioning_flow(tmp_path):
    """S11 provisioning through fixture transports: readiness polling
    with retries, xsrf-header import, loud failures on missing file /
    dead Kibana."""
    from skysafe_datalake_spark.serving import kibana

    nd = tmp_path / "dash.ndjson"
    nd.write_text('{"type":"index-pattern","id":"usage"}\n')

    calls = {"status": 0}

    def transport(method, url, *, params=None, data=None, json_body=None,
                  files=None, headers=None, timeout=None):
        if url.endswith("/api/status"):
            calls["status"] += 1
            if calls["status"] < 3:  # ready on 3rd poll
                raise ingest.HttpError("503")
            return {"status": "available"}
        assert "saved_objects/_import" in url and "overwrite=true" in url
        assert headers["kbn-xsrf"] == "true"
        # Kibana's _import accepts only multipart file uploads, so the
        # payload must ride the files= channel with its .ndjson name
        fname, content = files["file"]
        assert fname.endswith(".ndjson")
        assert "index-pattern" in content
        assert data is None
        return {"successCount": 5, "errors": []}

    slept = []
    out = kibana.import_dashboard(
        transport, nd, sleep=slept.append
    )
    assert out["successCount"] == 5
    assert calls["status"] == 3 and len(slept) == 2

    with pytest.raises(FileNotFoundError):
        kibana.import_dashboard(transport, tmp_path / "missing.ndjson")

    def never_ready(method, url, **kw):
        raise ingest.HttpError("503")

    with pytest.raises(RuntimeError, match="ready"):
        kibana.import_dashboard(
            never_ready, nd, sleep=lambda s: None
        )


def test_catalog_orc_round_trip(spark, tmp_path):
    """The catalog is format-agnostic: ORC (columnar, built-in)
    round-trips with values intact and latest-partition pruning, same
    as parquet/JSON/CSV — a lake can mix formats per entity."""
    from datetime import datetime, timezone

    cat = LakeCatalog(str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, None, -3.25)], "id LONG, name STRING, score DOUBLE"
    )
    cat.write(df, "formatted", "api", "things", fmt="orc",
              ts=datetime(2026, 2, 26, 13, tzinfo=timezone.utc))
    got = cat.read_latest(spark, "formatted", "api", "things", fmt="orc")
    assert {
        (r["id"], r["name"], r["score"])
        for r in got.select("id", "name", "score").collect()
    } == {(1, "alpha", 1.5), (2, None, -3.25)}


def test_latest_per_key_null_ts_loses_and_subsecond_wins(spark):
    """Round-9 review, both reproduced: a NULL extracted_at row beat
    every real row forever (null first field wins min(struct)), and
    unix_timestamp's whole-second truncation let payload bytes pick
    the survivor among same-second rows."""
    from skysafe_datalake_spark.plans.usage import latest_per_key

    df = spark.createDataFrame(
        [("k1", None, "corrupt"),
         ("k1", "2026-01-01 00:00:01.000000", "old"),
         ("k1", "2026-01-01 00:00:01.600000", "newest"),
         ("k2", None, "only-null")],
        "icao24 string, extracted_at string, v string",
    ).withColumn("extracted_at", F.to_timestamp("extracted_at"))
    out = {r["icao24"]: r["v"] for r in latest_per_key(df).collect()}
    assert out["k1"] == "newest"   # not "corrupt" (null), not "old" (.0 < .6)
    assert out["k2"] == "only-null"  # all-null key still emits its row


def test_read_latest_discovers_from_listing(spark, tmp_path):
    """Latest-partition discovery is a directory listing (no data
    scan) and still picks the true max across padded/unpadded hours."""
    from datetime import datetime, timezone

    cat = LakeCatalog(str(tmp_path / "lake"))
    for day, hour, tag in ((25, 23, "old"), (26, 8, "mid"), (26, 14, "new")):
        cat.write(
            spark.createDataFrame([(tag,)], "tag string"),
            "formatted", "api", "lst",
            ts=datetime(2026, 2, day, hour, tzinfo=timezone.utc),
        )
    rows = cat.read_latest(spark, "formatted", "api", "lst").collect()
    assert [r["tag"] for r in rows] == ["new"]
    assert cat._latest_partition(spark, "formatted", "api", "missing") is None


def test_read_latest_loads_one_partition_of_a_long_history(spark, tmp_path):
    """With 40 daily partitions, past the 32 paths at which Spark lists
    with a job, read_latest still starts no job:
    it loads only the latest partition's directory, and date/hour keep
    their discovered types. The read names its schema, so no footer
    is read either."""
    from datetime import date

    cat = LakeCatalog(str(tmp_path / "lake"))
    layer = ("formatted", "api", "daily")
    older = [
        ((FIXTURE_TS - timedelta(days=d)).strftime("%Y-%m-%d"), "14", -d)
        for d in range(39, 0, -1)
    ]
    spark.createDataFrame(older, "date string, hour string, day int").write.partitionBy(
        "date", "hour"
    ).parquet(cat.path(*layer))
    cat.write(spark.createDataFrame([(0,)], "day int"), *layer, ts=FIXTURE_TS)
    assert sum(n.startswith("date=") for n in os.listdir(cat.path(*layer))) == 40

    latest, jobs = _jobs_in_group(
        spark,
        "test-read-latest-history",
        lambda: cat.read_latest(spark, *layer, schema="day int"),
    )
    assert jobs == 0
    assert [tuple(r) for r in latest.collect()] == [(0, date(2026, 2, 26), 14)]


def test_urllib_transport_maps_connection_errors_to_httperror():
    """wait_for_kibana retries on HttpError; the dominant boot-time
    failure is connection-refused (URLError), which escaped the loop
    before round 9."""
    import pytest

    with pytest.raises(ingest.HttpError, match="->"):
        ingest.urllib_transport(
            "GET", "http://127.0.0.1:1/api/status", timeout=0.5
        )


def test_urllib_transport_builds_multipart_for_files(monkeypatch):
    """The files= channel must produce a real multipart/form-data body
    (Kibana's _import rejects anything else)."""
    import io
    import json as _json
    import urllib.request

    captured = {}

    def fake_urlopen(req, timeout=None):
        captured["body"] = req.data
        captured["ctype"] = req.get_header("Content-type")
        return io.BytesIO(_json.dumps({"ok": 1}).encode())

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    out = ingest.urllib_transport(
        "POST", "http://kibana.example.com/api/saved_objects/_import",
        files={"file": ("dash.ndjson", '{"type":"index-pattern"}\n')},
        headers={"kbn-xsrf": "true"},
    )
    assert out == {"ok": 1}
    assert captured["ctype"].startswith("multipart/form-data; boundary=")
    boundary = captured["ctype"].split("boundary=", 1)[1]
    body = captured["body"].decode()
    assert f"--{boundary}\r\n" in body and f"--{boundary}--" in body
    assert 'filename="dash.ndjson"' in body
    assert '{"type":"index-pattern"}' in body
