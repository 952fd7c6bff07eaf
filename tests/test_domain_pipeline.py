"""End-to-end tests for the SkySafe domain pipeline on deterministic
fixtures (FIXTURES.md §1-2): format → combine → risk/ML → usage →
streaming. Heterogeneous kinematics exercise the K-Means path; a
homogeneous population forces the rules fallback (reference M4)."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from skysafe_datalake_spark.catalog import LakeCatalog
from skysafe_datalake_spark.ml.phase_kmeans import classify_phases
from skysafe_datalake_spark.plans.combine import combine_enrich, nearest_weather_join
from skysafe_datalake_spark.plans.usage import build_usage, latest_per_key
from skysafe_datalake_spark.sources import openmeteo, opensky
from skysafe_datalake_spark.workload.tables import STATIONS


def _state(
    icao, callsign="AFR001  ", lon=2.3, lat=48.8, baro=1000.0, on_ground=False,
    vel=100.0, vr=1.0,
):
    # OpenSky positional array (17 slots), JSON-typed like the API.
    geo = baro + 10 if isinstance(baro, (int, float)) else baro
    return [
        icao, callsign, "France", 1700000000, 1700000060, lon, lat, baro,
        on_ground, vel, 180.0, vr, None, geo, "7700", None, 0,
    ]


def _raw_payload(states):
    return {
        "time": 1700000100,
        "states": states,
        "_extracted_at": "2026-02-26T14:00:00Z",
    }


def _weather_rows():
    rows = []
    for (sid, lat, lon, wc, gusts, precip, vis, cloud) in STATIONS:
        rows.append(
            {
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
                "_extracted_at": "2026-02-26T14:00:30Z",
            }
        )
    return rows


@pytest.fixture(scope="module")
def weather(spark):
    df = spark.createDataFrame(
        [json.loads(json.dumps(r)) for r in _weather_rows()], openmeteo.RAW_SCHEMA
    )
    return openmeteo.format_weather(df)


def _flights_df(spark, states):
    raw = spark.createDataFrame([_raw_payload(states)], opensky.RAW_SCHEMA)
    return opensky.format_flights(raw)


def test_format_flights_flattening_and_tolerance(spark):
    states = [
        _state("abc001"),
        _state("abc002", callsign="   "),            # blank → null
        _state("abc003", lat=None),                   # dropped: no GPS
        ["abc004", "X", "FR", 1, 2, "0.5", "45.0"],  # ragged short row
        _state("abc005", baro="not-a-number"),        # junk float → null
    ]
    df = _flights_df(spark, states)
    rows = {r["icao24"]: r for r in df.collect()}
    assert set(rows) == {"abc001", "abc002", "abc004", "abc005"}
    assert rows["abc001"]["callsign"] == "AFR001"
    assert rows["abc002"]["callsign"] is None
    assert rows["abc004"]["baro_altitude"] is None  # beyond ragged end
    assert rows["abc005"]["baro_altitude"] is None  # lenient cast
    assert rows["abc001"]["position_source_label"] == "ADS-B"
    assert rows["abc001"]["observation_time"].year >= 2023
    assert rows["abc001"]["on_ground"] is False


def test_nearest_weather_join_picks_closest_station(spark, weather):
    # Flight at Paris CDG coordinates → station 1 (48.709632, 2.208563).
    df = _flights_df(spark, [_state("paris1", lon=2.21, lat=48.71)])
    joined = nearest_weather_join(df, weather)
    row = joined.first()
    assert abs(row["w_latitude"] - 48.709632) < 1e-9
    assert row["dist_km"] < 5


def test_combine_risk_on_stormy_station(spark, weather):
    # Paris CDG fixture is the storm station (code 95, gusts 85,
    # precip 6, vis 800, cloud 90) → 40+25+20+20+10 = 115, +15 if
    # airborne below 300 m.
    df = _flights_df(
        spark, [_state("low1", lon=2.21, lat=48.71, baro=200.0, vel=50.0)]
    )
    out = nearest_weather_join(df, weather)
    from skysafe_datalake_spark.plans.combine import score_risk

    row = score_risk(out).first()
    assert row["risk_score"] == 130
    assert row["risk_category"] == "HIGH"


def _heterogeneous_states(n_per_phase=40):
    rng = random.Random(42)
    states = []
    for i in range(n_per_phase):  # ground / takeoff cluster
        states.append(
            _state(
                f"gnd{i:03d}", lon=2.0 + rng.random(), lat=48.0 + rng.random(),
                baro=rng.uniform(0, 250), vel=rng.uniform(0, 50), vr=rng.uniform(-1, 1),
            )
        )
    for i in range(n_per_phase):  # climb/descent
        states.append(
            _state(
                f"clb{i:03d}", lon=3.0 + rng.random(), lat=46.0 + rng.random(),
                baro=rng.uniform(1500, 2500), vel=rng.uniform(120, 180),
                vr=rng.uniform(8, 15),
            )
        )
    for i in range(n_per_phase):  # cruise
        states.append(
            _state(
                f"crz{i:03d}", lon=4.0 + rng.random(), lat=44.0 + rng.random(),
                baro=rng.uniform(10500, 11500), vel=rng.uniform(230, 260),
                vr=rng.uniform(-0.5, 0.5),
            )
        )
    return states


def test_combine_ml_path_labels_by_altitude(spark, weather):
    df = _flights_df(spark, _heterogeneous_states())
    enriched, info = combine_enrich(df, weather)
    assert info.used_kmeans, f"expected ML path, got fallback ({info})"
    got = {
        r["icao24"]: r["flight_phase"]
        for r in enriched.select("icao24", "flight_phase").collect()
    }
    # Compare labels after altitude-sort mapping, never raw cluster
    # ids (SURVEY.md §7.4). Well-separated fixture → perfect mapping.
    for icao, phase in got.items():
        expected = {
            "gnd": "Takeoff / Landing", "clb": "Climb / Descent", "crz": "Cruise"
        }[icao[:3]]
        assert phase == expected, f"{icao}: {phase}"
    # anomaly columns present and sane
    row = enriched.first()
    assert row["anomaly_score"] >= 0.0


def test_combine_fallback_on_homogeneous_population(spark, weather):
    # Identical kinematics for every aircraft: normalized features all
    # collapse to one point, centroids coincide (dist 0 < 1.0) → the
    # gate must fall back to rules. (StandardScaler rescales ANY
    # spread to unit variance, so only a degenerate batch trips the
    # gate — same behavior as the reference.)
    rng = random.Random(7)
    states = [
        _state(
            f"crz{i:03d}", lon=2.0 + rng.random() * 5, lat=44.0 + rng.random() * 5,
            baro=11000.0, vel=250.0, vr=0.0,
        )
        for i in range(60)
    ]
    enriched, info = combine_enrich(_flights_df(spark, states), weather)
    assert not info.used_kmeans, "homogeneous fixture must trip the gate"
    phases = {r["flight_phase"] for r in enriched.select("flight_phase").collect()}
    assert phases == {"Cruise"}  # rules: alt>3000, |vr|<2.5
    ids = {r["flight_phase_id"] for r in enriched.select("flight_phase_id").collect()}
    assert ids == {2}


def test_anomaly_flags_extreme_kinematics(spark, weather):
    states = _heterogeneous_states(30)
    # one wild row: cruise-level altitude at zero speed, falling fast
    states.append(_state("wild01", lon=5.0, lat=45.0, baro=11000.0, vel=0.0, vr=-19.0))
    enriched, _ = combine_enrich(_flights_df(spark, states), weather)
    anomalies = {
        r["icao24"] for r in enriched.filter(F.col("is_anomaly")).collect()
    }
    assert "wild01" in anomalies
    assert len(anomalies) < 10  # μ+2σ keeps the flag rare


@pytest.mark.parametrize("n", [0, 1, 2])
def test_combine_with_fewer_aircraft_than_clusters(spark, weather, n):
    """Fewer than 3 aircraft cannot form 3 clusters: the minute takes the
    rules path with every distance 0.0 and threshold 0.0, and zero
    aircraft give an empty result with the full output schema."""
    states = [
        _state("gnd001", baro=100.0, vel=40.0, vr=0.0),
        _state("crz001", baro=11000.0, vel=250.0, vr=0.5),
    ][:n]
    full, _ = combine_enrich(_flights_df(spark, _heterogeneous_states()), weather)
    enriched, info = combine_enrich(_flights_df(spark, states), weather)
    assert [(f.name, f.dataType) for f in enriched.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    assert (info.used_kmeans, info.anomaly_threshold, info.anomaly_count) == (
        False, 0.0, 0
    )
    rows = enriched.select(
        "icao24", "flight_phase", "flight_phase_id", "is_anomaly", "anomaly_score"
    ).collect()
    phase = {"gnd001": ("Takeoff / Landing", 0), "crz001": ("Cruise", 2)}
    assert sorted(tuple(r) for r in rows) == sorted(
        (s[0], *phase[s[0]], False, 0.0) for s in states
    )


def test_classify_phases_refuses_above_the_row_cap(spark):
    """Above MAX_FIT_ROWS the stage refuses before collecting to the
    driver, with the type scale harnesses record as a refusal."""
    from skysafe_datalake_spark.errors import OverScaleRefusal
    from skysafe_datalake_spark.ml.phase_kmeans import MAX_FIT_ROWS, ML_FEATURES

    df = spark.range(MAX_FIT_ROWS + 1).select(
        *(F.col("id").cast("double").alias(feat) for feat in ML_FEATURES)
    )
    with pytest.raises(OverScaleRefusal, match="at most"):
        classify_phases(df)


def test_usage_projection_and_keyed_upsert(spark, weather):
    enriched, _ = combine_enrich(
        _flights_df(spark, _heterogeneous_states(5)), weather
    )
    usage = build_usage(enriched)
    assert usage.count() == 15
    cols = set(usage.columns)
    assert {"icao24", "wind_gusts_10m", "risk_category", "location"} <= cols
    assert "w_wind_gusts_10m" not in cols
    loc = usage.filter(F.col("icao24") == "gnd000").first()["location"]
    assert loc is not None and abs(loc["lat"]) > 0

    # upsert semantics: newer extracted_at wins
    df = spark.createDataFrame(
        [
            ("a", "2026-01-01T00:00:00", 1),
            ("a", "2026-01-01T00:05:00", 2),
            ("b", "2026-01-01T00:01:00", 3),
        ],
        "icao24 string, extracted_at_str string, v int",
    ).withColumn("extracted_at", F.to_timestamp("extracted_at_str")).drop(
        "extracted_at_str"
    )
    out = {r["icao24"]: r["v"] for r in latest_per_key(df).collect()}
    assert out == {"a": 2, "b": 3}


def test_catalog_partitioned_write_read_latest(spark, tmp_path):
    from datetime import datetime, timezone

    cat = LakeCatalog(str(tmp_path))
    df = spark.range(5).withColumnRenamed("id", "x")
    cat.write(df, "formatted", "opensky", "flights",
              ts=datetime(2026, 2, 26, 13, 0, tzinfo=timezone.utc))
    cat.write(df.withColumn("x", F.col("x") + 100), "formatted", "opensky", "flights",
              ts=datetime(2026, 2, 26, 14, 0, tzinfo=timezone.utc))
    latest = cat.read_latest(spark, "formatted", "opensky", "flights")
    vals = sorted(r["x"] for r in latest.collect())
    assert vals == [100, 101, 102, 103, 104]
    # pruning: the physical scan must read only the latest partition
    plan = latest._jdf.queryExecution().executedPlan().toString()
    assert "hour=14" in plan or "PartitionFilters" in plan


def test_read_latest_uri_schemed_root_lists_via_hadoop_fs(spark, tmp_path):
    """ADVICE r9: a file:// (or s3a://) lake root is writable by Spark
    but invisible to os.listdir — read_latest previously returned ALL
    partitions silently. Discovery goes through the Hadoop FileSystem
    client (the reference's ListObjectsV2 walk, Spark-side), so it
    stays listing-only on any URI scheme."""
    from datetime import datetime, timezone

    cat = LakeCatalog("file://" + str(tmp_path / "lake"))
    df = spark.range(5).withColumnRenamed("id", "x")
    cat.write(df, "formatted", "opensky", "flights",
              ts=datetime(2026, 2, 26, 13, 0, tzinfo=timezone.utc))
    cat.write(df.withColumn("x", F.col("x") + 100), "formatted", "opensky",
              "flights", ts=datetime(2026, 2, 26, 14, 0, tzinfo=timezone.utc))
    assert cat._latest_partition(
        spark, "formatted", "opensky", "flights"
    ) == ("2026-02-26", "14")
    latest = cat.read_latest(spark, "formatted", "opensky", "flights")
    assert sorted(r["x"] for r in latest.collect()) == [100, 101, 102, 103, 104]


def test_read_latest_raises_when_listing_fails(spark, tmp_path, monkeypatch):
    """A listing that fails (unsupported scheme, gateway hiccup) fails
    read_latest instead of being read as an empty or unfiltered
    layer."""
    from datetime import datetime, timezone

    from skysafe_datalake_spark import catalog as catalog_mod

    cat = LakeCatalog(str(tmp_path / "lake"))
    df = spark.range(5).withColumnRenamed("id", "x")
    cat.write(df, "formatted", "opensky", "flights",
              ts=datetime(2026, 2, 26, 13, 0, tzinfo=timezone.utc))

    def unreachable(spark_, path):
        raise OSError(f"cannot reach {path}")

    monkeypatch.setattr(catalog_mod, "_hadoop_fs", unreachable)
    with pytest.raises(OSError, match="cannot reach"):
        cat.read_latest(spark, "formatted", "opensky", "flights")


def test_latest_partition_skips_foreign_and_empty_hour_dirs(spark, tmp_path):
    """ADVICE r9: a foreign writer's hour=__HIVE_DEFAULT_PARTITION__
    crashed the int() parse, and an empty hour dir (failed/in-flight
    write) won the max and returned zero rows while older populated
    partitions existed. Both are now skipped; a dir holding only a
    _SUCCESS marker counts as empty too."""
    import os
    from datetime import datetime, timezone

    cat = LakeCatalog(str(tmp_path))
    df = spark.range(3).withColumnRenamed("id", "x")
    cat.write(df, "formatted", "opensky", "flights",
              ts=datetime(2026, 2, 26, 13, 0, tzinfo=timezone.utc))
    date_dir = os.path.join(
        str(tmp_path), "formatted", "opensky", "flights", "date=2026-02-26"
    )
    os.makedirs(os.path.join(date_dir, "hour=__HIVE_DEFAULT_PARTITION__"))
    os.makedirs(os.path.join(date_dir, "hour=23"))  # in-flight: no files
    os.makedirs(os.path.join(date_dir, "hour=22"))
    open(os.path.join(date_dir, "hour=22", "_SUCCESS"), "w").close()
    assert cat._latest_partition(spark, "formatted", "opensky", "flights") == (
        "2026-02-26",
        "13",
    )
    latest = cat.read_latest(spark, "formatted", "opensky", "flights")
    assert sorted(r["x"] for r in latest.collect()) == [0, 1, 2]


def test_streaming_flights_pipeline(spark, tmp_path, weather):
    from datetime import datetime, timezone

    from skysafe_datalake_spark.streaming.driver import run_flights_stream

    cat = LakeCatalog(str(tmp_path / "lake"))
    cat.write(weather, "formatted", "open_meteo", "weather",
              ts=datetime(2026, 2, 26, 14, 0, tzinfo=timezone.utc))
    raw_dir = tmp_path / "lake" / "raw" / "opensky" / "flights" / "date=2026-02-26" / "hour=14"
    raw_dir.mkdir(parents=True)
    (raw_dir / "snap1.json").write_text(
        json.dumps(_raw_payload(_heterogeneous_states(4)))
    )
    q = run_flights_stream(
        spark,
        cat,
        usage_dir=str(tmp_path / "usage"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    usage1 = spark.read.parquet(str(tmp_path / "usage"))
    assert usage1.count() == 12

    # second micro-batch: same keys (newer) + one new aircraft →
    # upsert keeps one row per key
    payload = _raw_payload(
        _heterogeneous_states(4) + [_state("new001", lon=3.3, lat=47.0)]
    )
    payload["_extracted_at"] = "2026-02-26T14:05:00Z"
    (raw_dir / "snap2.json").write_text(json.dumps(payload))
    q2 = run_flights_stream(
        spark,
        cat,
        usage_dir=str(tmp_path / "usage"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q2.awaitTermination(120)
    usage2 = spark.read.parquet(str(tmp_path / "usage"))
    assert usage2.count() == 13
    assert usage2.filter(F.col("icao24") == "new001").count() == 1
    # upserted rows carry the newer timestamp
    ts = usage2.filter(F.col("icao24") == "gnd000").first()["extracted_at"]
    assert ts.minute == 5


def test_windowed_event_counts_batch_parity(spark):
    from skysafe_datalake_spark.streaming.driver import windowed_event_counts

    events = spark.createDataFrame(
        [
            (1, "2024-01-01T00:10:00", "click", 1.0),
            (2, "2024-01-01T00:50:00", "click", 2.0),
            (3, "2024-01-01T01:10:00", "click", 4.0),
            (4, "2024-01-01T01:20:00", "view", 8.0),
        ],
        "event_id long, ts_str string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
    out = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events).collect()
    }
    assert out[(0, "click")] == (2, 3.0)
    assert out[(1, "click")] == (1, 4.0)
    assert out[(1, "view")] == (1, 8.0)


def test_catalog_json_and_csv_round_trip(spark, tmp_path):
    """The raw layer is JSON in the reference (S4,
    /root/reference/src/helpers.py:161-190, written via boto3); here
    Spark owns raw I/O end-to-end: JSON and CSV batches round-trip
    through the partitioned catalog with values intact, and
    read_latest prunes on partition columns for non-parquet formats
    too."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from skysafe_datalake_spark.catalog import LakeCatalog

    cat = LakeCatalog(str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -3.25), (3, None, 0.0)],
        "id LONG, name STRING, score DOUBLE",
    )

    cat.write(df, "raw", "api", "things", fmt="json",
              ts=datetime(2026, 2, 26, 13, tzinfo=timezone.utc))
    got_json = cat.read_latest(spark, "raw", "api", "things", fmt="json")
    assert {
        (r["id"], r["name"], r["score"])
        for r in got_json.select("id", "name", "score").collect()
    } == {(1, "alpha", 1.5), (2, "beta", -3.25), (3, None, 0.0)}

    csv_opts = {"header": "true", "inferSchema": "true"}
    cat.write(df, "raw", "api", "things_csv", fmt="csv", options={"header": "true"},
              ts=datetime(2026, 2, 26, 13, tzinfo=timezone.utc))
    got_csv = cat.read_latest(
        spark, "raw", "api", "things_csv", fmt="csv", options=csv_opts
    )
    assert {
        (r["id"], r["name"], r["score"])
        for r in got_csv.select("id", "name", "score").collect()
    } == {(1, "alpha", 1.5), (2, "beta", -3.25), (3, None, 0.0)}


def _ml_digest(df) -> tuple[str, list[str]]:
    """md5 over the sorted, repr-rendered rows of an ML output frame,
    plus those rows (columns in name order)."""
    import hashlib

    cols = sorted(df.columns)
    rows = sorted(
        "|".join(repr(r[c]) if isinstance(r[c], float) else str(r[c]) for c in cols)
        for r in df.collect()
    )
    digest = hashlib.md5(
        ("\n".join(cols) + "\n" + "\n".join(rows)).encode()
    ).hexdigest()
    return digest, rows


def _golden_ml_md5() -> str:
    with open("tests/golden/skysafe_ml_pipeline_sf0.01.md5") as f:
        return f.read().strip()


def test_ml_pipeline_golden_snapshot_sf001(spark):
    """Golden-snapshot pin for the K-Means path (VERDICT.md #6): the
    full ML stage at sf0.01 (seed 42, fixed input) is bit-deterministic
    — any drift in scaling/K-Means/labeling/threshold changes this
    hash. The fit sorts its input rows, so the hash holds under any
    session shape (see the session-shape test below).
    Regenerate the golden only for a *deliberate* semantic change.

    The closed-form twin (`ml_rules_fallback`, oracle-checked by the
    driver) covers the fallback path; this covers the clustering path
    SQL can't express. Snapshots the FULL 8-column output
    (skysafe_ml_full) — the registered `skysafe_ml_pipeline` gate
    query projects the relational subset for the DuckDB oracle
    (VERDICT r9 #4), so this hash is what verifies the ML columns."""
    from skysafe_datalake_spark.workload.domain import skysafe_ml_full

    digest, rows = _ml_digest(skysafe_ml_full(spark, "/root/testdata/sf0.01"))
    assert digest == _golden_ml_md5()

    # diagnosable invariants alongside the hash
    phases = {r.split("|")[2] for r in rows}  # cols sorted: ... flight_phase at idx 2
    assert phases <= {"Takeoff / Landing", "Climb / Descent", "Cruise"}


def test_ml_output_depends_only_on_input(spark):
    """The ML stage's output is a function of its input rows: neither
    the shuffle-partition setting nor the input's partitioning changes
    a single row, because classify_phases sorts the rows it fits
    (its k-means++ starts draw rows by index)."""
    from skysafe_datalake_spark.workload.domain import (
        skysafe_ml_columns,
        skysafe_ml_flights,
        skysafe_ml_full,
    )
    from skysafe_datalake_spark.workload.tables import stations_weather_df

    sf = "/root/testdata/sf0.01"
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    digests = {}
    try:
        for parts in (4, 32, 7):
            spark.conf.set(key, str(parts))
            digests[f"shuffle={parts}"] = _ml_digest(skysafe_ml_full(spark, sf))[0]
    finally:
        spark.conf.set(key, saved)
    for splits in (1, 5):
        flights = skysafe_ml_flights(spark, sf).repartition(splits)
        df = skysafe_ml_columns(flights, stations_weather_df(spark))
        digests[f"input_partitions={splits}"] = _ml_digest(df)[0]
    assert set(digests.values()) == {_golden_ml_md5()}, digests
