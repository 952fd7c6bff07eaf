"""Tests of the benchmark's own parts; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import time
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, lake, stats
from perfbench.trace import Span, Tracer, self_times
from perfbench.workloads import per_layer_catalog

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generators --------------------------------------------------------------

def test_fleet_snapshot_is_deterministic_per_seed():
    a, b, c = gen.Fleet(5), gen.Fleet(5), gen.Fleet(6)
    assert a.snapshot(3) == b.snapshot(3)
    assert a.snapshot(3) != c.snapshot(3)
    assert a.snapshot(3) != a.snapshot(4)


def test_fleet_snapshot_shape():
    fleet = gen.Fleet(1, size=200, per_minute=150)
    snap = fleet.snapshot(0)
    icaos = [s[0] for s in snap["states"]]
    assert len(icaos) == len(set(icaos)) == 150
    lat_lo, lat_hi, lon_lo, lon_hi = gen.BBOX
    for s in snap["states"]:
        assert len(s) == 17
        if s[6] is not None:
            assert lat_lo <= s[6] <= lat_hi and lon_lo <= s[5] <= lon_hi
    # most aircraft reappear from one minute to the next
    again = {s[0] for s in fleet.snapshot(1)["states"]}
    assert len(again & set(icaos)) > 100


def test_weather_is_deterministic_per_seed():
    assert gen.weather(1, 2) == gen.weather(1, 2)
    assert gen.weather(1, 2) != gen.weather(2, 2)
    assert [(w["latitude"], w["longitude"]) for w in gen.weather(1, 0)] == list(gen.STATIONS)


def test_transport_answers_the_ingest_calls():
    tr = gen.Transport(gen.Fleet(1, size=20, per_minute=10), seed=1)
    tr.minute = 4
    assert tr("POST", "tok", data={"grant_type": "client_credentials"})["access_token"]
    assert tr("GET", "https://x/api/states/all") == gen.Fleet(1, 20, 10).snapshot(4)
    lat, lon = gen.STATIONS[2]
    point = tr("GET", "https://meteo", params={"latitude": lat, "longitude": lon})
    assert point == gen.weather(1, 4)[2]
    with pytest.raises(ValueError):
        tr("GET", "https://elsewhere")


def test_lake_tables_are_deterministic_per_seed(tmp_path):
    lake.generate(str(tmp_path / "a"), seed=3, scale=0.02)
    lake.generate(str(tmp_path / "b"), seed=3, scale=0.02)
    lake.generate(str(tmp_path / "c"), seed=4, scale=0.02)
    for name in lake.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )


# -- percentiles ---------------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    assert stats.tail(list(range(39))) is None
    assert stats.tail([float(i) for i in range(1, 41)]) == (75.0, 30.0)
    assert stats.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert stats.tail([float(i) for i in range(1, 1001)]) == (99.0, 990.0)


def test_summary_reports_count_median_and_tail():
    assert stats.summary([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = stats.summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0


def test_iqr_share():
    assert stats.iqr_share([10.0] * 5) == 0.0
    assert stats.iqr_share([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(3.0 / 10.0)


# -- spans -----------------------------------------------------------------------

def test_self_time_subtracts_merged_children():
    spans = [
        Span(1, "root", 0.0, 10.0, None, 1),
        Span(2, "a", 1.0, 4.0, 1, 1),
        Span(3, "b", 3.0, 6.0, 1, 1),  # overlaps a: union is 1..6
        Span(4, "c", 8.0, 12.0, 1, 1),  # clipped to the parent: 8..10
        Span(5, "d", 1.5, 2.0, 2, 1),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[2] == pytest.approx(3.0 - 0.5)
    assert own[3] == pytest.approx(3.0)
    assert own[5] == pytest.approx(0.5)


def test_overlay_spans_keep_their_time_out_of_the_parents():
    spans = [
        Span(1, "stage", 0.0, 10.0, None, 1),
        Span(2, "catalog.write", 6.0, 9.0, 1, 1, overlay=True),
        Span(3, "ml", 1.0, 3.0, 1, 1),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(8.0)
    assert own[2] == pytest.approx(3.0)


def test_overlay_span_sets_no_job_group_and_is_not_a_parent():
    class FakeContext:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, key):
            return self.props.get(key)

        def setLocalProperty(self, key, value):
            self.props[key] = value

    sc = FakeContext()
    tracer = Tracer(sc)
    with tracer.span("stage", root=True) as stage:
        group = sc.props["spark.jobGroup.id"]
        with tracer.span("catalog.write", overlay=True):
            assert sc.props["spark.jobGroup.id"] == group
            with tracer.span("inner") as inner:
                assert sc.props["spark.jobGroup.id"] != group
        assert sc.props["spark.jobGroup.id"] == group
    assert sc.props["spark.jobGroup.id"] is None
    by_id = {s.span_id: s for s in tracer.spans}
    assert by_id[inner].parent == stage


def test_tracer_nests_spans_and_restores_patches():
    mod = types.SimpleNamespace(inner=lambda x: x + 1)

    class Owner:
        def method(self):
            return mod.inner(1)

    obj = Owner()
    tracer = Tracer()
    tracer.patch(mod, "inner", "layer.inner")
    tracer.patch(obj, "method", "layer.method")
    run = tracer.wrap(lambda: obj.method(), "root", root=True)
    assert run() == 2
    tracer.unpatch()
    assert "method" not in vars(obj) and mod.inner(1) == 2
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["root"].parent is None
    assert by_name["layer.method"].parent == by_name["root"].span_id
    assert by_name["layer.inner"].parent == by_name["layer.method"].span_id


def test_span_in_worker_thread_hangs_off_the_run_root():
    import threading

    tracer = Tracer()
    seen = []

    def leg():
        with tracer.span("leg") as sid:
            seen.append(sid)

    with tracer.span("root", root=True) as root:
        t = threading.Thread(target=leg)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    leg_span = next(s for s in tracer.spans if s.name == "leg")
    assert leg_span.parent == root


# -- checks ------------------------------------------------------------------------

def _haversine(lat, lon, s_lat, s_lon):
    a = (math.sin(math.radians(s_lat - lat) / 2) ** 2
         + math.cos(math.radians(lat)) * math.cos(math.radians(s_lat))
         * math.sin(math.radians(s_lon - lon) / 2) ** 2)
    return 2.0 * 6371.0 * math.atan2(math.sqrt(a), math.sqrt(1.0 - a))


def _risk(c, on_ground, alt):
    score = 40 if c["weather_code"] >= 95 else 0
    g, p, v, cc = c["wind_gusts_10m"], c["precipitation"], c["visibility"], c["cloud_cover"]
    score += 25 if g > 80 else 10 if g > 50 else 0
    score += 20 if p > 5 else 10 if p > 0 else 0
    score += 20 if v < 1000 else 10 if v < 3000 else 0
    score += 10 if cc > 80 else 5 if cc > 50 else 0
    score += 15 if (not on_ground and alt < 300) else 0
    return score


def _usage_rows(snapshot, weather):
    rows = []
    for s in snapshot["states"]:
        if s[5] is None:
            continue
        best = min(weather, key=lambda w: _haversine(s[6], s[5], w["latitude"], w["longitude"]))
        c = best["current"]
        risk = _risk(c, s[8], s[7])
        rows.append({
            "icao24": s[0],
            "dist_km": _haversine(s[6], s[5], best["latitude"], best["longitude"]),
            "weather_code": c["weather_code"],
            "wind_gusts_10m": c["wind_gusts_10m"],
            "visibility": c["visibility"],
            "risk_score": risk,
            "risk_category": "HIGH" if risk >= 60 else "MEDIUM" if risk >= 30 else "LOW",
        })
    return rows


def _write_usage(path, rows):
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows).cast(pa.schema([
        ("icao24", pa.string()), ("dist_km", pa.float64()), ("weather_code", pa.int32()),
        ("wind_gusts_10m", pa.float64()), ("visibility", pa.float64()),
        ("risk_score", pa.int32()), ("risk_category", pa.string()),
    ]))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_check_usage_accepts_a_correct_partition_and_flags_errors(tmp_path):
    snapshot = gen.Fleet(2, size=120, per_minute=100).snapshot(0)
    weather = gen.weather(2, 0)
    rows = _usage_rows(snapshot, weather)
    _write_usage(str(tmp_path / "ok"), rows)
    assert checks.check_usage(str(tmp_path / "ok"), snapshot, weather) == []

    wrong = [dict(r) for r in rows]
    wrong[0]["risk_score"] += 5
    _write_usage(str(tmp_path / "risk"), wrong)
    assert checks.check_usage(str(tmp_path / "risk"), snapshot, weather)

    _write_usage(str(tmp_path / "dup"), rows + rows[:1])
    assert checks.check_usage(str(tmp_path / "dup"), snapshot, weather)

    _write_usage(str(tmp_path / "short"), rows[1:])
    assert checks.check_usage(str(tmp_path / "short"), snapshot, weather)


def test_canonical_rows_ignore_row_and_column_order():
    a = checks.canonical_rows(["x", "y"], [(1, 0.5), (2, 1.5)])
    b = checks.canonical_rows(["y", "x"], [(1.5, 2), (0.5, 1)])
    assert a == b


# -- the benchmark definition ---------------------------------------------------------

def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == per_layer_catalog()
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "unit_cpu_s"}
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_process_tree_cpu_counts_children():
    import subprocess
    import sys

    from perfbench import host

    before = host.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", (
        "import time\nt = time.process_time() + 0.3\n"
        "while time.process_time() < t: pass\ninput()")], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 20
        while host.tree_cpu_s(child.pid) < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert host.tree_cpu_s(os.getpid()) - before >= 0.25
    finally:
        child.communicate(b"\n")
    assert host.steal_s() >= 0
