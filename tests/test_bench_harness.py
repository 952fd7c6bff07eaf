"""bench.py harness behavior: the round-number file protocol and the
CLI's one-line contract (on the session fixture)."""

from __future__ import annotations

import os

import bench


def _touch(d, *names):
    for n in names:
        (d / n).write_text("{}")


def test_round_number_builder_run_after_finished_round(tmp_path):
    # Both r4 files exist: round 4 is finished, we're a builder run in r5.
    _touch(tmp_path, "BENCH_r04.json", "CORRECTNESS_r04.json")
    assert bench._round_number(str(tmp_path)) == 5


def test_round_number_driver_bench_mid_round(tmp_path):
    # The driver writes CORRECTNESS_r{N} first, THEN runs bench: a
    # correctness file without its bench twin means we ARE round N
    # (the naive max+1 mislabeled the round-4 driver detail as r05).
    _touch(
        tmp_path,
        "BENCH_r04.json",
        "CORRECTNESS_r04.json",
        "CORRECTNESS_r05.json",
    )
    assert bench._round_number(str(tmp_path)) == 5


def test_round_number_env_override(tmp_path, monkeypatch):
    _touch(tmp_path, "BENCH_r04.json", "CORRECTNESS_r04.json")
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "9")
    assert bench._round_number(str(tmp_path)) == 9


def test_round_number_empty_repo(tmp_path):
    assert bench._round_number(str(tmp_path)) == 1


def test_round_number_warns_on_unparseable_env(tmp_path, monkeypatch, capsys):
    # A set-but-non-integer SPARK_GRAFT_ROUND must not be silently
    # ignored — that re-introduces the detail-file mislabeling the
    # env override exists to prevent.
    _touch(tmp_path, "BENCH_r04.json", "CORRECTNESS_r04.json")
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "r5")
    assert bench._round_number(str(tmp_path)) == 5  # falls back to files
    assert "SPARK_GRAFT_ROUND='r5'" in capsys.readouterr().err


def test_main_prints_the_one_line_contract(spark, tmp_path, monkeypatch, capsys):
    """bench.main() over stub queries: the last stdout line is one JSON
    object with exactly the CLI's 8 keys, the full headline map, a
    value that is the sum of that map, and under 2,000 chars (longer
    lines were cut by a tail-captured stdout and did not parse). The
    detail file lands beside a relocated bench.py, not in the
    checkout."""
    import json
    import sys

    from skysafe_datalake_spark import session, workload

    stubs = {name: lambda s, sf_dir: s.range(1) for name in bench.HEADLINE}
    monkeypatch.setattr(workload, "QUERIES", stubs)
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.001"))
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)

    bench.main()
    last = capsys.readouterr().out.strip().splitlines()[-1]
    line = json.loads(last)
    assert set(line) == {
        "metric", "value", "unit", "queries", "sf", "timing", "n_queries", "detail_file",
    }
    assert list(line["queries"]) == bench.HEADLINE and len(bench.HEADLINE) == 62
    assert line["value"] == round(sum(line["queries"].values()), 3)
    assert line["timing"] == "construction+action, min of 3 interleaved passes"
    assert len(last) < 2000
    assert os.listdir(tmp_path) == [line["detail_file"]] == ["BENCH_DETAIL_r01.json"]

