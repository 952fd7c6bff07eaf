"""Source-level streaming plan contracts (round 9).

The registry plan audit (tools/plan_audit.py) sees only the
post-stream batch read-back — streaming-side scale properties live in
the query source. This gate scans EVERY function in the package that
touches readStream/writeStream (auto-discovery, so a new streaming
query cannot land unchecked) and enforces the three properties that
decide whether a stream survives unbounded input:

1. SINK — every writeStream must land in a file sink (parquet),
   foreachBatch, console, or an explicitly allowlisted memory sink
   (memory pins all output rows on the driver heap; the 128x smoke
   OOMed the JVM on exactly that — see test_plan_audit's twin gate).
2. EVICTION — every stateful construct needs a state bound: a
   watermark wherever state is keyed by time (windowed/session aggs,
   dropDuplicatesWithinWatermark, stream-stream joins); a real
   GroupStateTimeout wherever custom state is keyed by entity, OR a
   named adjudication stating why O(|keys|) state with no expiry IS
   the contract (running cumulative aggregates must not expire).
   Without a bound, state grows with stream history and a 100 TB
   replay dies in the state store.
3. SIZING — every stateful query entry point must size
   spark.sql.shuffle.partitions via
   streaming.driver.stateful_shuffle_partitions: each shuffle
   partition owns a state-store instance, AQE cannot coalesce
   stateful plans, and the default 32/200 partitions multiply
   per-micro-batch commit fan-out for nothing at replay volumes.

Plus a pinned inventory: the discovered (file, function) set with its
classification must equal the snapshot below, so adding ANY streaming
code is a conscious, reviewed act even when it passes rules 1-3.
"""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "skysafe_datalake_spark"

# driver.py helpers that apply a watermark / eviction bound INSIDE the
# helper — a caller using them inherits the bound.
_WATERMARKING_HELPERS = (
    "streaming_dedup(",
    "windowed_event_counts(",
    "interval_join_streams(",
)

# Memory sinks additionally allowlisted in test_plan_audit (bounded,
# volume-independent output only).
_MEMORY_ALLOWED = {
    ("skysafe_datalake_spark/workload/pipeline.py", "streaming_static_join"),
}

_ALLOWED_SINKS = {"parquet", "console", "noop"}

_TIME_KEYED_STATE = re.compile(
    r"dropDuplicatesWithinWatermark|F\.(session_)?window\(|"
    r"interval_join_streams\(|windowed_event_counts\(|streaming_dedup\("
)
# Call forms only (leading dot + open paren): docstrings DISCUSSING
# the operators must not classify a function as stateful.
_CUSTOM_KEYED_STATE = re.compile(
    r"\.(applyInPandasWithState|transformWithStateInPandas)\("
)

# A REAL expiry, not the NoTimeout sentinel: processing/event-time
# GroupStateTimeout, or a transformWithState timeMode other than None.
_REAL_TIMEOUT = re.compile(
    r"ProcessingTimeTimeout|EventTimeTimeout|"
    r"timeMode\s*=\s*([\"'])(?!None\1)"
)

# Custom keyed state deliberately running WITHOUT expiry, adjudicated
# by name with the bound that makes it safe. Both entries are running
# aggregates whose state is one fixed-width record per key — O(|keys|)
# regardless of stream length — and whose semantics expiry would
# corrupt (a running total that forgets is wrong, not stale).
_NO_EXPIRY_ADJUDICATED = {
    (
        "skysafe_datalake_spark/workload/pipeline.py",
        "streaming_stateful_running_agg",
    ): "one (n, cents) pair per user; expiring would corrupt the "
    "running cumulative totals — NoTimeout IS the contract",
    (
        "skysafe_datalake_spark/streaming/driver.py",
        "sessionize_stream",
    ): "one (last_us, last_idx) pair per user; session numbering must "
    "continue across the stream's whole life",
}


# Streaming API call forms (dot-prefixed so prose in docstrings that
# merely DISCUSSES readStream doesn't classify a function).
_STREAM_API = re.compile(r"\.readStream\b|\.writeStream\b")


def _top_level_callables(tree):
    """(qualname, node) for module-level functions AND methods of
    module-level classes — a streaming query written as a class method
    must not escape discovery. Defs nested inside functions stay part
    of their parent's source segment."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.append((node.name, node))
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out.append((f"{node.name}.{sub.name}", sub))
    return out


def _streaming_functions():
    """(relpath, qualname, source) for every function whose source
    touches the streaming API — readStream/writeStream entry points
    AND helpers holding custom keyed state (which take the stream as
    an argument and would otherwise escape discovery)."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        if not _STREAM_API.search(text) and not _CUSTOM_KEYED_STATE.search(
            text
        ):
            continue
        for name, node in _top_level_callables(ast.parse(text)):
            src = ast.get_source_segment(text, node) or ""
            if _STREAM_API.search(src) or _CUSTOM_KEYED_STATE.search(src):
                out.append((str(path.relative_to(PKG.parent)), name, src))
    return out


def test_streaming_api_only_inside_discovered_functions():
    """Backstop for the discovery itself: every streaming-API call
    form in the package must sit inside a module-level function or
    class method the gate discovered — module-level streaming code
    (or any future AST shape the walker misses) fails here instead of
    silently escaping rules 1-3."""
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        if not _STREAM_API.search(text) and not _CUSTOM_KEYED_STATE.search(
            text
        ):
            continue
        covered = [
            range(node.lineno, (node.end_lineno or node.lineno) + 1)
            for _name, node in _top_level_callables(ast.parse(text))
        ]
        for lineno, line in enumerate(text.splitlines(), start=1):
            if _STREAM_API.search(line) or _CUSTOM_KEYED_STATE.search(line):
                assert any(lineno in r for r in covered), (
                    f"{path}:{lineno} uses the streaming API outside "
                    "any discovered function — the contract gate "
                    "cannot see it"
                )


def _writestream_sinks(src: str) -> list[str]:
    """Sink kinds attached to each writeStream chain in the source:
    a .format('X') literal, 'foreachBatch', or 'unknown' when neither
    is syntactically visible (variable-passed format — flagged)."""
    sinks = []
    for m in re.finditer(r"\.writeStream\b", src):
        # the chain is everything up to start() / end of statement
        tail = src[m.end(): m.end() + 600]
        fmt = re.search(r"\.format\(\s*([\"'])(\w+)\1\s*\)", tail)
        if fmt:
            sinks.append(fmt.group(2))
        elif ".foreachBatch(" in tail:
            # tail only: the word appearing elsewhere in the function
            # (a docstring comparing sinks) must not classify a
            # format-less chain as foreachBatch — 'unknown' fails loud.
            sinks.append("foreachBatch")
        else:
            sinks.append("unknown")
    return sinks


def _classify(src: str) -> dict:
    time_keyed = bool(_TIME_KEYED_STATE.search(src))
    custom_keyed = bool(_CUSTOM_KEYED_STATE.search(src))
    return {
        "sinks": _writestream_sinks(src),
        "time_keyed_state": time_keyed,
        "custom_keyed_state": custom_keyed,
        "stateful": time_keyed or custom_keyed,
        "has_watermark": "withWatermark" in src
        or any(h in src for h in _WATERMARKING_HELPERS),
        "has_timeout": bool(_REAL_TIMEOUT.search(src)),
        # direct call or the conf-scoping contextmanager built on it
        "has_sizing": "stateful_shuffle_partitions(" in src
        or "sized_stateful_shuffle(" in src,
        "runs_stream": ".writeStream" in src,
    }


def test_streaming_sinks_are_file_foreachbatch_or_allowlisted():
    for relpath, name, src in _streaming_functions():
        for sink in _writestream_sinks(src):
            if sink == "memory":
                assert (relpath, name) in _MEMORY_ALLOWED, (
                    f"{relpath}:{name} streams into a memory sink — "
                    "driver-heap-pinned output; use a file sink + "
                    "read-back or allowlist the bounded site"
                )
            else:
                assert sink in _ALLOWED_SINKS or sink == "foreachBatch", (
                    f"{relpath}:{name} writeStream sink {sink!r} is not "
                    "a file/console/foreachBatch sink (a variable-"
                    "passed format also lands here: make it a literal "
                    "so the gate can read it)"
                )


def test_time_keyed_streaming_state_has_a_watermark():
    for relpath, name, src in _streaming_functions():
        cls = _classify(src)
        if cls["time_keyed_state"]:
            assert cls["has_watermark"], (
                f"{relpath}:{name} keys streaming state by time "
                "(window/session/dedup/stream-stream join) without a "
                "watermark — state never evicts and grows with stream "
                "history"
            )


def test_custom_keyed_streaming_state_has_a_timeout_or_adjudication():
    for relpath, name, src in _streaming_functions():
        cls = _classify(src)
        if cls["custom_keyed_state"]:
            assert (
                cls["has_timeout"]
                or cls["has_watermark"]
                or (relpath, name) in _NO_EXPIRY_ADJUDICATED
            ), (
                f"{relpath}:{name} holds custom per-key state "
                "(applyInPandasWithState/transformWithState) with no "
                "real GroupStateTimeout, no watermark, and no named "
                "adjudication — keys never expire and nothing says "
                "why that is bounded"
            )


def test_no_expiry_adjudications_are_not_stale():
    """Every no-expiry adjudication must still point at a real custom-
    state site (the allowlist can't rot), and must name the O(|keys|)
    bound."""
    sites = {
        (relpath, name)
        for relpath, name, src in _streaming_functions()
        if _CUSTOM_KEYED_STATE.search(src)
    }
    for key, why in _NO_EXPIRY_ADJUDICATED.items():
        assert key in sites, f"stale no-expiry adjudication: {key}"
        assert "per user" in why or "per key" in why or "|keys|" in why


def test_stateful_streaming_queries_size_their_shuffle():
    for relpath, name, src in _streaming_functions():
        cls = _classify(src)
        if cls["stateful"] and cls["runs_stream"]:
            assert cls["has_sizing"], (
                f"{relpath}:{name} runs a stateful stream without "
                "stateful_shuffle_partitions sizing — every shuffle "
                "partition owns a state-store instance and AQE cannot "
                "coalesce stateful plans"
            )


def test_streaming_inventory_is_pinned():
    """The discovered streaming-function set and classification must
    equal this snapshot — landing new streaming code (or silently
    changing a query's state/sink/sizing profile) is a conscious act
    that updates the pin alongside rules 1-3."""
    expected = {
        ("skysafe_datalake_spark/streaming/driver.py", "run_flights_stream"): {
            "sinks": ["foreachBatch"],
            "stateful": False,  # stateless per-batch upsert
        },
        ("skysafe_datalake_spark/streaming/driver.py", "sessionize_stream"): {
            "sinks": [],  # plan fragment: caller owns the sink
            "stateful": True,  # no-expiry adjudicated (O(|keys|))
        },
        ("skysafe_datalake_spark/workload/pipeline.py", "streaming_static_join"): {
            "sinks": ["memory"],  # allowlisted: complete-mode bounded cells
            "stateful": True,
        },
        (
            "skysafe_datalake_spark/workload/pipeline.py",
            "streaming_stateful_running_agg",
        ): {
            "sinks": ["parquet"],
            "stateful": True,
        },
        (
            "skysafe_datalake_spark/workload/pipeline.py",
            "_replay_side_stream",
        ): {
            "sinks": [],  # plan fragment: reads one staged replay side;
            # the three interval-join queries own sink + sizing
            "stateful": False,
        },
        ("skysafe_datalake_spark/workload/pipeline.py", "streaming_interval_join"): {
            "sinks": ["parquet"],
            "stateful": True,
        },
        (
            "skysafe_datalake_spark/workload/pipeline.py",
            "streaming_left_outer_join",
        ): {
            "sinks": ["parquet"],
            "stateful": True,
        },
        (
            "skysafe_datalake_spark/workload/pipeline.py",
            "streaming_full_outer_join",
        ): {
            "sinks": ["parquet"],
            "stateful": True,
        },
        (
            "skysafe_datalake_spark/workload/pipeline.py",
            "streaming_dedup_watermark",
        ): {
            "sinks": ["parquet"],
            "stateful": True,
        },
    }
    found = {
        (relpath, name): {
            "sinks": _classify(src)["sinks"],
            "stateful": _classify(src)["stateful"],
        }
        for relpath, name, src in _streaming_functions()
    }
    assert found == expected, (
        "streaming function inventory changed — review the new/changed "
        "site against the sink/eviction/sizing rules, then update this "
        f"pin. Found: {found}"
    )


def test_gate_fails_synthetic_unbounded_query():
    """Negative proof: a would-be streaming query with time-keyed
    state, no watermark, no sizing, and a memory sink trips all three
    rules (the gate is not vacuously green)."""
    bad_src = (
        "def bad(spark, sf_dir):\n"
        "    s = spark.readStream.parquet('in')\n"
        "    agg = s.groupBy(F.window('ts', '1 hour')).count()\n"
        "    q = agg.writeStream.format('memory').queryName('x').start()\n"
    )
    cls = _classify(bad_src)
    assert cls["time_keyed_state"] and not cls["has_watermark"]
    assert cls["stateful"] and not cls["has_sizing"]
    assert _writestream_sinks(bad_src) == ["memory"]
    # a class method does not escape discovery
    tree = ast.parse(
        "class Replay:\n"
        "    def run(self, spark):\n"
        "        return spark.readStream.parquet('in')\n"
    )
    assert [n for n, _ in _top_level_callables(tree)] == ["Replay.run"]
    # a docstring mentioning foreachBatch cannot launder a format-less
    # chain: it reads 'unknown', which the sink rule rejects
    laundered = (
        "def q(df):\n"
        '    """Unlike foreachBatch, this writes directly."""\n'
        "    return df.writeStream.queryName('x').start()\n"
    )
    assert _writestream_sinks(laundered) == ["unknown"]


def test_nodata_batch_suppression_scope():
    """The r14 no_trailing_nodata_batch scope is SEMANTIC, not a blanket
    conf: eligible replays (inner interval join, dedup-within-watermark,
    per-batch stateful emitter) emit their full output inside the data
    batches, so the trailing no-data commit cycle is pure overhead —
    but a streaming OUTER join produces its null-padded rows IN that
    trailing batch, so wrapping one would silently drop rows. Pin which
    builders use the helper so a refactor can't migrate it by
    accident."""
    import inspect

    from skysafe_datalake_spark.workload import pipeline as wp

    uses = {
        name: "no_trailing_nodata_batch(" in inspect.getsource(fn)
        for name, fn in (
            ("streaming_stateful_running_agg", wp.streaming_stateful_running_agg),
            ("streaming_interval_join", wp.streaming_interval_join),
            ("streaming_dedup_watermark", wp.streaming_dedup_watermark),
            ("streaming_left_outer_join", wp.streaming_left_outer_join),
            ("streaming_full_outer_join", wp.streaming_full_outer_join),
        )
    }
    assert uses == {
        "streaming_stateful_running_agg": True,
        "streaming_interval_join": True,
        "streaming_dedup_watermark": True,
        "streaming_left_outer_join": False,
        "streaming_full_outer_join": False,
    }, uses


def test_nodata_batch_scope_restores_conf(spark):
    """The scope must restore the session value on success AND on
    raise — a leaked 'false' would silently break the next outer-join
    replay run on the shared session."""
    import pytest

    from skysafe_datalake_spark.streaming.driver import (
        no_trailing_nodata_batch,
    )

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "true")
    with no_trailing_nodata_batch(spark):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "true"
    with pytest.raises(RuntimeError):
        with no_trailing_nodata_batch(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == "true"


def test_conf_scopes_serialize_across_threads(spark):
    """The session-conf scopes hold one shared lock: a second thread's
    scope waits for the first to exit, so neither reads the other's
    value and the session value is restored. Without the lock the
    second scope would save the first one's value and restore it last,
    leaking it into the session."""
    import threading

    from skysafe_datalake_spark.streaming.driver import (
        no_trailing_nodata_batch,
        sized_stateful_shuffle,
    )

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    first_in, second_in, first_out = (threading.Event() for _ in range(3))
    seen = {}

    def first():
        with sized_stateful_shuffle(spark, 0, lo=9, hi=9), no_trailing_nodata_batch(spark):
            first_in.set()
            second_in.wait(0.5)  # the second scope must not get in meanwhile
            seen["first"] = spark.conf.get(key)
        first_out.set()

    def second():
        first_in.wait(30)
        with sized_stateful_shuffle(spark, 0, lo=11, hi=11):
            second_in.set()
            first_out.wait(30)
            seen["second"] = spark.conf.get(key)

    threads = [threading.Thread(target=f) for f in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert seen == {"first": "9", "second": "11"}
    assert spark.conf.get(key) == saved


def test_stateful_shuffle_partitions_sizing():
    from skysafe_datalake_spark.streaming.driver import (
        stateful_shuffle_partitions,
    )

    # replay volume: floor wins
    assert stateful_shuffle_partitions(10_000) == 8
    assert stateful_shuffle_partitions(10_000, lo=4) == 4
    # 64x smoke volume: 6.4M rows / 200k = 32 stores
    assert stateful_shuffle_partitions(6_400_000) == 32
    # unbounded input: hi caps store instances
    assert stateful_shuffle_partitions(10**9) == 128
    assert stateful_shuffle_partitions(0) == 8


def test_stateful_sizing_pinned_at_bench_scale():
    """Pin the five stateful queries' BENCH-SCALE partition counts.

    Round 5 introduced data-sized state-store parallelism and its one
    coinciding bench regression (streaming_stateful_running_agg +30%)
    could not be ruled a partition-count change or noise. This test
    recomputes each site's Observation row count from the same sf0.1
    events table the bench replays and asserts the helper still lands
    on the measured replay floors (8/8/4/4/4) — so any future bench
    delta on these queries is provably not a sizing change.
    """
    import duckdb

    from tests.conftest import SF_SMALL

    from skysafe_datalake_spark.streaming.driver import (
        stateful_shuffle_partitions,
    )

    events = os.path.join(os.path.dirname(SF_SMALL), "sf0.1", "events.parquet")
    if not os.path.exists(events):
        pytest.skip("sf0.1 testdata not present")
    con = duckdb.connect()
    total, clicks, purchases, dup_extra = con.execute(
        f"""SELECT count(*),
                   count(*) FILTER (event_type = 'click'),
                   count(*) FILTER (event_type = 'purchase'),
                   count(*) FILTER (event_id % 3 = 0)
            FROM '{events}'"""
    ).fetchone()
    con.close()
    # workload/pipeline.py stateful sites, same Observation inputs:
    #   streaming_stateful_running_agg: all events, default lo=8
    assert stateful_shuffle_partitions(total) == 8
    #   streaming_interval_join: clicks + purchases, default lo=8
    assert stateful_shuffle_partitions(clicks + purchases) == 8
    #   streaming_left/full_outer_join: clicks + purchases + 2
    #   sentinel rows, lo=4 (4 state stores per partition)
    assert stateful_shuffle_partitions(clicks + purchases + 2, lo=4) == 4
    assert stateful_shuffle_partitions(clicks + purchases + 2, lo=4) == 4
    #   streaming_dedup_watermark: events + every-3rd re-sent, lo=4
    assert stateful_shuffle_partitions(total + dup_extra, lo=4) == 4
    #   streaming_static_join (sized in round 9): all events, lo=4 —
    #   complete-mode hour x category cells, state is a handful of rows
    assert stateful_shuffle_partitions(total, lo=4) == 4
