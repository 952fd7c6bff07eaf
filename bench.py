#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line with per-query wall seconds.

Each query is timed from plan construction through a ``noop`` write
(the whole plan runs, no rows reach the driver), in PASSES interleaved
passes over the query list; the min of its passes is reported, so a
host stall costs at most one sample per query. The stdout line holds
the headline map only (~1.8 kB); every pass's samples go to
BENCH_DETAIL_r{N}.json in the repo, and ``--all`` times every
registered query into that file. These are isolated single-query
walls: the numbers of record come from ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Headline set: one representative per operator family. The full
# registry (183 queries) runs under --all; keeping the headline near
# 60 keeps bench wall time and the stdout JSON line inside the
# driver's budget as the registry grows.
HEADLINE = [
    # signature domain pipeline
    "nn_station_join",
    "skysafe_enriched",
    "anomaly_threshold",
    # relational core
    "pricing_summary",
    "global_stats",
    "join_multiway",
    "subquery_exists",
    "grouping_cube",
    "salted_skew_agg",
    "bag_set_operations",
    "null_semantics",
    "topk_global",
    # window / temporal
    "window_topk_per_group",
    "window_range_frame",
    "rolling_ols_slope",
    "gap_fill_interpolate",
    "sessionize_events",
    "asof_join_attrib",
    "pit_join_scd2",
    # TPC-H shapes (join/agg-heavy representatives)
    "tpch_q3_like",
    "tpch_q9_like",
    "tpch_q13_like",
    "tpch_q21_like",
    # dedup / LLM curation
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "minhash_incremental_pairs",
    "embedding_neardup",
    "contamination_ngram_overlap",
    "llm_corpus_prep",
    "block_dedup_reconstruct",
    "sequence_packing",
    "random_projection_reduce",
    "leakage_safe_split",
    "text_quality",
    "quality_classifier_linear",
    "bm25_topk",
    "chunk_documents",
    # similarity / ANN
    "similarity_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "mmr_diversity_rerank",
    # sketches
    "kmv_distinct_sketch",
    "countmin_heavyhitters",
    "histogram_quantile_sketch",
    # graph / iterative
    "pagerank_integer",
    "bfs_khop_reach",
    "kcore_peel",
    # streaming
    "streaming_windowed_counts",
    "streaming_upsert_partitioned",
    "streaming_stateful_running_agg",
    "streaming_interval_join",
    "streaming_left_outer_join",
    "streaming_dedup_watermark",
    # ML path
    "skysafe_ml_pipeline",
    "ml_linreg_by_group",
    # sources / formats / misc
    "multimodal_frame_sample",
    "spatial_bbox_join",
    "json_nested_flatten",
    "multi_format_union",
    "schema_evolution_read",
    "dq_expectations",
]


def _sf_value(dirname: str) -> float | None:
    try:
        return float(dirname[2:])
    except ValueError:
        return None


def _round_number(repo_root: str) -> int:
    """Current round number, for naming the BENCH_DETAIL file.

    Honors SPARK_GRAFT_ROUND when the driver exports it. Otherwise
    infer from the r{N} files the driver writes — with care for WHEN
    the driver runs bench: it records CORRECTNESS_r{N} first, then
    runs bench and stores the stdout line as BENCH_r{N}. So a
    CORRECTNESS_r{N} without a matching BENCH_r{N} means this process
    IS the round-N driver bench (the naive max+1 here mislabeled the
    round-4 driver detail as r05). When both exist for the max round,
    that round is finished and we're a builder run in round N+1.
    """
    env = os.environ.get("SPARK_GRAFT_ROUND", "")
    if env.isdigit():
        return int(env)
    if env:
        # Don't silently ignore a set-but-unparseable override (e.g.
        # 'r5') — that re-introduces the exact mislabeling this
        # function exists to prevent.
        print(
            f"# SPARK_GRAFT_ROUND={env!r} is not an integer; "
            "inferring round from r{N} files instead",
            file=sys.stderr,
        )
    bench: set[int] = set()
    corr: set[int] = set()
    for fname in os.listdir(repo_root):
        m = re.match(r"(BENCH|CORRECTNESS)_r(\d+)\.json$", fname)
        if m:
            (bench if m.group(1) == "BENCH" else corr).add(int(m.group(2)))
    latest = max(bench | corr, default=0)
    if latest in corr and latest not in bench:
        return latest
    return latest + 1


PASSES = 3

# Warm-up at the smallest sibling sf* dir: one query per piece of shared
# JVM machinery (parquet scan + noop sink + shuffle, broadcast join,
# streaming state store + file sink, the minute pipeline's driver-side
# model fit). Per-query codegen is not pre-warmed: it lands on timed
# pass 1, and the min reports a later pass that reuses its classes.
BOOTSTRAP = [
    "pricing_summary",
    "nn_station_join",
    "streaming_dedup_watermark",
    "skysafe_ml_pipeline",
]


def _warm_dir(sf_dir: str) -> str:
    parent = os.path.dirname(sf_dir.rstrip("/"))
    sfs = [
        d for d in (os.listdir(parent) if os.path.isdir(parent) else [])
        if d.startswith("sf")
        and os.path.isdir(os.path.join(parent, d))
        and _sf_value(d) is not None
    ]
    return os.path.join(parent, min(sfs, key=_sf_value)) if sfs else sf_dir


def _run(query, spark, sf_dir: str) -> None:
    query(spark, sf_dir).write.format("noop").mode("overwrite").save()


def main() -> None:
    from skysafe_datalake_spark.session import get_spark
    from skysafe_datalake_spark.workload import QUERIES

    repo_root = os.path.dirname(os.path.abspath(__file__))
    run_all = "--all" in sys.argv[1:]
    spark = get_spark(app_name="skysafe-bench", master=f"local[{CPUS}]")
    headline = [n for n in HEADLINE if n in QUERIES]
    names = list(QUERIES) if run_all else headline

    warm_dir = _warm_dir(SF_DIR)
    warm_names = [n for n in BOOTSTRAP if n in QUERIES]
    print(
        f"# warm-up dir: {warm_dir} (bootstrap, {len(warm_names)} queries)",
        file=sys.stderr,
    )
    for name in warm_names:
        _run(QUERIES[name], spark, warm_dir)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for _pass in range(PASSES):
        for name in names:
            t0 = time.perf_counter()
            _run(QUERIES[name], spark, SF_DIR)
            samples[name].append(round(time.perf_counter() - t0, 3))
    timings = {n: min(s) for n, s in samples.items()}

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    headline_timings = {n: timings[n] for n in headline}
    total = round(sum(headline_timings.values()), 3)

    line = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": headline_timings,
        "sf": sf_val,
        "timing": f"construction+action, min of {PASSES} interleaved passes",
        "n_queries": len(headline_timings),
    }
    detail = {
        **line,
        "queries": timings,
        "samples": samples,
        "cpus": int(CPUS) if CPUS.isdigit() else CPUS,
        "all": run_all,
    }
    rnd = _round_number(repo_root)
    detail_path = os.path.join(repo_root, f"BENCH_DETAIL_r{rnd:02d}.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(f"# full detail: {detail_path}", file=sys.stderr)
    except OSError as exc:  # read-only checkout: stdout line still works
        print(f"# could not write {detail_path}: {exc}", file=sys.stderr)
    line["detail_file"] = os.path.basename(detail_path)
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
