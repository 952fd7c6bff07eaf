"""Benchmark entry point.

    python3 perfbench/run.py --workload minute_dag --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout. Starts one local Spark
session sized to the machine, generates the workload's inputs, runs
one warm-up unit, then a fixed number of timed units: ``--seconds``
divided by the workload's nominal unit time, at least one. The count
does not depend on how fast the host is, so every run of a workload
does the same work. Every unit's output is checked. ``setup_s`` is the
session start plus the warm-up unit's time in the engine; input
generation and output checks are not in it. ``unit_cpu_s`` is the
median over the timed units of the CPU seconds the engine spent on
one unit (driver JVM, the processes below it and this Python client).
With ``--trace 1`` units
run untraced, traced, traced, untraced and the per-layer metrics are
printed instead of the end-to-end ones; the spans are written to
``perfbench/.spans/<workload>-seed<seed>.json``.

Prints a detail line (every unit's wall, CPU and steal seconds), then
as the last line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. All files go under
``perfbench/.work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "4g"
SPANS_DIR = os.path.join(HERE, ".spans")  # traced runs write their spans here
# Traced runs alternate untraced and traced units in this order, so
# that drift over the run cancels out of the tracing overhead.
TRACE_PATTERN = (False, True, True, False)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _isolate(work: str) -> int:
    """Point every temp and scratch location at ``work`` and size the
    session to this machine; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return cores


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, per_layer_catalog

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    cores = _isolate(work)  # before the engine reads its environment
    spark = None
    try:
        from skysafe_datalake_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        setup_s = session_s + wl.warm_up()

        tracer = Tracer(spark.sparkContext) if args.trace else None
        count = (max(1, round(args.seconds / wl.nominal_unit_s)) if tracer is None
                 else len(TRACE_PATTERN))
        plain: list[tuple[float, float, float]] = []  # (wall, cpu, steal) per unit
        traced: list[float] = []
        for i in range(count):
            traced_unit = tracer is not None and TRACE_PATTERN[i]
            if wl.unit(tracer if traced_unit else None) is None:
                continue
            if traced_unit:
                traced.append(wl.last[0])
            else:
                plain.append(wl.last)
        plain_wall = [u[0] for u in plain]
        peak_rss = _jvm_peak_rss_mb(spark)
        conf = spark.sparkContext.getConf()
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "master": spark.sparkContext.master,
            "cores": cores,
            "driver_memory": conf.get("spark.driver.memory"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "setup_s": setup_s,
            "driver_peak_rss_mb": peak_rss,
            "units": stats.summary(plain_wall),
            "units_s": plain_wall,
            "units_cpu_s": [u[1] for u in plain],
            "units_steal_s": [u[2] for u in plain],
            "traced_units_s": traced,
            "failures": wl.failures[:5],
        }
        print("detail " + json.dumps(detail), flush=True)
        if tracer is not None:
            os.makedirs(SPANS_DIR, exist_ok=True)
            tracer.dump(os.path.join(SPANS_DIR, f"{args.workload}-seed{args.seed}.json"))
            metrics = {"session.s": session_s, **wl.layer_metrics()}
            if plain:
                metrics["harness.unit_wall_s"] = statistics.median(plain_wall)
                metrics["harness.unit_steal_s"] = statistics.median(u[2] for u in plain)
            if plain and traced:
                metrics["harness.tracing_overhead_s"] = (
                    statistics.median(traced) - statistics.median(plain_wall))
            out_metrics = {
                name: {"value": metrics.get(name, 0), "unit": unit}
                for name, unit, _better in per_layer_catalog()
            }
        else:
            if not plain:
                raise RuntimeError("no unit of work succeeded: " + "; ".join(wl.failures[:3]))
            out_metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "unit_cpu_s": {"value": statistics.median(u[1] for u in plain), "unit": "s"},
            }
        failed = len(wl.failures)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": wl.attempted,
            "failed": failed,
            "metrics": out_metrics,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left in place while another run uses it
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
