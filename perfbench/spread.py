"""Run one workload on several seeds and report each end-to-end
metric's median and spread (quartile distance as a share of the
median), the figures a bound in BENCHMARK.json is checked against.

    python3 perfbench/spread.py --workload minute_dag --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import iqr_share  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {time.perf_counter() - t0:.0f}s "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        spread = iqr_share(vals) if len(vals) > 1 else float("nan")
        print(f"{args.workload} {name}: median {statistics.median(vals):.4g} "
              f"spread {spread:.3f} bound {bounds.get(name)}")
    print(f"failed operations: {failed}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
