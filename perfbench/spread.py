"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--seconds 5]

Runs the benchmark once per seed (untraced), then prints per metric the
median, the quartiles and the interquartile range as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound from ``BENCHMARK.json``, plus the wall time of each run.
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
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        walls.append(time.perf_counter() - t0)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".perfbench", f"last_{args.workload}.json")) as f:
            steal = json.load(f)["steal_pct"]
        print(f"seed {seed}: wall {walls[-1]:.1f} s steal {steal:.1f}% "
              f"correct={result['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"{args.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"  {k:<16} median {med:<10.4g} q1 {q1:<10.4g} q3 {q3:<10.4g} "
              f"spread {(q3 - q1) / med:6.3f}  bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
