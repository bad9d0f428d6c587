"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [workload ...]

Runs every workload once untraced and once traced at the smoke scale
(sf0.001-sized inputs) and asserts that: every printed metric name is in
``BENCHMARK.json`` with its unit and a direction, and each mode prints
exactly its metric list; every output check passes; and the traced
runs' spans cover every layer the benchmark names. Exits non-zero on
the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402
from spans import LAYERS  # noqa: E402


def run_once(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "smoke",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(workloads: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    known = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    layers_seen: set[str] = set()
    for wl in workloads:
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result = run_once(wl, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0, (wl, trace, result)
            names = set(result["metrics"])
            assert names == {m["name"] for m in listed}, (wl, trace, names ^ {m["name"] for m in listed})
            for name, m in result["metrics"].items():
                assert m["unit"] == known[name]["unit"], (name, m)
                assert known[name]["better"] in ("lower", "higher"), name
            if trace:
                with open(os.path.join(ROOT, ".perfbench", f"spans_{wl}.json")) as f:
                    layers_seen |= {s["layer"] for s in json.load(f) if s["layer"]}
            print(f"ok  {wl} trace={trace} attempted={result['attempted']}", flush=True)
    if set(workloads) == set(WORKLOADS):
        missing = set(LAYERS) - layers_seen
        assert not missing, f"layers without spans: {sorted(missing)}"
        print(f"ok  spans cover all {len(LAYERS)} layers")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or WORKLOADS))
