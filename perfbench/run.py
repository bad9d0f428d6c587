"""Workload benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each invocation starts one Spark session,
generates the workload's inputs from ``--seed``, runs warm-up passes
(counted in ``setup_s``, never sampled), then runs whole passes of the
workload back to back until ``--seconds`` have elapsed, checks every
output outside the timed region and prints one JSON object as the last
line of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` alternates untraced and traced passes and reports the per-layer
metrics plus the tracing overhead. Human-readable detail (per-request
breakdown with sample counts, load average, core count) goes to the
lines before the JSON and to ``.perfbench/last_<workload>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

from spans import RssSampler, Tracer, descendants, layer_metrics, span_records, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

DRIVER_MEMORY = "2g"


def _pin_env(ncpu: int) -> None:
    # no package knob of the caller's environment leaks in
    for k in list(os.environ):
        if k.startswith(("SDW_", "SPARK_GRAFT_")) or k == "SPARK_MASTER":
            del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SDW_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a fixed, pre-touched heap: peak RSS then moves with memory outside
    # the heap (Python driver and workers, JVM non-heap), not with when
    # the collector happened to run
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # Python workers import the package (e.g. build_pq_index's UDFs)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _import_package():
    """Import the package from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import simple_data_workflow_spark as pkg

    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"package resolved outside the checkout: {pkg.__file__}")
    return pkg


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Recorder:
    """Times requests (wall and process-tree CPU); counts attempts and
    failures."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.cpu_samples: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def request(self, kind: str):
        self.attempted += 1
        t0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            yield
        except Exception:
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            raise
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        self.cpu_samples.append(tree_cpu_s() - c0)

    def all_samples(self) -> list[float]:
        return [x for v in self.samples.values() for x in v]


class Context:
    """What a workload needs: session, tracer, recorder, dirs, seed."""

    def __init__(self, spark, seed: int, scale: str):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.work = os.path.join(WORK, "work")
        self.tracer = Tracer()
        self.rec = Recorder()
        self.info: dict = {}


WORKLOADS = ["stats_sql", "lake_llm"]


def _start_spark(ncpu: int):
    from simple_data_workflow_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def run(
    workload: str, seed: int, seconds: float, trace: bool, scale: str = "bench"
) -> tuple[dict, dict]:
    """One invocation; returns the contract result and the report detail."""
    ncpu = len(os.sched_getaffinity(0))
    cpu_before = _cpu_times()
    shutil.rmtree(WORK, ignore_errors=True)
    _pin_env(ncpu)
    _import_package()
    wl_cls = importlib.import_module(workload).WORKLOAD

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _start_spark(ncpu)
        try:
            ctx = Context(spark, seed, scale)
            wl = wl_cls(ctx)
            session_s = time.perf_counter() - t0
            prep = []
            for _ in range(wl.prepare_reps):
                t = time.perf_counter()
                wl.prepare()
                prep.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(prep) + warm_s

            # measured window: whole passes until --seconds have elapsed
            ctx.rec = Recorder()
            pass_s, traced_s, untraced_s, pass_cpu_s = [], [], [], []
            t_start = time.perf_counter()
            i = 0
            while True:
                traced = trace and i % 2 == 1
                ctx.tracer = Tracer(spark, enabled=traced, run_id=i)
                t, c = time.perf_counter(), tree_cpu_s()
                try:
                    wl.run_pass()
                except Exception:
                    pass  # counted by the recorder; the pass is not sampled
                else:
                    dt = time.perf_counter() - t
                    pass_s.append(dt)
                    pass_cpu_s.append(tree_cpu_s() - c)
                    (traced_s if traced else untraced_s).append(dt)
                    if traced:
                        wl.spans.extend(ctx.tracer.spans)
                i += 1
                elapsed = time.perf_counter() - t_start
                if elapsed >= seconds and (not trace or (traced_s and untraced_s)):
                    break
                if ctx.rec.failed and not pass_s:
                    break
            try:
                failures = wl.check()
            except Exception:
                failures = [f"{workload} check raised: {traceback.format_exc(limit=3)}"]
        finally:
            _stop_spark(spark)

    rec = ctx.rec
    samples = rec.all_samples()
    attempted = rec.attempted + wl.n_checks
    failed = rec.failed + len(failures)
    if trace:
        metrics = layer_metrics(wl.spans, len(traced_s))
        metrics.update(wl.trace_metrics())
        metrics["trace.run_s"] = statistics.median(traced_s) if traced_s else 0.0
        metrics["trace.overhead_s"] = (
            metrics["trace.run_s"] - statistics.median(untraced_s) if untraced_s else 0.0
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "cpu_s": statistics.median(pass_cpu_s) if pass_cpu_s else float("nan"),
            "request_cpu_s_geomean": (
                geomean(rec.cpu_samples) if rec.cpu_samples else float("nan")
            ),
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if trace:
        metrics = {m["name"]: 0.0 for m in spec["per_layer"]} | metrics
        with open(os.path.join(WORK, f"spans_{workload}.json"), "w") as f:
            json.dump(span_records(wl.spans), f)
    result = {
        "correct": failed == 0 and bool(pass_s),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units.get(k, "")} for k, v in sorted(metrics.items())
        },
    }
    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "cores": ncpu,
        "loadavg": os.getloadavg(),
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_pct": _steal_pct(cpu_before, _cpu_times()),
        "setup": {"session_s": session_s, "prepare_s": prep, "warmup_s": warm_s},
        "passes_s": pass_s,
        "passes_cpu_s": pass_cpu_s,
        # wall-clock figures: reported, not gated (they follow the
        # host's load; see NOTES.md)
        "run_s": statistics.median(pass_s) if pass_s else None,
        "request_s_geomean": geomean(samples) if samples else None,
        "requests": _latency_table(rec.samples),
        "info": ctx.info,
        "check_failures": failures,
        "errors": rec.errors,
        "result": result,
    }
    with open(os.path.join(WORK, f"last_{workload}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    return result, detail


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def _latency_table(samples: dict[str, list[float]]) -> dict[str, dict]:
    """p50/p90 with sample counts per request kind, plus per group of
    kinds (``commit.delta.merge`` pools into ``commit``)."""
    pooled = dict(samples)
    for kind, v in samples.items():
        group = kind.split(".")[0]
        if group != kind:
            pooled.setdefault(group + ".*", []).extend(v)
    return {
        k: {"n": len(v), "p50_s": quantile(v, 0.5), "p90_s": quantile(v, 0.9)}
        for k, v in sorted(pooled.items())
    }


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(result: dict, detail: dict) -> None:
    print(
        f"# {detail['workload']} seed={detail['seed']} cores={detail['cores']} "
        f"loadavg={' '.join(f'{x:.2f}' for x in detail['loadavg'])} "
        f"steal={detail['steal_pct']:.1f}% "
        f"passes={len(detail['passes_s'])}"
    )
    for kind, r in detail["requests"].items():
        print(f"#   {kind:<28} n={r['n']:<4} p50={r['p50_s']:.4f} s  p90={r['p90_s']:.4f} s")
    n_req = sum(r["n"] for k, r in detail["requests"].items() if not k.endswith(".*"))
    n_pass = len(detail["passes_s"]) // 2 if detail["trace"] else len(detail["passes_s"])
    for name, m in result["metrics"].items():
        n = n_req if name.startswith("request_") else n_pass
        print(f"#   {name:<44} {m['value']:.6g} {m['unit']}  (n={n})")
    if not detail["trace"] and detail["run_s"] is not None:
        print(f"#   wall run_s {detail['run_s']:.6g} s (n={n_pass}), wall request_s_geomean "
              f"{detail['request_s_geomean']:.6g} s (n={n_req}); not gated")
    for msg in detail["check_failures"] + detail["errors"]:
        print("# FAIL " + msg.replace("\n", "\n#   "))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args(argv)
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    report(result, detail)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
