"""Spans, Spark status-store attribution and process-tree RSS.

A span records name, layer, start, end, parent and run id, in memory.
Spark work is attributed to the innermost span whose interval holds
the job's submission time (not by job group: some package calls
submit jobs from helper threads). Job and stage metrics are read from
Spark's in-process status store right after each top-level span,
so its retention limit never drops a job.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

LAYERS = [
    "sources.readers",
    "operators.cleaning",
    "operators.categorical",
    "operators.na",
    "operators.mice",
    "operators.transforms",
    "operators.model",
    "plans.relational",
    "sources.tablelog",
    "sources.delta_writer",
    "sources.iceberg_writer",
    "sources.hudi_writer",
    "sources.lakehouse.read.tablelog",
    "sources.lakehouse.read.delta",
    "sources.lakehouse.read.iceberg",
    "sources.lakehouse.read.hudi",
    "llmdata.dedup",
    "llmdata.text",
    "llmdata.packing",
    "llmdata.ann_index",
]
#: how long to wait for a job that is still running when its span ends
DRAIN_WAIT_S = 5.0
#: /proc sampling period of the memory sampler
RSS_INTERVAL_S = 0.25


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    failed_tasks: int = 0


@dataclass
class Span:
    span_id: int
    name: str
    layer: str | None
    start_ms: float
    parent: "Span | None"
    run_id: int
    end_ms: float = 0.0
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)


def _now_ms() -> float:
    return time.time() * 1000.0


class StatusStore:
    """Reads finished jobs and their stages from Spark's AppStatusStore
    over py4j, in job-id order, starting after the last job read."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._next_id = 0
        self._seen_stages: set[int] = set()

    def skip_existing(self) -> None:
        while self._job(self._next_id) is not None:
            self._next_id += 1

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: not submitted yet
            return None

    def drain(self) -> list[Job]:
        out = []
        deadline = time.monotonic() + DRAIN_WAIT_S
        while True:
            jd = self._job(self._next_id)
            if jd is None:
                return out
            if not jd.completionTime().isDefined():
                if time.monotonic() < deadline:
                    time.sleep(0.02)
                    continue
                end_ms = _now_ms()  # still running: count it up to now
            else:
                end_ms = float(jd.completionTime().get().getTime())
            job = Job(
                job_id=self._next_id,
                submit_ms=float(jd.submissionTime().get().getTime()),
                end_ms=end_ms,
            )
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never ran
                    continue
                submitted = sd.submissionTime()
                if not submitted.isDefined() or submitted.get().getTime() < job.submit_ms:
                    continue  # ran for an earlier job; its output is reused here
                self._seen_stages.add(sid)
                job.cpu_s += sd.executorCpuTime() / 1e9
                job.shuffle_bytes += sd.shuffleWriteBytes()
                job.input_bytes += sd.inputBytes()
                job.spill_bytes += sd.diskBytesSpilled()
                job.gc_s += sd.jvmGcTime() / 1e3
                job.failed_tasks += sd.numFailedTasks()
            out.append(job)
            self._next_id += 1


class Tracer:
    """Records spans when enabled; a no-op context manager otherwise."""

    def __init__(self, spark=None, enabled: bool = False, run_id: int = 0):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = run_id
        self._ids = itertools.count()
        self._stack: list[Span] = []
        self._store = StatusStore(spark) if enabled else None
        if self._store is not None:
            self._store.skip_existing()

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, layer, _now_ms(), parent, self.run_id)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end_ms = _now_ms()
            self._stack.pop()
            self.spans.append(sp)
            if parent is None:
                self._attribute(sp, self._store.drain())

    def call(self, layer: str, fn, *args, **kwargs):
        with self.span(f"{layer}.{fn.__name__}", layer):
            return fn(*args, **kwargs)

    @contextmanager
    def instrument(self, module, names: list[str], layer: str):
        """Wrap ``module.<name>`` in spans for the block: catches the
        calls that code reaching the function through ``module`` makes."""
        if not self.enabled:
            yield
            return
        saved = {n: getattr(module, n) for n in names}

        def wrap(fn):
            def traced(*a, **k):
                return self.call(layer, fn, *a, **k)

            traced.__name__ = fn.__name__
            return traced

        for n, fn in saved.items():
            setattr(module, n, wrap(fn))
        try:
            yield
        finally:
            for n, fn in saved.items():
                setattr(module, n, fn)

    def _attribute(self, root: Span, jobs: list[Job]) -> None:
        for job in jobs:
            node = root
            while inner := [c for c in node.children if c.start_ms <= job.submit_ms <= c.end_ms]:
                node = inner[-1]
            node.jobs.append(job)


def span_records(spans: list[Span]) -> list[dict]:
    """Spans as JSON-ready records (parent by id, attributed job ids)."""
    return [
        {
            "id": sp.span_id,
            "name": sp.name,
            "layer": sp.layer,
            "start_ms": sp.start_ms,
            "end_ms": sp.end_ms,
            "parent": sp.parent.span_id if sp.parent else None,
            "run_id": sp.run_id,
            "jobs": [j.job_id for j in sp.jobs],
            "counters": sp.counters,
        }
        for sp in spans
    ]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(spans: list[Span], n_passes: int) -> dict[str, float]:
    """Per-pass layer totals: self time, self time not covered by the
    layer's own Spark jobs, job count, executor CPU and shuffle bytes;
    plus writer byte/file counters and Spark-wide spill/GC/failures."""
    agg: dict[str, float] = defaultdict(float)
    for sp in spans:
        child_ms = _union_ms([(c.start_ms, c.end_ms) for c in sp.children])
        self_ms = max(0.0, sp.end_ms - sp.start_ms - child_ms)
        job_ms = _union_ms(
            [(max(j.submit_ms, sp.start_ms), min(j.end_ms, sp.end_ms)) for j in sp.jobs
             if j.end_ms > sp.start_ms]
        )
        for j in sp.jobs:
            agg["spark.spill_bytes"] += j.spill_bytes
            agg["spark.gc_s"] += j.gc_s
            agg["spark.failed_tasks"] += j.failed_tasks
        if sp.layer is None:
            continue
        L = sp.layer
        agg[f"{L}.s"] += self_ms / 1e3
        agg[f"{L}.driver_s"] += max(0.0, self_ms - job_ms) / 1e3
        agg[f"{L}.jobs"] += len(sp.jobs)
        agg[f"{L}.executor_cpu_s"] += sum(j.cpu_s for j in sp.jobs)
        agg[f"{L}.shuffle_bytes"] += sum(j.shuffle_bytes for j in sp.jobs)
        if L == "llmdata.ann_index":
            agg[f"{L}.input_bytes"] += sum(j.input_bytes for j in sp.jobs)
        for k, v in sp.counters.items():
            agg[f"{L}.{k}"] += v
    return {k: v / max(1, n_passes) for k, v in agg.items()}


def dir_state(path: str) -> dict[str, int]:
    """``{relative file path: size}`` under ``path`` (empty if absent)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (JVM, Python workers) from /proc on a thread and keeps
    the peak. Sums proportional set sizes, so pages that forked Python
    workers share with their daemon count once."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:  # exited meanwhile
                pass
        self.peak_bytes = max(self.peak_bytes, total)


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            children[int(stat[stat.rfind(")") + 2:].split()[1])].append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including the descendants they have already reaped.
    Time the hypervisor gave to other guests is not in it."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
