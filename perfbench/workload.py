"""Base class of the workloads and of the composites built from them."""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager


class Workload:
    """One seeded workload: ``prepare`` makes its inputs (run
    ``prepare_reps`` times during set-up, the median is reported),
    ``run_pass`` is one closed-loop pass of requests, each recorded
    through ``request(kind, layer)`` (stage calls inside a request can
    add child spans through ``ctx.tracer``),
    ``warm_up`` runs once before the measured passes,
    and ``check`` verifies the outputs once, outside the timed region,
    returning one message per failed check out of ``n_checks``."""

    name = ""
    prepare_reps = 3
    n_checks = 0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spans: list = []

    @property
    def spark(self):
        return self.ctx.spark

    @contextmanager
    def request(self, kind: str, layer: str | None = None):
        """One timed request and its top-level span. With ``layer`` the
        whole request, plan building and the action that runs the plan,
        is that layer's: Spark is lazy, so a span around the package call
        alone would hold none of the layer's jobs."""
        with self.ctx.rec.request(kind), self.ctx.tracer.span(kind, layer) as sp:
            yield sp

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.ctx.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """One pass that runs every code path of ``run_pass`` once."""
        self.run_pass()

    def check(self) -> list[str]:
        return []

    def trace_metrics(self) -> dict[str, float]:
        """Workload-specific per-layer metrics of the traced passes."""
        return {}


class Composite(Workload):
    """Several workloads in one session, run one after another: set-up,
    warm-up, each pass and the checks run every part's in turn. Parts
    share the JVM start and Spark's first-query warm-up, which on a few
    cores cost more than most parts' own passes."""

    parts: tuple = ()

    def __init__(self, ctx):
        super().__init__(ctx)
        self.members = [cls(ctx) for cls in self.parts]
        self.prepare_reps = min(m.prepare_reps for m in self.members)
        self.n_checks = sum(m.n_checks for m in self.members)

    def prepare(self) -> None:
        for m in self.members:
            m.prepare()

    def warm_up(self) -> None:
        for m in self.members:
            m.warm_up()

    def run_pass(self) -> None:
        for m in self.members:
            m.run_pass()

    def check(self) -> list[str]:
        return [msg for m in self.members for msg in m.check()]

    def trace_metrics(self) -> dict[str, float]:
        return {k: v for m in self.members for k, v in m.trace_metrics().items()}
