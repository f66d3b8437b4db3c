"""Spans recorded around the benchmark's own calls into the engine.

A span is (name, start, end, parent, run id, Spark jobs started). Spans
live in memory for the whole run and are written out once, when the run
ends. Nothing here reaches inside the engine: a span covers exactly one
call the harness makes, and its job count is the difference between the
newest Spark job id before and after that call.

With tracing off, ``span`` records nothing and makes no Spark call, so
an untraced run times the engine alone.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import time


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    jobs: int
    phase: str
    #: tracer bookkeeping done for child spans inside this one
    tracer_s: float = 0.0


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.phase = "setup"
        #: time spent inside the tracer's own bookkeeping, per phase
        self.overhead = {"setup": 0.0, "op": 0.0}
        self._sc = spark.sparkContext
        self._stack: list[int] = []

    def _last_job_id(self) -> int:
        # The status tracker is fed by the listener bus, which runs
        # behind the action that posted the event; drain it first so
        # the count is exact and repeats from run to run.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        phase = self.phase
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, parent, self.run_id, 0, phase))
        self._stack.append(idx)
        jobs_before = self._last_job_id()
        start = time.perf_counter()
        self.overhead[phase] += start - t_in
        overhead_before = self.overhead[phase]
        try:
            yield
        finally:
            end = time.perf_counter()
            sp = self.spans[idx]
            sp.start, sp.end = start, end
            sp.tracer_s = self.overhead[phase] - overhead_before
            sp.jobs = self._last_job_id() - jobs_before
            self._stack.pop()
            self.overhead[phase] += time.perf_counter() - end

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children
        cover, and minus the tracer's own bookkeeping for them
        (children of one span never overlap: one client, no
        threads)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return [sp.end - sp.start - c - sp.tracer_s for sp, c in zip(self.spans, child)]

    def totals(self, phase: str) -> dict[str, tuple[float, int]]:
        """Summed (self time, jobs) per span name within one phase."""
        out: dict[str, tuple[float, int]] = {}
        for sp, self_s in zip(self.spans, self.self_times()):
            if sp.phase == phase:
                s, j = out.get(sp.name, (0.0, 0))
                out[sp.name] = (s + self_s, j + sp.jobs)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp, self_s in zip(self.spans, self.self_times()):
                f.write(json.dumps(dict(dataclasses.asdict(sp), self_s=self_s)) + "\n")
