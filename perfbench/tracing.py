"""Spans and Spark job counters recorded around calls into the engine.

The benchmark opens a span around each call it makes into an engine layer
(the public function, then the forcing of the returned DataFrame).  Spans
stay in memory; Spark job/task counts are read from the status tracker once,
after the run, through the job group each span sets while it is open.  With
tracing off every method is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    kind: str  # "plan" (inside the public call), "exec" (forcing), "op", "setup" or "isolation"
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    notes: dict[str, list[float]] = field(default_factory=dict)
    overhead_s: float = 0.0  # time spent in the tracer's own bookkeeping
    _stack: list[int] = field(default_factory=list)
    _op: int = 0
    _sc: object = None

    def bind(self, spark) -> None:
        """Attach the session whose jobs the spans count (rebound after a
        session restart)."""
        self._sc = spark.sparkContext

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "plan"):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        # isolation and setup spans mark their whole subtree
        if parent is not None and self.spans[parent].kind in ("isolation", "setup"):
            kind = self.spans[parent].kind
        sp = Span(name, layer, kind, self._op, 0.0, parent=parent)
        self.spans.append(sp)
        self._stack.append(idx)
        self._sc.setJobGroup(f"perfbench-{idx}", f"{layer}:{name}")
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.dur
                self._sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - sp.end

    def note(self, key: str, value: float) -> None:
        """A count or size measured by the benchmark at a layer boundary."""
        if self.enabled:
            self.notes.setdefault(key, []).append(float(value))

    def collect_counters(self) -> None:
        """Fill jobs/tasks/failed_tasks of every span from the status
        tracker, once the listener bus has delivered every event."""
        if not self.enabled or not self.spans:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        st = self._sc.statusTracker()
        for idx, sp in enumerate(self.spans):
            jobs = st.getJobIdsForGroup(f"perfbench-{idx}")
            stages: set[int] = set()
            for jid in jobs:
                info = st.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            sp.jobs = len(jobs)
            for sid in stages:
                si = st.getStageInfo(sid)
                if si is not None:
                    sp.tasks += si.numCompletedTasks
                    sp.failed_tasks += si.numFailedTasks

    def dump(self) -> list[dict]:
        return [dict(asdict(s), dur=s.dur, self_s=s.self_s) for s in self.spans]

