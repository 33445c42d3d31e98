"""In-memory spans around the benchmark's calls into sparkgrep.

A span records its name, layer, start, end, parent span and the id of the
op it belongs to. When tracing is on, every span runs its Spark jobs under
its own job group; on exit it reads the stages of those jobs from Spark's
status store (jobs, tasks, executor run/CPU time, input, output and
shuffle bytes). Spans are kept in memory and written out once, at the end
of the run. When tracing is off, ``span`` only yields, so timed runs pay
nothing for it.

No span is placed inside ``sparkgrep/``; the boundaries are the public
calls the benchmark makes.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_FIELDS = (
    "jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "input_bytes",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
)


@dataclass
class Span:
    id: int
    op: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    spark: dict = field(default_factory=dict)  # this span's own jobs only

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)

    @contextmanager
    def switched(self, on: bool):
        """Tracing on or off for a block: traced runs leave some rounds
        untraced, so a run also measures its own tracing overhead."""
        was, self.enabled = self.enabled, on
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, parent.op if parent else next(self._ops),
                 parent.id if parent else None, name, layer, 0.0)
        group = f"perfbench-{sid}"
        self._sc.setJobGroup(group, f"{layer}:{name}")
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent.id}", f"{parent.layer}:{parent.name}")
            else:
                self._sc.setJobGroup("perfbench-idle", "untraced")
            s.spark = self._stage_metrics(group)
            self.spans.append(s)

    def _stage_metrics(self, group: str) -> dict:
        jsc = self._sc._jsc.sc()
        # stage metrics arrive through the listener bus: drain it first
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out

    # ---- reading the trace -------------------------------------------

    def inclusive(self, s: Span) -> dict:
        """Spark work of a span and all its descendants."""
        out = dict(s.spark)
        for c in self.spans:
            if c.parent == s.id:
                for k, v in self.inclusive(c).items():
                    out[k] += v
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds_by_layer(self) -> dict[str, float]:
        """A span's self time is its duration minus its children's (which
        run one after another inside it), summed per layer."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.seconds
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - child.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ | {"seconds": s.seconds} for s in self.spans], f)
