"""Spans around the benchmark's calls into the library, with the Spark
stage metrics of the jobs each span ran.

A span records name, start, end, parent and request id. Spans live in
memory and are written out when the run ends. A span opened with
``spark=True`` tags its jobs with a Spark job group; jobs submitted
from threads the library starts (which do not inherit the group) are
attributed to the innermost such span open when they were submitted.
When tracing is off, ``span`` yields ``None`` and records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str
    start: float
    end: float = 0.0
    wall_start_ms: float = 0.0
    wall_end_ms: float = 0.0
    spark: bool = False
    jobs: list = field(default_factory=list)
    stages: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, request: str | None = None,
             spark: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(id=len(self.spans), name=name,
                 parent=parent.id if parent else None,
                 request=request or (parent.request if parent else "run"),
                 start=time.perf_counter(), wall_start_ms=time.time() * 1e3,
                 spark=spark)
        self.spans.append(s)
        self._stack.append(s)
        if spark:
            self._sc.setJobGroup(f"perfbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end_ms = time.time() * 1e3
            self._stack.pop()
            if spark:
                outer = next((p for p in reversed(self._stack) if p.spark),
                             None)
                if outer is not None:
                    self._sc.setJobGroup(f"perfbench-{outer.id}", outer.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def attach_stage_metrics(self) -> None:
        """Read every job's stages from Spark's status store and add
        their metrics to the span that ran the job."""
        if not self.enabled or self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        spark_spans = [s for s in self.spans if s.spark]
        owner: dict[int, Span] = {}
        for s in spark_spans:
            for j in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                owner[int(j)] = s
        for j in tracker.getJobIdsForGroup(None):
            sub = store.job(int(j)).submissionTime()
            if sub.isEmpty():
                continue
            t = float(sub.get().getTime())
            inner = [s for s in spark_spans
                     if s.wall_start_ms - 1 <= t <= s.wall_end_ms + 1]
            if inner:
                owner[int(j)] = max(inner, key=lambda s: s.wall_start_ms)
        for j, s in sorted(owner.items()):
            s.jobs.append(j)
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else []):
                sd = store.lastStageAttempt(int(sid))
                if str(sd.status()) == "SKIPPED":
                    continue
                s.stages += 1
                add = {
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "input_records": sd.inputRecords(),
                }
                for k, v in add.items():
                    s.counts[k] = s.counts.get(k, 0) + v

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover (children
        of one span never overlap: there is one client thread)."""
        child = {s.id: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] for s in self.spans}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["dur_s"] = s.dur
                rec["self_s"] = selfs[s.id]
                f.write(json.dumps(rec) + "\n")
