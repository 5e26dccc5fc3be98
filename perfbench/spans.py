"""Spans and Spark counters for the traced run.

Spans are recorded around the benchmark's own calls into each layer
(the engine is not instrumented). Each span has a name, start, end,
parent span and an operation id ``workload/pass/op``; they are held in
memory and written out once at exit.

Spark counters come from the status store per job group: the traced run
tags each operation's construction and execution with their own job
group, drains the listener bus, then sums the last attempt of every
stage those jobs ran.
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
    op: str
    start: float
    end: float
    parent: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, op, time.perf_counter(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def write(self, path: str, counters: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "counters": counters}, f
            )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_ms",
    "executor_cpu_ns",
    "scan_tasks",
)


def drain_listener_bus(sc) -> None:
    """Wait until the listener bus has delivered every event posted so far.
    The status store is fed from the bus asynchronously; a job's end and
    its stages' completion are posted before the action returns, so after
    this the store holds final counts for every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(sc, group: str) -> dict[str, int]:
    """Sum the status store's last attempt of every stage run by the
    jobs of ``group``. Skipped stages ran no tasks and are not counted."""
    c = dict.fromkeys(COUNTERS, 0)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        c["jobs"] += 1
        for stage_id in info.stageIds:
            sd = store.lastStageAttempt(stage_id)
            if str(sd.status()) == "SKIPPED":
                continue
            tasks = sd.numTasks()
            c["stages"] += 1
            c["tasks"] += tasks
            c["failed_tasks"] += sd.numFailedTasks()
            c["input_bytes"] += sd.inputBytes()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c["executor_run_ms"] += sd.executorRunTime()
            c["executor_cpu_ns"] += sd.executorCpuTime()
            if sd.inputBytes() > 0:
                c["scan_tasks"] += tasks
    return c


def add_counters(a: dict[str, int], b: dict[str, int]) -> dict[str, int]:
    return {k: a.get(k, 0) + b.get(k, 0) for k in COUNTERS}
