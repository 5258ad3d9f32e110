"""In-memory spans around calls into the library's layers, with Spark's
own counters attributed to each span.

Every span runs under its own Spark job group, so each job lands in
exactly one span (the innermost open one). Counters are read from the
status store after the operation ends, outside the timed window:
jobs, stages and tasks run, shuffle, spill and I/O bytes, executor run,
CPU and GC time, and the span time during which no stage was active.

With tracing disabled ``span`` is a bare context manager that touches
neither Spark nor the clock, so untraced runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "build_jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "output_records", "executor_run_s",
    "executor_cpu_s", "gc_s",
)


@dataclass
class Span:
    name: str
    op: int
    sid: int
    parent: int | None
    build: bool
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    stage_windows: list = field(default_factory=list)


class Tracer:
    """Collects spans for one run. ``op`` is the id of the operation the
    next spans belong to (-1 for set-up)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._pending: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, build: bool = False):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, next(self._ids), parent.sid if parent else None, build,
                 time.time())
        self._stack.append(s)
        sc.setJobGroup(f"fb-{s.sid}", name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"fb-{parent.sid}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self._pending.append(s)

    def collect(self) -> None:
        """Attach Spark counters to every span closed since the last
        call. Waits for the listener bus so the status store holds every
        finished job; call it outside timed windows."""
        if not self._pending:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for s in self._pending:
            c = dict.fromkeys(COUNTERS, 0)
            for jid in tracker.getJobIdsForGroup(f"fb-{s.sid}"):
                c["jobs"] += 1
                c["build_jobs"] += int(s.build)
                info = tracker.getJobInfo(jid)
                for stage_id in info.stageIds if info else []:
                    self._add_stage(store, stage_id, c, s.stage_windows)
            s.counts = c
        self._pending = []

    @staticmethod
    def _add_stage(store, stage_id: int, c: dict, windows: list) -> None:
        try:
            sd = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # no attempt recorded: evicted or never submitted
            return
        if sd.status().toString() == "SKIPPED":
            return
        c["stages"] += 1
        c["tasks"] += sd.numTasks()
        c["shuffle_read_bytes"] += sd.shuffleReadBytes()
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        c["input_bytes"] += sd.inputBytes()
        c["output_bytes"] += sd.outputBytes()
        c["output_records"] += sd.outputRecords()
        c["executor_run_s"] += sd.executorRunTime() / 1e3
        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        c["gc_s"] += sd.jvmGcTime() / 1e3
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            windows.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))

    # ---- derived views --------------------------------------------------

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    def totals(self, root: Span) -> dict:
        """Counters summed over ``root`` and every span below it, plus
        ``idle_s``: the part of ``root``'s wall time in which none of
        their stages was running."""
        tree = self.subtree(root)
        c = {k: sum(s.counts.get(k, 0) for s in tree) for k in COUNTERS}
        windows = [w for s in tree for w in s.stage_windows]
        c["idle_s"] = (root.end - root.start) - _covered(windows, root.start, root.end)
        return c

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == span.sid]
        return (span.end - span.start) - _covered(kids, span.start, span.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(windows: list, lo: float, hi: float) -> float:
    """Length of the union of ``windows`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in windows):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
