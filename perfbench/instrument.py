"""Measurement plumbing: spans kept in memory, Spark stage counters diffed
around each call, the driver-plus-workers RSS sampler and the percentile
rule. Nothing here changes what the program does; counters are read from
Spark's own status store from outside.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# -- statistics ---------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(xs) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded first
    so that e.g. 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def nearest_rank(xs, p: float) -> float:
    s = sorted(xs)
    return float(s[_rank(p, len(s)) - 1])


def tail_percentile(xs) -> tuple[float, float] | None:
    """(p, value) for the highest percentile of TAIL_LADDER with at least
    MIN_BEYOND samples ranked beyond it (nearest-rank), or None when the
    sample is too small to support any of them."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, nearest_rank(xs, p)
    return None


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = float("nan")
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (overlapping children count once; a child running past
    its parent only counts inside the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, reach), min(c.end, s.end)
            if b > a:
                covered += b - a
                reach = b
        out[s.id] = s.dur - covered
    return out


class Tracer:
    """Records spans in memory and reads Spark stage counters around each
    call. Without ``counters`` the tracer is off: it still times ``call``s
    (the benchmark needs op latencies either way) but keeps no spans, so an
    untraced run pays nothing for them."""

    def __init__(self, run_id: str, counters: "StageCounters | None" = None):
        self.run_id = run_id
        self.counters = counters
        self.enabled = counters is not None
        self.spans: list[Span] = []
        self.timings: list[tuple[str, float]] = []  # every call, traced or not
        self.overhead_s = 0.0  # spent reading counters and in ``overhead``
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def call(self, name: str, out: dict | None = None):
        """A blocking call into the program: its wall lands in ``out['s']``;
        when traced, the Spark stages it ran are diffed into the span after
        the span closes, so the counter reads are not charged to the call."""
        out = {} if out is None else out
        group = None
        if self.enabled:
            t = time.perf_counter()
            group = f"{self.run_id}:{len(self.spans)}"
            self.counters.begin(group)
            self.overhead_s += time.perf_counter() - t
        with self.span(name) as s:
            t0 = time.perf_counter()
            try:
                yield s
            finally:
                out["s"] = time.perf_counter() - t0
                self.timings.append((name, out["s"]))
        if group is not None:
            t = time.perf_counter()
            self.counters.end()
            s.counters = self.counters.read(group, out["s"])
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def overhead(self):
        """Work done only because the run is traced (reads that feed the
        per-layer metrics): charged to the tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "run": self.run_id, "id": s.id, "parent": s.parent,
                    "name": s.name, "start": s.start, "end": s.end,
                    "self_s": st[s.id], "counters": s.counters,
                }) + "\n")


# -- Spark stage counters -----------------------------------------------------------


class StageCounters:
    """Diffs Spark's status store around a call. Every call runs under its
    own job group; afterwards the listener bus is drained and the group's
    jobs and stages are read back (works with ``spark.ui.enabled=false``:
    the status store is fed by the listener either way)."""

    def __init__(self, sc, nproc: int):
        self.sc = sc
        self.nproc = nproc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        q = sc._gateway.new_array(sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q
        self._no_status = sc._jvm.java.util.ArrayList()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc._jsc.clearJobGroup()

    def read(self, group: str, wall_s: float) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = list(self._tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        c = dict(jobs=len(jobs), stages=0, tasks=0, failed_tasks=0, run_ms=0,
                 gc_ms=0, input_bytes=0, input_rows=0, output_bytes=0,
                 shuffle_write_bytes=0, spill_bytes=0, max_task_over_p50=1.0)
        heaviest = -1
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, self._no_status, True,
                                             self._quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                done = st.numCompleteTasks()
                if done == 0 and st.numFailedTasks() == 0:
                    continue  # skipped: its output was reused
                run = st.executorRunTime()
                c["stages"] += 1
                c["tasks"] += done + st.numFailedTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["run_ms"] += run
                c["gc_ms"] += st.jvmGcTime()
                c["input_bytes"] += st.inputBytes()
                c["input_rows"] += st.inputRecords()
                c["output_bytes"] += st.outputBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
                dist = st.taskMetricsDistributions()
                if done > 1 and run > heaviest and dist.isDefined():
                    q = dist.get().executorRunTime()
                    heaviest = run
                    c["max_task_over_p50"] = q.apply(1) / max(q.apply(0), 1.0)
        c["busy_share"] = c["run_ms"] / 1000.0 / max(wall_s * self.nproc, 1e-9)
        return c


# -- memory ---------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak of the summed RSS of a process tree (the Spark driver JVM and
    the Python workers it forks), sampled every ``period`` seconds on a
    daemon thread between ``start`` and ``stop``."""

    def __init__(self, root_pid: int, period: float = 0.05):
        self.root = root_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_bytes(p) for p in process_tree(self.root)))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 1e6
