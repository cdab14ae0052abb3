"""Measurement plumbing: an in-memory span recorder with Spark job/task
attribution, and a /proc-based peak-RSS sampler for the JVM and its
Python workers.

Spans are recorded around calls the benchmark makes into the package;
nothing inside the package is instrumented.  A span's *self time* is its
duration minus the part of its interval covered by its children (the
union of their intervals, clipped to the parent), so a layer that runs
two concurrent children is not charged twice.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float | None = None
    jobs: int = 0
    tasks: int = 0
    tags: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    lo = hi = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if hi is None or a > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        total += hi - lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration
        - covered(
            [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        )
        for s in spans
    }


class Recorder:
    """Spans kept in memory, written as one JSON file by :meth:`close`.

    With a SparkContext, each span runs its calling thread under a job
    group of its own, and at the end counts the jobs of that group plus the
    ungrouped jobs that appeared while it was open (jobs started by the
    package's own threads carry no group).  An ungrouped job is charged to
    the first span that closes after it appears."""

    def __init__(self, run_id: str, path: str | None = None, sc=None):
        self.run = run_id
        self.path = path
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        # jobs that ran before this recorder existed are nobody's
        self._claimed: set[int] = (
            set(sc.statusTracker().getJobIdsForGroup(None)) if sc is not None else set()
        )

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **tags):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        s = Span(
            next(self._ids),
            name,
            parent.id if parent else None,
            self.run,
            time.perf_counter(),
            tags=dict(tags),
        )
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(self._group(stack[-1]), stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(s)

    def add(self, name: str, parent: Span | None, start: float, end: float, **tags) -> Span:
        """Record a span timed elsewhere (perf_counter clock)."""
        s = Span(next(self._ids), name, parent.id if parent else None, self.run, start, end,
                 tags=dict(tags))
        with self._lock:
            self.spans.append(s)
        return s

    def _group(self, s: Span) -> str:
        return f"{self.run}:{s.id}"

    def _count_jobs(self, s: Span) -> None:
        st = self.sc.statusTracker()
        with self._lock:
            fresh = [j for j in st.getJobIdsForGroup(None) if j not in self._claimed]
            self._claimed.update(fresh)
        jobs, tasks = job_tasks(st, list(st.getJobIdsForGroup(self._group(s))) + fresh)
        s.jobs, s.tasks = jobs, tasks

    def close(self, **extra) -> None:
        if self.path is None:
            return
        st = self_times(self.spans)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "run": self.run,
                    "spans": [
                        {**asdict(s), "self_s": st[s.id], "duration_s": s.duration}
                        for s in self.spans
                    ],
                    **extra,
                },
                fh,
                indent=1,
            )


def job_tasks(status_tracker, job_ids) -> tuple[int, int]:
    """(jobs, completed tasks) over ``job_ids``; skipped stages count 0."""
    tasks = 0
    for j in job_ids:
        info = status_tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = status_tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(job_ids), tasks


# --------------------------------------------------------------------------
# peak RSS from /proc
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Samples the JVM's RSS and the summed RSS of its descendant processes
    (the Python workers) every ``interval`` seconds on a daemon thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.25):
        self.pid = jvm_pid
        self.interval = interval
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.cpu_s = 0.0

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        c0 = time.thread_time()
        while not self._stop.is_set():
            self.samples.append(
                (
                    time.perf_counter(),
                    _rss_bytes(self.pid),
                    sum(_rss_bytes(p) for p in descendants(self.pid)),
                )
            )
            self._stop.wait(self.interval)
        self.cpu_s = time.thread_time() - c0

    def peak_mb(self, start: float = float("-inf"), end: float = float("inf")) -> tuple[float, float]:
        """(JVM peak, Python-worker peak) in MiB over samples in [start, end]."""
        sel = [(j, w) for t, j, w in self.samples if start <= t <= end]
        if not sel:
            return 0.0, 0.0
        return max(j for j, _ in sel) / 2**20, max(w for _, w in sel) / 2**20
