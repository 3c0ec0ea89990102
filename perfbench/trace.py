"""Spans, counters and process-tree memory, all kept from outside the program.

The tracer records a span around each call into a layer's public entry
points. Lazy operators only build plans, so a span the workloads open
around an operator also covers the action that runs it; spans nest, and a
layer's self time is its span time minus the time of its child spans.
Wrappers around the program's entry points (``Warehouse.read``,
``Warehouse.overwrite_atomic``, the ``Pipeline`` stages, the scheduler
tick) are installed at run time from this file and removed afterwards.
Spans stay in memory until the run ends.

``NullTracer`` is what untraced runs use: every hook is a no-op.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass


def dir_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (0 when absent)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


@dataclass
class Span:
    name: str
    op: int | None
    start: float
    end: float = 0.0
    children: float = 0.0   # seconds covered by direct child spans

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.children


class NullTracer:
    """Tracing off: the workloads call the same hooks, which do nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, n: float = 1) -> None:
        pass

    def begin_op(self, op: int) -> None:
        pass

    def reset(self) -> None:
        pass

    def end_op(self) -> None:
        pass

    @contextlib.contextmanager
    def installed(self):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        self.op_jobs: list[int] = []
        self.op_tasks: list[int] = []
        self.bookkeeping = 0.0    # seconds spent in tracing code itself
        self._restore: list = []

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, self.op, time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1].children += s.seconds
            self.spans.append(s)

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def self_total(self, name: str) -> float:
        return sum(s.self_seconds for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def reset(self) -> None:
        """Forget everything recorded so far (set-up and warm-up)."""
        self.spans.clear()
        self.counts.clear()
        self.op_jobs.clear()
        self.op_tasks.clear()
        self.bookkeeping = 0.0

    # -- Spark jobs and tasks per op, from job groups -----------------------
    def begin_op(self, op: int) -> None:
        self.op = op
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{op}", "op")

    def end_op(self) -> None:
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"perfbench-op-{self.op}")
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in (info.stageIds if info else ()):
                sinfo = tracker.getStageInfo(st)
                if sinfo is not None:
                    tasks += sinfo.numCompletedTasks
        self.op_jobs.append(len(jobs))
        self.op_tasks.append(tasks)
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.op = None
        self.bookkeeping += time.perf_counter() - t0

    # -- wrappers around the program's entry points -------------------------
    def wrap(self, owner, attr: str, span_name: str, after=None, before=None):
        """Replace ``owner.attr`` with a version that opens ``span_name``
        around the call; ``before(args)`` and ``after(args, result)`` run
        outside the span and count as tracing overhead."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if before is not None:
                t0 = time.perf_counter()
                before(args, kwargs)
                tracer.bookkeeping += time.perf_counter() - t0
            with tracer.span(span_name):
                result = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(args, kwargs, result)
                tracer.bookkeeping += time.perf_counter() - t0
            return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    @contextlib.contextmanager
    def installed(self):
        """Install the program-side wrappers for the duration of the block."""
        from instagram_data_pipeline_spark import io
        from instagram_data_pipeline_spark.plans import manual, scheduler

        def table_written(args, kwargs, _):
            wh, table = args[0], args[1]
            self.count("io.bytes_written", dir_bytes(wh.path(table)))
            self.count("io.write_calls")

        def staging_removed(args, kwargs):
            path = str(args[1])
            if path.endswith(".tmp"):  # overwrite_atomic's staged copy
                self.count("io.bytes_written", dir_bytes(path))

        self.wrap(io.Warehouse, "read", "io.read",
                  after=lambda a, k, r: self.count("io.read_calls"))
        self.wrap(io.Warehouse, "write", "io.write", after=table_written)
        self.wrap(io.Warehouse, "overwrite_atomic", "io.write",
                  after=table_written)
        self.wrap(io, "hadoop_rm", "io.remove", before=staging_removed)
        for stage in ("upsert_profiles", "append_edges", "derive_mutuals",
                      "analyze_interests"):
            self.wrap(manual.Pipeline, stage, f"plans.{stage}")
        self.wrap(scheduler.JobScheduler, "process_pending_jobs",
                  "plans.scheduler_tick")
        self.wrap(scheduler.JobScheduler, "enqueue_users", "plans.enqueue")
        try:
            yield self
        finally:
            while self._restore:
                owner, attr, orig = self._restore.pop()
                setattr(owner, attr, orig)


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":  # an exited child not yet reaped is not alive
            children[int(fields[1])].append(int(entry))
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled every ``interval`` seconds by a
    background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False
