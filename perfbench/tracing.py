"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, request id). Spans nest through a
per-thread stack: a span opened while another is open on the same
thread becomes its child. Nothing is written while the benchmark
measures; :meth:`Tracer.dump` writes every span at the end. :func:`self_time_samples` gives each layer's self time
per call: its span's duration minus the part covered by its child spans.

With tracing off, :class:`NullTracer` keeps the same interface at the
cost of one no-op context manager per call.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.request: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].id if stack else None
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.request)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, fh)


class NullTracer:
    spans: list[Span] = []
    request: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


def span_self_times(spans: list[Span]) -> list[tuple[Span, float]]:
    """Each span's self time: its duration minus the union of the
    intervals its direct children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for s in spans:
        covered, last = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        out.append((s, (s.end - s.start) - covered))
    return out


def self_time_samples(spans: list[Span]) -> dict[str, list[float]]:
    """Self time of every call, grouped by span name."""
    out: dict[str, list[float]] = {}
    for s, t in span_self_times(spans):
        out.setdefault(s.name, []).append(t)
    return out


def _rss_kb(pid: int) -> int:
    """VmHWM (peak resident set) in kB of one process, 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (the JVM and its Python workers)."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str, fields: slice) -> int:
    try:
        with open(stat_path, encoding="ascii") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in f[fields])


def _is_jit_thread(task_dir: str) -> bool:
    try:
        with open(os.path.join(task_dir, "comm"), encoding="ascii", errors="replace") as fh:
            return fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre"))
    except OSError:
        return False


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``pid`` and its live descendants, less the JVM's JIT compiler
    threads. Time the host steals from the virtual CPUs is not in it.

    JIT compilation is warm-up that continues into a short run at a
    rate that depends on timing; leaving it out keeps the figure to the
    work the program itself does. Compiler threads must not exit early
    for this (``-XX:-UseDynamicNumberOfCompilerThreads``): a thread that
    is gone cannot be subtracted."""
    pid = pid or os.getpid()
    total = 0
    for p in [pid] + _descendants(pid):
        total += _cpu_ticks(f"/proc/{p}/stat", slice(11, 15))  # utime stime cutime cstime
        tasks = f"/proc/{p}/task"
        try:
            tids = os.listdir(tasks)
        except OSError:
            continue
        for tid in tids:
            task = os.path.join(tasks, tid)
            if _is_jit_thread(task):
                total -= _cpu_ticks(os.path.join(task, "stat"), slice(11, 13))
    return total / _TICK


class PeakRss:
    """Peak resident memory, in MB, of this process plus its descendants.

    Each process's own high-water mark (VmHWM) is summed; processes that
    exit between samples keep the last mark seen, so call :meth:`sample`
    after each operation."""

    def __init__(self) -> None:
        self._hwm: dict[int, int] = {}

    def sample(self) -> None:
        me = os.getpid()
        for pid in [me] + _descendants(me):
            hwm = _rss_kb(pid)
            if hwm:
                self._hwm[pid] = max(self._hwm.get(pid, 0), hwm)

    def mb(self) -> float:
        return sum(self._hwm.values()) / 1024.0

    def by_process(self) -> dict[str, float]:
        """Peak MB per pid (for the span dump)."""
        return {str(pid): kb / 1024.0 for pid, kb in self._hwm.items()}
