"""Timing, tracing and summary statistics for the benchmark.

Spans are recorded from the benchmark's own files around each call into
a program layer (name, start, end, parent span, request id) and kept in
memory until the run ends. With tracing off, ``span`` only yields, so
the untraced runs that give the end-to-end metrics pay one branch.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans of one client thread: the workloads issue one operation at
    a time."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (name, start, end, parent, request)
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, start, time.perf_counter(), parent, request))
            self._stack.pop()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def dump(self, path: str) -> None:
        """Write the spans as tab-separated lines (the run's trace)."""
        with open(path, "w") as fh:
            fh.write("name\tstart\tend\tparent\trequest\n")
            for n, s, e, p, r in self.spans:
                fh.write(f"{n}\t{s:.6f}\t{e:.6f}\t{p or ''}\t{'' if r is None else r}\n")


class JobCounter:
    """Spark jobs and tasks launched between ``begin`` and ``end``, read
    from the application status store. Job ids are sequential and the
    store lists jobs newest first, so this counts every job the session
    ran in between, including those a streaming query starts on its own
    thread. Meaningful only while one operation runs at a time."""

    def __init__(self, sc):
        self._store = sc._jsc.sc().statusStore()

    def _jobs(self):
        return self._store.jobsList(None)

    def begin(self) -> int:
        jobs = self._jobs()
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def end(self, last: int) -> tuple[int, int]:
        jobs = self._jobs()
        n = tasks = 0
        it = jobs.iterator()
        while it.hasNext():
            job = it.next()
            if job.jobId() <= last:
                break
            n += 1
            tasks += job.numTasks()
        return n, tasks


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ten samples beyond it:
    (value, percentile, sample count). With fewer than eleven samples
    no percentile qualifies and the maximum is returned as p100."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    rank = n - 10  # 1-based rank with exactly ten samples above it
    return s[rank - 1], 100.0 * rank / n, n


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process it
    started: user and system time, including reaped children. Time the
    hypervisor steals from a virtual machine is not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def peak_rss_mb() -> float:
    """Summed peak resident memory (``VmHWM``) of this process and every
    process it started: the JVM driver and its Python workers."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
