"""In-memory spans, layer self times and process memory sampling.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions; Spark jobs from the event log join them as
child spans. Nothing is written until the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float          # epoch seconds, the clock the event log uses
    end: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part of it that child spans cover."""
        return self.dur - sum(c.dur for c in self.children)

    def walk(self):
        """This span and every span below it."""
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """Nested spans of one run. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent)
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, description: str | None = None,
             spark=None):
        """Replace ``module.attr`` by a version that records a span (and
        labels the Spark jobs it starts); returns a function that undoes it."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            if description is not None:
                spark.sparkContext.setJobDescription(description)
            try:
                with self.span(name):
                    return orig(*args, **kwargs)
            finally:
                if description is not None:
                    spark.sparkContext.setJobDescription(None)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Insert event-log jobs as child spans of the innermost span that
        contains their submission time."""
        for j in jobs:
            start, end = j["start_ms"] / 1000.0, j["end_ms"] / 1000.0
            parent = self._innermost(self.roots, start)
            if parent is not None:
                parent.children.append(
                    Span(f"job.{j['category']}", start, end, parent))

    def _innermost(self, spans: list[Span], t: float) -> Span | None:
        for s in spans:
            if s.start <= t < s.end and not s.name.startswith("job."):
                return self._innermost(s.children, t) or s
        return None


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
    except (OSError, IndexError, ValueError):
        return 0.0
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def _pss_mb(pid: int) -> float:
    """Proportional set size: Python workers fork from one daemon and share
    its pages, which RSS would count once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, ValueError):
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    """Live processes below ``pid``, from /proc parent links."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class MemSampler:
    """Polls the RSS of the JVM and the PSS of the Python processes below
    it (the daemon and its workers) while active; keeps the peaks and every
    pid it saw. Other children of the JVM (short-lived shell-outs, which
    share its address space while they start) are not counted."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_total_mb = self.peak_jvm_mb = self.peak_py_mb = 0.0
        self.seen: set[int] = {jvm_pid}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(0.2):
                self.sample()
                time.sleep(self.interval_s)

    def sample(self) -> None:
        kids = [p for p in descendants(self.jvm_pid) if _is_python(p)]
        jvm = _rss_mb(self.jvm_pid)
        py = sum(_pss_mb(p) for p in kids)
        with self._lock:
            self.seen.update(kids)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
            self.peak_py_mb = max(self.peak_py_mb, py)
            self.peak_total_mb = max(self.peak_total_mb, jvm + py)

    def reset(self) -> None:
        with self._lock:
            self.peak_total_mb = self.peak_jvm_mb = self.peak_py_mb = 0.0

    @contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
