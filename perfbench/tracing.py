"""Spans, process-tree peak RSS and the host stamp of a benchmark run."""

from __future__ import annotations

import os
import platform
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, run, start, end, parent), written out with
    the detail file when the benchmark ends. Disabled, it records
    nothing, so untraced runs pay no span cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, run: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": run,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0


def tree_pids(root_pid: int) -> list[int]:
    """`root_pid` and all its descendants (the driver JVM, the Python
    worker daemon and its workers), from /proc."""
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
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _tree_rss_bytes(root_pid: int) -> dict[str, int]:
    """Resident bytes of the process tree under `root_pid`, summed per
    command name."""
    page = os.sysconf("SC_PAGE_SIZE")
    by_name: dict[str, int] = {}
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        by_name[name] = by_name.get(name, 0) + rss
    return by_name


class PeakRss:
    """Background sampler of the process tree's peak RSS, with the
    per-command split (java, python3, ...) at the peak."""

    # A /proc scan costs ~5 ms of this process's CPU (and its GIL); the
    # driver heap, which dominates the tree, changes over seconds.
    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            by_name = _tree_rss_bytes(pid)
            total = sum(by_name.values())
            if total > self.peak:
                self.peak, self.peak_by_name = total, by_name
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_control_rate(seconds: float = 0.3) -> float:
    """Iterations/s of a fixed pure-Python integer loop: a box-speed
    control that no code change in the repository can move."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        acc = 0
        for i in range(10_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        n += 10_000
    return n / (time.perf_counter() - t0)


def git_commit(root: str) -> str:
    """HEAD commit read from .git without running git; 'unknown' in a
    plain checkout."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(root, ".git", ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def host_stamp(root: str, nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "cpu_control_iters_per_s": cpu_control_rate(),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "git_commit": git_commit(root),
    }
