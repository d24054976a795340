"""Measurement probes the benchmark reads from outside the program.

Three sources only: spans the benchmark records around the public calls
it makes, Spark's ``statusTracker()``, and ``/proc`` for the process
tree (this Python driver, the Spark JVM it launches, and the JVM's
Python workers).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc --------------------------------------------------------------
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "other"
    if exe.startswith("java"):
        return "jvm"
    if exe.startswith("python"):
        return "python"
    return "other"


def _cpu_snapshot(root: int) -> dict[int, tuple[str, int, int]]:
    """pid -> (kind, own ticks, ticks of the children it reaped)."""
    out = {}
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            ticks = [int(x) for x in st[11:15]]
            out[pid] = (_kind(pid, root), ticks[0] + ticks[1], ticks[2] + ticks[3])
    return out


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Per process kind, the sum of each process's peak resident set
    (VmHWM) in MB."""
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0, "other": 0.0}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[_kind(pid, root)] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to others while this VM's CPUs wanted
    to run, summed over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


class CpuWindow:
    """CPU seconds per process kind between ``start()`` and ``stop()``.

    A process that exits inside the window is credited, through the
    reaped-children ticks of its parent, with its whole lifetime; the
    part it had used before the window is taken off again (a reaped
    process is counted under its parent's kind: Python workers are
    reaped by the Python daemon)."""

    def __init__(self, root: int):
        self.root = root

    def start(self) -> None:
        self._t = time.monotonic()
        self._s = _cpu_snapshot(self.root)

    def stop(self) -> dict[str, float]:
        wall = time.monotonic() - self._t
        now = _cpu_snapshot(self.root)
        ticks = {"driver": 0, "jvm": 0, "python": 0, "other": 0}
        for pid, (kind, own, child) in now.items():
            _, own0, child0 = self._s.get(pid, (kind, 0, 0))
            ticks[kind] += own - own0 + child - child0
        for pid, (kind, own0, child0) in self._s.items():
            if pid not in now:
                ticks[kind] -= own0 + child0
        d = {k: v / _TCK for k, v in ticks.items()}
        d["total"] = sum(d.values())
        d["util"] = d["total"] / (wall * len(os.sched_getaffinity(0)))
        return d


# -- Spark statusTracker ---------------------------------------------------
class JobWindow:
    """Spark jobs and completed tasks between ``start()`` and ``stop()``,
    from job-id deltas on the status tracker (no job is added)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def _max_job(self) -> int:
        return max(self.tracker.getJobIdsForGroup(None), default=-1)

    def start(self) -> None:
        self._first = self._max_job() + 1

    def stop(self) -> dict[str, int]:
        last = self._max_job()
        stages: set[int] = set()
        for job in range(self._first, last + 1):
            info = self.tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for sid in stages:
            info = self.tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": last + 1 - self._first, "tasks": tasks}


# -- spans ---------------------------------------------------------------
class Tracer:
    """In-memory spans: name, start, end, parent, run id. Written out by
    the caller when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._stack.__dict__.setdefault("s", [])
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "start": time.monotonic(),
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace the instance's bound method ``attr`` by a spanned one."""
        fn = getattr(obj, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, attr, spanned)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
