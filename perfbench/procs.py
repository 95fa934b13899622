"""Process-tree CPU and memory accounting from ``/proc``.

The benchmark's process tree is this interpreter (the Spark driver), the
JVM it launches, PySpark's Python daemon and the daemon's forked UDF
workers.
CPU time is ``utime + stime + cutime + cstime`` summed over the tree, so a
worker that exits inside a window still counts once its parent reaps it.
Memory is the summed resident set size, sampled by a background thread.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:  # the process exited between listing and reading
        return None
    # fields after "pid (comm)"; comm may itself hold spaces or parens
    return raw[raw.rfind(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """``pid -> stat fields`` for ``root`` and all its descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
    return sum(sum(int(x) for x in f[11:15])
               for f in tree(root).values()) / _TICK


def rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in tree(root).values()) * _PAGE


def set_affinity(root: int, cpus: set[int]) -> None:
    """Confine every thread of every process in the tree to ``cpus``;
    threads and processes started later inherit the mask."""
    for pid in tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # thread exited
                pass


class TreeMonitor:
    """Samples the tree's summed RSS every ``interval`` seconds and
    measures CPU time and peak RSS over :meth:`window` blocks."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            rss = rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)

    @contextmanager
    def window(self):
        """Yields a dict that holds ``cpu_s`` and ``peak_rss_mb`` of the
        block once it exits."""
        res: dict[str, float] = {}
        with self._lock:
            self._peak = rss_bytes(self.root)
        cpu0 = cpu_seconds(self.root)
        yield res
        res["cpu_s"] = cpu_seconds(self.root) - cpu0
        with self._lock:
            self._peak = max(self._peak, rss_bytes(self.root))
            res["peak_rss_mb"] = self._peak / 2**20
