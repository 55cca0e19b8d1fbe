"""Process-tree accounting from /proc: CPU seconds and resident memory of
this process plus every descendant (the Spark JVM, the PySpark worker
daemon and its Python workers), and the single-thread contention probe.

CPU of a child that has exited and been reaped by a parent inside the tree
is carried in that parent's cutime/cstime, so the tree total never drops
when Python workers come and go.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:                    # exited between listdir and open
        return None
    # comm (field 2) may hold spaces or parens: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _table() -> tuple[dict[int, list[str]], dict[int, list[int]]]:
    """(stat fields by pid, children by pid) of every live process."""
    fields: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is None:
            continue
        fields[int(name)] = f
        children.setdefault(int(f[1]), []).append(int(name))   # field 4: ppid
    return fields, children


def _subtree(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Live descendants of this process."""
    return _subtree(_table()[1], os.getpid())[1:]


def is_zombie(pid: int) -> bool:
    f = _stat_fields(str(pid))
    return f is None or f[0] == "Z"


def tree_usage() -> tuple[float, int]:
    """(cpu_seconds, rss_bytes) summed over this process and its descendants."""
    fields, children = _table()
    cpu_ticks = rss_pages = 0
    for pid in _subtree(children, os.getpid()):
        f = fields.get(pid)
        if f is not None:
            # fields 14-17: utime stime cutime cstime; field 24: rss pages
            cpu_ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            rss_pages += int(f[21])
    return cpu_ticks / _TICK, rss_pages * _PAGE


class PeakRss:
    """Background sampler of the tree's resident memory while active."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_usage()[1])
            if self._stop.wait(self.interval_s):
                return


def cpu_probe() -> float:
    """Single-thread fixed-work contention witness: the same loop as the
    repository's bench harness probe (about 1 s on an idle core)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i & 1023
    return time.perf_counter() - t0


def witness() -> dict[str, float]:
    """Contention witness recorded beside every run; reported, never gated."""
    return {"probe_s": cpu_probe(), "loadavg_1m": os.getloadavg()[0],
            "nproc": float(nproc())}


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))
