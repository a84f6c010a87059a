"""Host and process diagnostics from /proc: CPU time and resident memory of
this process tree (the benchmark process, its JVM and the JVM's Python
workers), and
the host's steal time and load average."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def tree(root: int | None = None) -> list[int]:
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def tree_cpu_s() -> float:
    """utime + stime of every live process in the tree, plus what each has
    collected from its reaped children."""
    total = 0
    for p in tree():
        f = _stat_fields(p)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for p in tree():
        f = _stat_fields(p)
        if f:
            total += int(f[21])  # rss in pages
    return total * _PAGE / 2**20


def alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def host_steal_s() -> float:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class RssSampler:
    """Peak summed RSS of the tree, sampled on a thread every ``interval``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="cdcbench-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def start(self) -> None:
        self.peak_mb = tree_rss_mb()
        self._t.start()

    def stop(self) -> None:
        self._stop.set()
        self._t.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
