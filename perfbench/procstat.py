"""Resident memory and CPU time of the Spark JVM and its Python workers,
and the host's stolen CPU time, read from /proc.

The JVM is the process the PySpark gateway launched; the Python UDF
workers are its descendants.  `Sampler` polls the summed RSS of that
process tree on a thread while a run executes and keeps the peak.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def _tree(root: int) -> dict[int, list[str]]:
    """stat fields of `root` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[2]), []).append(pid)  # st[2] = ppid
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def rss_mb(root: int) -> float:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


def cpu_s(root: int) -> tuple[float, float]:
    """(JVM, Python workers) CPU seconds so far.  Python time includes
    that of exited workers their parent has reaped (cutime/cstime)."""
    jvm = py = 0
    for pid, st in _tree(root).items():
        # fields 14-17 of stat: utime stime cutime cstime
        own, reaped = int(st[12]) + int(st[13]), int(st[14]) + int(st[15])
        if pid == root:
            jvm += own
        elif st[0].startswith("python"):
            py += own + reaped
    return jvm / _TICK, py / _TICK


def host_steal() -> tuple[int, int]:
    """(all CPU ticks, ticks stolen by the hypervisor) of the whole
    machine so far: the share stolen tells how contended the host was."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


class Sampler:
    """Polls `rss_mb(root)` every `interval` seconds; `peak` is the
    highest value seen since the last `reset`."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root, self.interval = root, interval
        self.peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            now = rss_mb(self.root)
            with self._lock:
                self.peak = max(self.peak, now)

    def reset(self) -> None:
        now = rss_mb(self.root)
        with self._lock:
            self.peak = now

    def __enter__(self) -> "Sampler":
        self.reset()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
