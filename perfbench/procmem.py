"""Peak resident memory of this process tree, sampled from ``/proc``.

The tree is the benchmark's own Python driver, the Spark JVM it launches
and the Python workers the JVM forks. ``psutil`` is not available, so the
sampler walks ``/proc/<pid>/stat`` for parent links and sums
``/proc/<pid>/statm`` resident pages over every descendant.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def _parent_links() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while the table was read
            continue
        # the command name may hold spaces; fields after ")" are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children = _parent_links()
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(children.get(pid, ()))
    return pids


def alive(pid: int) -> bool:
    """The process exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # the process ended while the tree was walked
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system, with those of reaped children) that
    ``root`` and all its descendants have used so far."""
    ticks = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the tree was walked
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICKS


class PeakSampler:
    """Samples :func:`tree_rss_bytes` on a background thread between
    :meth:`start` and :meth:`stop`; ``stop`` returns the peak in bytes."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._peak = 0

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self._peak = max(self._peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._peak = tree_rss_bytes(os.getpid())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        return max(self._peak, tree_rss_bytes(os.getpid()))
