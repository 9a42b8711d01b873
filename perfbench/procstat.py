"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's driver process starts the Spark JVM, which starts the
Python daemon, which forks the Python UDF workers. All of them do the
work being measured, so CPU and memory are summed over the whole tree
rooted at this process.

CPU of a worker that exits mid-run is not lost: once its parent reaps
it, the kernel folds its time into the parent's ``cutime``/``cstime``,
which are counted here too. A process still in the tree is counted by
its own ``utime``/``stime``, so every CPU second is counted exactly once.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in ticks), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces or parens: fields start after
    # the last ')'. rest[0] is field 3 (state), so field n is rest[n - 3].
    rest = data[data.rindex(b")") + 2 :].split()
    return int(rest[1]), sum(int(v) for v in rest[11:15])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError):
        return 0


def tree_pids(root: int) -> list[int]:
    """root and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pin_tree(root: int, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of every process in the tree.

    Affinity is per thread, and a new thread or process inherits it from
    the thread that starts it; the tree is walked a few times so threads
    started during a walk are caught by the next."""
    for _ in range(3):
        for pid in tree_pids(root):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except FileNotFoundError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except ProcessLookupError:
                    pass


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        st = _read_stat(pid)
        if st is not None:
            ticks += st[1]
    return ticks / _CLK_TCK


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(pid) for pid in tree_pids(root))


class PeakRss:
    """Largest resident memory of the tree seen between enter and exit.

    A sampling thread sums the resident set sizes over the tree every
    ``interval_s``; pages a forked worker shares with its parent count
    once per process.
    """

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
