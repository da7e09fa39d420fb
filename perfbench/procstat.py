"""CPU and resident memory of a process tree -- the Spark JVM and the
Python workers it forks -- read from ``/proc``.

The benchmark's own process and its host-probe workers are outside the
tree: they only drive the session, check results and time the host. CPU
includes ``cutime``/``cstime`` so a worker that exits and is reaped
mid-measurement stays counted in its parent's total.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields of ``root`` and all its descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, []))
    return out


def children(parent: int) -> list[int]:
    """Pids whose parent is ``parent``, zombies included."""
    return [int(pid) for pid in os.listdir("/proc")
            if pid.isdigit() and (st := _stat(pid)) is not None
            and int(st[1]) == parent]


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every descendant."""
    # stat fields 14-17 (utime stime cutime cstime); index 11-14 after the
    # name split, which starts at field 3
    return sum(
        int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        for st in _tree(root)
    ) / _TICK


def tree_rss_bytes(root: int) -> int:
    return sum(int(st[21]) for st in _tree(root)) * _PAGE


class PeakRss:
    """Samples the summed RSS of ``root`` and its descendants on a thread
    until the ``with`` block ends."""

    def __init__(self, root: int, interval_s: float = 0.05) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._done.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
