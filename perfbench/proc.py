"""Process-tree accounting from ``/proc`` (Linux) and the host canary.

The benchmark's processes are the run script, its ``worker.py`` processes,
their JVMs and the JVMs' Python workers. ``tree_rss_mb`` sums the resident
set of every process below a root; ``tree_cpu_s`` sums user and system CPU,
including that of reaped children.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return (raw[raw.index("(") + 1:raw.rfind(")")],
            raw[raw.rfind(")") + 2:].split())


def _tree(root: int, memory: bool = False) -> list[tuple[int, list[str]]]:
    """``(pid, stat fields)`` of ``root`` and every live process below it.

    With ``memory``, a JVM's children other than Python processes are left
    out: the JVM starts its helpers (``chmod``, ``jspawnhelper``) with
    vfork, so until they exec they share, and report, the JVM's whole
    resident set."""
    stats: dict[int, tuple[str, list[str]]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1][1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        comm, fields = stats[pid]
        out.append((pid, fields))
        for child in children.get(pid, ()):
            if memory and comm == "java" and \
                    not stats[child][0].startswith("python"):
                continue
            todo.append(child)
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    return [pid for pid, _ in _tree(root)]


def pin_tree(root: int, cpus: list[int]) -> None:
    """Set the CPU affinity of every thread of every process below
    ``root`` (``taskset -a -p``); threads and processes they start later
    inherit it."""
    for pid in descendants(root):
        try:
            tids = [int(t) for t in os.listdir(f"/proc/{pid}/task")]
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(tid, cpus)
            except OSError:
                pass  # the thread ended


def tree_rss_mb(root: int) -> float:
    pages = sum(int(fields[21]) for _, fields in _tree(root, memory=True))
    return pages * _PAGE / 2**20


def tree_cpu_s(root: int, include_root: bool = True) -> float:
    """User and system CPU of the tree, with that of reaped children."""
    ticks = sum(sum(int(x) for x in fields[11:15])
                for pid, fields in _tree(root)
                if include_root or pid != root)
    return ticks / _TICK


class PeakRss:
    """Samples the summed RSS of a process tree on a thread while enabled.

    ``resume()``/``pause()`` bracket the timed passes; ``peak_mb`` is the
    largest sum seen while sampling was on."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self.sample()
                time.sleep(self.interval_s)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)

    def resume(self) -> None:
        self._on.set()

    def pause(self) -> None:
        self._on.clear()
        self.sample()  # a pass shorter than the interval still counts


def canary_s(iterations: int = 3_000_000) -> float:
    """Single-thread Python spin, to read the host's speed at run start."""
    t0 = time.perf_counter()
    x = 0
    for _ in range(iterations):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0
