"""Host-side probes: resident memory of the benchmark's process tree (the
Python driver, the local-mode JVM and its Python workers) and the share of
the machine's CPU that went to processes outside that tree."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, utime+stime jiffies, resident pages) for every visible
    process; processes that exit mid-scan are skipped."""
    out: dict[int, tuple[int, int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2 :].split()
        # fields after the command: state ppid ... utime(12) stime(13) ... rss(22)
        out[int(name)] = (int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[21]))
    return out


def _subtree(table: dict[int, tuple[int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        if pid in table:
            out.append(pid)
        frontier.extend(children.get(pid, ()))
    return out


def tree_rss_bytes() -> int:
    table = _proc_table()
    return sum(table[p][2] for p in _subtree(table, os.getpid())) * _PAGE


def _kernel_thread_root() -> int | None:
    try:
        with open("/proc/2/comm") as f:
            return 2 if f.read().strip() == "kthreadd" else None
    except OSError:
        return None


def _cpu_snapshot() -> tuple[int, int, int, int]:
    """(total, idle, ours, kernel threads) jiffies.  Kernel threads
    (kthreadd's subtree, when visible) mostly service our own allocations,
    so they are not counted as outside load."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    table = _proc_table()
    ours = sum(table[p][1] for p in _subtree(table, os.getpid()))
    kroot = _kernel_thread_root()
    kthreads = sum(table[p][1] for p in _subtree(table, kroot)) if kroot else 0
    return sum(vals), vals[3] + vals[4], ours, kthreads


class ExternalCpu:
    """Fraction of all CPU jiffies over an interval spent by processes
    outside our tree.  Recorded beside each timed pass; never used to drop
    a pass."""

    def __enter__(self) -> "ExternalCpu":
        self._start = _cpu_snapshot()
        self.frac = 0.0
        return self

    def __exit__(self, *exc) -> None:
        t1, i1, o1, k1 = _cpu_snapshot()
        t0, i0, o0, k0 = self._start
        total = max(1, t1 - t0)
        busy = total - (i1 - i0)
        self.frac = max(0.0, busy - (o1 - o0) - (k1 - k0)) / total


class PeakRss:
    """Samples the tree's resident memory on a background thread while
    active; `peak_bytes` is the largest sample seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
