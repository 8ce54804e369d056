"""CPU seconds and resident memory of a process tree, read from /proc.

Spark's "Executor CPU Time" counts only JVM task threads; the Python
workers that run the engine's pandas UDFs and barrier tasks are
invisible to it.  Summing ``utime + stime + cutime + cstime`` over the
bench process and all its descendants (driver JVM, PySpark daemon,
Python workers) counts them all: a child that exits is reaped by its
parent, whose ``cutime``/``cstime`` then carry its time.
"""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(line: str) -> tuple[int, int, int, str]:
    """``(ppid, cpu_ticks, rss_pages, state)`` from one
    ``/proc/<pid>/stat`` line.  The command name may contain spaces and
    parentheses, so the fields are counted from the last ``)``."""
    rest = line[line.rindex(")") + 2:].split()
    ppid = int(rest[1])
    ticks = sum(int(v) for v in rest[11:15])     # utime stime cutime cstime
    return ppid, ticks, int(rest[21]), rest[0]


def _snapshot() -> dict[int, tuple[int, int, int, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = parse_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue                             # exited while listing
    return out


def tree_usage() -> tuple[float, int]:
    """``(cpu_seconds, rss_bytes)`` summed over this process and every
    descendant alive now."""
    snap = _snapshot()
    tree = _tree(snap, os.getpid())
    ticks = sum(snap[pid][1] for pid in tree)
    rss = sum(snap[pid][2] for pid in tree)
    return ticks / CLK_TCK, rss * PAGE_SIZE


def _tree(snap: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in snap.items():
        children.setdefault(fields[0], []).append(pid)
    out, todo = [], [root] if root in snap else []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def end_descendants(timeout_s: float) -> None:
    """Wait up to ``timeout_s`` for every descendant of this process to
    exit, then SIGKILL the rest and wait for them to go."""
    me = os.getpid()

    def alive():
        snap = _snapshot()
        return [p for p in _tree(snap, me) if p != me and snap[p][3] != "Z"]

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)


def tree_cpu_s() -> float:
    return tree_usage()[0]


def parse_system_busy(line: str) -> int:
    """Busy ticks from the ``cpu`` line of ``/proc/stat``: user, nice,
    system, irq, softirq and steal (time the hypervisor ran something
    else on our virtual CPUs).  Idle and iowait are left out; guest time
    is already inside user."""
    f = [int(v) for v in line.split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6] + f[7]


def system_busy_s() -> float:
    """CPU seconds the whole machine has been busy, every process of
    every container on this kernel included."""
    with open("/proc/stat") as fh:
        return parse_system_busy(fh.readline()) / CLK_TCK


def foreign_cpus(busy_s: float, tree_cpu_s: float, wall_s: float) -> float:
    """The average number of CPUs that everything outside this process
    tree (other processes, and the hypervisor's steal) used during a
    span in which the machine was busy for ``busy_s`` and the tree used
    ``tree_cpu_s``.  Never below 0: a child reaped during the span
    brings CPU time from before it into the tree's count."""
    return max(0.0, busy_s - tree_cpu_s) / wall_s if wall_s > 0 else 0.0


def uncontended_wall_s(wall_s: float, foreign_cpus: float, cpus: int,
                       synchronous: bool) -> float:
    """An estimate of ``wall_s`` on an otherwise idle machine, for a call
    that lost ``foreign_cpus`` of ``cpus`` CPUs to other processes.

    Scoring calls run independent tasks on every CPU (their CPU time is
    3 to 3.7 times their wall time on 4 CPUs): they slow by the share of
    the machine lost, ``n / (n - f)``, so the estimate is
    ``wall * (1 - f / n)``, with ``f`` capped at ``n - 1``.  A fit is
    ``synchronous``: the barrier ranks meet at every allreduce and the
    DataFrame path's driver waits for each stage's last task, so one
    rank pushed off its CPU holds up all the others.  Regression fits on
    a loaded 4-CPU machine ran 1.3 to 2.0 times slower than unloaded
    ones while 0.4 to 0.9 CPUs went elsewhere, about ``1 + f`` times, so
    the estimate is ``wall / (1 + f)``."""
    if synchronous:
        return wall_s / (1.0 + foreign_cpus)
    f = min(foreign_cpus, cpus - 1)
    return wall_s * (1.0 - f / cpus)


class PeakRss:
    """Samples the tree's summed RSS on a background thread and keeps
    the maximum, overall and per window (see :meth:`take`).  Use as a
    context manager."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._window_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_usage()[1]
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)
            self._window_bytes = max(self._window_bytes, rss)

    def take(self) -> int:
        """The peak since the previous call (or the start); starts a new
        window."""
        self._sample()
        with self._lock:
            peak, self._window_bytes = self._window_bytes, 0
        return peak

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
