"""Process-tree walk, CPU clock and memory sampler for one benchmark run
(the host stamp is bench.py's ``HostStamp``)."""

from __future__ import annotations

import multiprocessing
import os
import random
import threading
import time


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass  # the process ended between listing and reading
    return out


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (driver JVM, Python workers)."""
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found.extend(kids)
        todo.extend(kids)
    return found


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(v) for v in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (driver Python, JVM with its JIT and GC threads, Python workers). Time
    the hypervisor steals from a vCPU is not in it."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in (me, *descendants(me))) / _TICKS_PER_S


def _reference_task(_: int) -> float:
    """Fixed CPU work that calls nothing of the program: an integer loop
    and a sort of a 3 MB list. Returns the CPU seconds it took."""
    t = time.process_time()
    x = 0
    for i in range(400_000):
        x = (x * 31 + i) % 1_000_003
    rng = random.Random(x)
    sorted(rng.random() for _ in range(100_000))
    return time.process_time() - t


class HostClock:
    """How fast this host runs fixed code right now. ``n`` worker
    processes, forked before Spark starts, each run ``_reference_task``
    ``TASKS`` times per ``tick``; a tick returns the mean CPU seconds of
    those tasks. On a shared virtual host the same code runs up to a
    third faster or slower for tens of seconds to minutes at a time, in
    CPU time as in wall time; dividing the CPU time of operations by the
    median tick taken between them takes much of that drift out."""

    #: reference tasks per worker and tick
    TASKS = 2

    def __init__(self, n: int):
        self.n = n
        self._pool = multiprocessing.get_context("fork").Pool(n)
        self.pids = {p.pid for p in multiprocessing.active_children()}

    def tick(self) -> float:
        k = self.n * self.TASKS
        return sum(self._pool.map(_reference_task, range(k), chunksize=1)) / k

    def close(self) -> None:
        self._pool.close()
        self._pool.join()


#: seconds between two RSS samples
SAMPLE_S = 0.1


class RssSampler:
    """Samples the summed RSS of this process and all its descendants but
    ``exclude`` on one background thread and keeps the peak."""

    def __init__(self, exclude: set[int] = frozenset()):
        self.exclude = exclude
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        # a process counts from its second sample on: a child the JVM
        # spawns shares the JVM's memory until it execs, and would
        # otherwise count the whole heap twice for a moment
        me = os.getpid()
        seen: set[int] = set()
        while not self._stop.is_set():
            pids = set(descendants(me)) - self.exclude
            total = sum(_rss_kb(p) for p in (pids & seen) | {me})
            self.peak_kb = max(self.peak_kb, total)
            seen = pids
            self._stop.wait(SAMPLE_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
