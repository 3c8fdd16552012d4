"""Noise attribution recorded beside every run: job-tree CPU split into JVM
and Python, host steal, JVM GC time, and peak resident memory.

The CPU and steal counters are the repo harness's own (``bench._cpu_times``
and ``bench._tree_jiffies``), imported rather than copied, so a drifted set
of runs reads the same way here as in ``bench.py``: job CPU near
``cores x wall`` means the job burned the time; steal or low job CPU means
the host did.
"""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time
from dataclasses import dataclass

import bench

HZ = bench.HZ


@dataclass
class Cpu:
    """Job-tree CPU seconds (total / JVM / Python) plus host steal and total
    jiffies, as cumulative counters; subtract two readings for a window."""

    total: float
    java: float
    python: float
    steal_j: int
    host_j: int

    @classmethod
    def now(cls) -> "Cpu":
        steal, host = bench._cpu_times()
        t = bench._tree_jiffies()
        return cls(t["total"] / HZ, t["java"] / HZ, t["python"] / HZ,
                   steal, host)

    def __sub__(self, o: "Cpu") -> "Cpu":
        return Cpu(self.total - o.total, self.java - o.java,
                   self.python - o.python, self.steal_j - o.steal_j,
                   self.host_j - o.host_j)

    def __add__(self, o: "Cpu") -> "Cpu":
        return Cpu(self.total + o.total, self.java + o.java,
                   self.python + o.python, self.steal_j + o.steal_j,
                   self.host_j + o.host_j)

    def steal_pct(self) -> float:
        return 100.0 * self.steal_j / max(1, self.host_j)


def gc_seconds() -> float:
    """Cumulative stop-the-world GC seconds of the driver JVM (JMX beans).
    Read through the py4j gateway, which outlives a stopped session."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return 0.0
    beans = gw.jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def full_gc() -> None:
    """A full collection of the driver JVM's heap, so a measured phase does
    not inherit the garbage of the sessions before it."""
    from pyspark import SparkContext

    SparkContext._gateway.jvm.java.lang.System.gc()


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway down and wait for the JVM process to exit, so
    the run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, VmRSS kB, state letter) of every live process."""
    table: dict[int, tuple[int, int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                txt = f.read()
        except OSError:
            continue
        ppid, rss, state = 0, 0, "?"
        for line in txt.splitlines():
            if line.startswith("PPid:"):
                ppid = int(line.split()[1])
            elif line.startswith("VmRSS:"):
                rss = int(line.split()[1])
            elif line.startswith("State:"):
                state = line.split()[1]
        table[int(d)] = (ppid, rss, state)
    return table


def _descendants(root: int, table: dict[int, tuple[int, int, str]]) -> list[int]:
    """Pids of every process below ``root`` in ``table``."""
    out = []
    for pid in table:
        p = pid
        for _ in range(64):
            p = table[p][0] if p in table else 0
            if p == root:
                out.append(pid)
                break
            if p <= 1:
                break
    return out


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants."""
    table = _proc_table()
    return sum(table[p][1] for p in [root, *_descendants(root, table)] if p in table)


def adopt_orphans() -> None:
    """Make this process the reaper of every descendant whose parent exits
    first (Linux ``PR_SET_CHILD_SUBREAPER``), so :func:`stop_children` can
    wait for the Python workers a stopped JVM leaves behind."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def stop_children(grace_s: float = 5.0, kill_s: float = 10.0) -> None:
    """Stop every process the run started and wait until each has ended:
    the multiprocessing resource tracker the corpus pool starts, then any
    descendant still alive. Descendants get ``grace_s`` to exit on their
    own, then SIGTERM, then SIGKILL after ``kill_s``."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        table = _proc_table()
        left = _descendants(me, table)
        waited = time.monotonic() - t0
        if not left or waited > grace_s + kill_s + 5.0:
            return
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + kill_s else signal.SIGTERM
            for p in left:
                if table[p][2] != "Z":  # a zombie waits for its parent
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, sig)
        time.sleep(0.05)


class PeakRss:
    """Background sampler of the job tree's summed resident memory."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wall() -> float:
    return time.perf_counter()
