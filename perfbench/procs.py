"""Process-tree bookkeeping: CPU time, peak memory sampling and orderly
shutdown.

The benchmark's process tree is this Python driver, the JVM it launches
and the Python workers the JVM forks. The helpers read /proc directly.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (not root itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields 14-17 of stat (utime stime cutime cstime), counted after the name
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, its live descendants and
    the children they have reaped: the JVM and its Python workers."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *descendants(me)]) / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall seconds and process-tree CPU seconds of one timed region."""

    def __enter__(self) -> "Clock":
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s() - self._cpu0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: RSS with each shared page split among its
    sharers, so the forked Python workers (and a JVM's short-lived forks)
    are not counted twice when summed."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed memory (PSS) of this process and its descendants."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: list[int] = []  # per-process PSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            mem = [_pss_bytes(p) for p in [me, *descendants(me)]]
            if sum(mem) > self.peak_bytes:
                self.peak_bytes = sum(mem)
                self.peak_parts = sorted(mem, reverse=True)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, then wait until every process they
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        SparkContext._gateway = None
        SparkContext._jvm = None
    _wait_gone(started, timeout_s)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our own exited child
    except ChildProcessError:
        pass
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; kill the ones that outlive the timeout."""
    deadline = time.monotonic() + timeout_s
    while (left := [p for p in pids if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while [p for p in left if _alive(p)] and time.monotonic() < deadline + 10:
        time.sleep(0.1)
