"""Process-tree memory sampling and teardown, read from /proc (no psutil)."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_time() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its waited-for children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, ValueError, IndexError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the Spark JVM and its Python workers).  Time the host steals from
    the VM is not charged to them."""
    me = os.getpid()
    ticks = sum(_cpu_ticks(p) for p in [me] + descendants(me))
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class PeakRss:
    """Background sampler of the summed RSS of this process's
    descendants: the Spark JVM and its Python workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this benchmark started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def reap(pids: list[int], grace: float = 30.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``grace``."""
    for deadline, kill in ((time.time() + grace, False), (time.time() + grace + 10, True)):
        while True:
            left = [p for p in pids if _alive(p)]
            for p in left if kill else ():
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass  # collect our own exited children
            except ChildProcessError:
                pass
            if not left or time.time() > deadline:
                break
            time.sleep(0.1)
        if not left:
            return
