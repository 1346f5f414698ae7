"""The benchmark's process tree: peak RSS and an orderly Spark shutdown.

Linux only (reads ``/proc``). The tree is this driver process, the JVM that
PySpark launched and the Python workers the JVM forked.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 is the ppid; the command name (field 2) may hold spaces
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak over samples of the tree's summed RSS, sampled at operation
    boundaries."""

    def __init__(self):
        self.pid = os.getpid()
        self.peak_kb = 0

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in [self.pid] + descendants(self.pid))
        self.peak_kb = max(self.peak_kb, total)

    def mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


STOP_TIMEOUT_S = 60.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait until every process it
    started has exited (killing what outlives ``STOP_TIMEOUT_S``)."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while any(_alive(p) for p in tree) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in tree:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + 10.0
        while any(_alive(p) for p in tree) and time.monotonic() < deadline:
            time.sleep(0.1)
