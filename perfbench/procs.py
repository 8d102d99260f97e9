"""The process tree of one run: summed-RSS sampling and shutdown.

A run is the driver Python process, the JVM that ``get_spark`` launches
and the Python workers the JVM forks. Both helpers read ``/proc``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:  # the process ended between listing and reading
        return 0


class RssSampler(threading.Thread):
    """Samples the summed RSS of ``pid`` and its descendants every
    ``interval`` seconds; ``peak`` is the largest sum seen."""

    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = sum(rss_bytes(p) for p in [self.pid, *descendants(self.pid)])
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until every descendant process has ended; a process still
    alive after ``timeout`` is terminated, then killed."""
    procs = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout)
        except Exception:
            jvm.kill()
            jvm.wait()
    procs += descendants(os.getpid())
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in procs:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + 5.0
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not any(_alive(p) for p in procs):
            return
