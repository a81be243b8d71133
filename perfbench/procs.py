"""Process-tree helpers: peak-RSS sampling and orderly shutdown.

The benchmark's process tree is the Python driver, the JVM it launches
through py4j, and the Python workers the JVM forks. ``/proc`` is read
directly so no extra package is needed.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    parents = _ppid_map()
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss(root: int) -> list[int]:
    """RSS in bytes of ``root`` and of each of its descendants."""
    return [_rss_bytes(p) for p in [root, *descendants(root)]]


class PeakRss:
    """Samples the summed RSS of this process and its descendants on a
    background thread; ``peak_mb`` is the largest sample since ``start``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> PeakRss:
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _sample(self) -> None:
        now = tree_rss(os.getpid())
        if sum(now) > sum(self.peak):
            self.peak = now

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def stop(self) -> dict:
        """Peak summed RSS in MB, with the process count and the largest
        single process at that moment."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return {"peak_rss_mb": sum(self.peak) / 2**20, "peak_procs": len(self.peak),
                "peak_largest_mb": max(self.peak) / 2**20}


def shutdown_jvm(timeout_s: float = 30.0) -> None:
    """Stop the py4j gateway JVM and wait until it and every process it
    forked (Python workers) have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin reaches EOF
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in tree:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                deadline = time.monotonic() + timeout_s
            time.sleep(0.05)
    # reap any direct children that exited meanwhile
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")
