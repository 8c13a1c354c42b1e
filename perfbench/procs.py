"""Outside-in process sampler: CPU and memory of the Spark JVM and its
Python workers, read from ``/proc`` without touching the program.

The measured tree is the JVM this process started plus every descendant
(the ``pyspark.daemon`` and the workers it forks). CPU is ``utime + stime``
of each live process plus ``cutime + cstime`` (children already reaped), so
workers that exit between samples keep their CPU in the total.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _subtree(root: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def find_jvm() -> int:
    """Pid of the Spark JVM this process started."""
    kids = _children()
    for pid in _subtree(os.getpid(), kids):
        if "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid):
            return pid
    raise RuntimeError("no Spark JVM found under this process")


def _cpu_rss(pid: int) -> tuple[float, int]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/statm") as f:
            rss_pages = int(f.read().split()[1])
    except OSError:
        return 0.0, 0
    # fields[11:15] are utime, stime, cutime, cstime (stat fields 14-17)
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / _TICK, rss_pages * _PAGE


class TreeSnapshot:
    """CPU seconds of the JVM tree and of its Python-worker subtree at one
    instant."""

    def __init__(self, jvm: int):
        kids = _children()
        self.cpu_s = sum(_cpu_rss(p)[0] for p in _subtree(jvm, kids))
        self.worker_cpu_s = 0.0
        # the daemon is the JVM's direct child; the workers it forks share
        # its command line, so only the top one roots the worker subtree
        for pid in kids.get(jvm, ()):
            if "pyspark.daemon" in _cmdline(pid):
                self.worker_cpu_s += sum(
                    _cpu_rss(p)[0] for p in _subtree(pid, kids))


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _thread_children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


class Sampler:
    """Samples the tree's memory every ``interval_s`` between ``start()`` and
    ``stop()``; reports CPU used and peak memory in that window.

    Memory is the JVM's resident set plus the proportional set (PSS) of the
    Python daemon and its workers: forked workers share most pages with the
    daemon, and summing their resident sets would count those pages once per
    worker. A sample reads only the JVM and the daemon's children, so the
    sampler stays off the driver's interpreter lock for all but a few ms.
    """

    def __init__(self, jvm: int, interval_s: float = 0.25):
        self.jvm = jvm
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._first: TreeSnapshot | None = None
        self._last: TreeSnapshot | None = None

    def _daemons(self) -> list[int]:
        return [p for p in _children().get(self.jvm, ())
                if "pyspark.daemon" in _cmdline(p)]

    def sample_bytes(self, daemons: list[int]) -> int:
        total = _cpu_rss(self.jvm)[1]
        for d in daemons:
            total += _pss_bytes(d)
            total += sum(_pss_bytes(w) for w in _thread_children(d))
        return total

    def _run(self) -> None:
        daemons, rescan = self._daemons(), time.monotonic() + 2.0
        while not self._stop.wait(self.interval_s):
            if time.monotonic() > rescan:
                daemons, rescan = self._daemons(), time.monotonic() + 2.0
            self.peak_rss_bytes = max(self.peak_rss_bytes,
                                      self.sample_bytes(daemons))

    def start(self) -> None:
        self._first = TreeSnapshot(self.jvm)
        self.peak_rss_bytes = self.sample_bytes(self._daemons())
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._last = TreeSnapshot(self.jvm)
        self.peak_rss_bytes = max(self.peak_rss_bytes,
                                  self.sample_bytes(self._daemons()))

    @property
    def cpu_s(self) -> float:
        return self._last.cpu_s - self._first.cpu_s

    @property
    def worker_cpu_s(self) -> float:
        return self._last.worker_cpu_s - self._first.worker_cpu_s


def stop_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every process this one started to exit; kill what is left
    after ``timeout_s``."""
    me = os.getpid()
    end = time.monotonic() + timeout_s
    while True:
        left = [p for p in _subtree(me, _children()) if p != me]
        if not left:
            return
        if time.monotonic() > end:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = float("inf")
        time.sleep(0.1)
