"""CPU and memory of this process and everything it started, from /proc.

The tree is the benchmark's Python driver, the Spark JVM it launches and
the JVM's Python workers. CPU counts each live process's own time plus
the time of children it has already reaped, so a worker that exits
between two readings still counts. The JVM's JIT compiler threads are
read apart, because their work is warm-up that a short run cannot finish.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_WORKER_MARKS = (b"pyspark.daemon", b"pyspark.worker")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + reaped children's time, summed over ``pids``."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def jit_threads(pids: list[int]) -> dict[tuple[int, int], float]:
    """CPU seconds of each live JIT compiler thread ("C1/C2 CompilerThreadN")
    of the JVMs in ``pids``, keyed by (pid, tid). The JVM starts and stops
    these threads as its compile queue grows and drains."""
    out = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            ticks = sum(int(x) for x in raw[raw.rindex(")") + 2:].split()[11:13])
            out[(pid, int(tid))] = ticks / _TICK
    return out


def jit_delta(before: dict, after: dict) -> float:
    """JIT CPU spent between two ``jit_threads`` readings. A thread that
    exited in between drops out; its CPU since ``before`` is lost, which
    is little, as the JVM stops only idle compiler threads."""
    return sum(v - before.get(k, 0.0) for k, v in after.items())


def worker_pids(pids: list[int]) -> list[int]:
    """The Python worker processes (daemon and forked workers) in ``pids``."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if any(m in cmd for m in _WORKER_MARKS):
            out.append(pid)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed resident memory until ``stop()``."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self._interval = interval
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(tree()))
            if self._halt.wait(self._interval):
                return

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=5)
        return self.peak
