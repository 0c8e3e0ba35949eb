"""Process-tree CPU and memory readings from Linux ``/proc``.

In local mode the whole engine is this benchmark's process tree: the
driver Python, the JVM (executors are its threads) and the pyspark
daemon with its forked Python workers. Readings cover every live
process in that tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _TICK


def _snapshot() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds, comm) for every readable process.

    CPU is utime+stime plus cutime+cstime, so a child that exited and
    was reaped inside the tree (a retired Python worker) keeps counting.
    """
    procs = {}
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # raced a process exit
        head, rest = stat.rsplit(")", 1)
        f = rest.split()
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
        procs[int(pid_s)] = (int(f[1]), cpu, head.split("(", 1)[1])
    return procs


def _tree(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
            stack.extend(kids.get(pid, ()))
    return out


def _is_pyworker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
        return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd
    except OSError:
        return False


class TreeReading:
    """One reading of the tree: total CPU and pyspark-worker CPU."""

    def __init__(self):
        procs = _snapshot()
        pids = _tree(procs, os.getpid())
        self.cpu_s = sum(procs[p][1] for p in pids)
        self.pyworker_cpu_s = sum(
            procs[p][1] for p in pids if procs[p][2].startswith("python") and _is_pyworker(p)
        )


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # raced a process exit
    return 0


def tree_pss_bytes(root: int) -> int:
    """Proportional resident memory of the tree: pages shared between
    processes (the forked pyspark workers) count once in total."""
    return sum(_pss_bytes(p) for p in _tree(_snapshot(), root))


class PeakRss:
    """Samples the tree's resident memory (PSS) on a background thread
    while active."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

