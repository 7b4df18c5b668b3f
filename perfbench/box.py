"""What the benchmark records about the machine and process it ran on:
the box record printed with every result, CPU steal from
``/proc/stat``, and the peak resident memory of the driver JVM plus
its Python workers."""

from __future__ import annotations

import os
import platform
import threading
import time


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    ``cpu_times()`` samples, in percent (field 8 of the ``cpu`` line)."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may contain spaces; ppid follows ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, in MB."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the resident memory of a process tree (the driver JVM;
    its Python workers are its children) every ``interval`` seconds on
    a daemon thread and keeps the peak.  Use as a context manager."""

    def __init__(self, root_pid: int, interval: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))


def box_record(spark, seed: int) -> dict:
    """The same-box comparison key written with every result; the
    caller adds steal and load average measured over the run."""
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
