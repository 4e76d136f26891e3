"""Host-side measurements read from /proc: memory of this process tree
(driver, JVM, Python workers) and system-wide CPU time."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we walked /proc
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants: a page
    shared by n processes counts 1/n in each. Plain RSS counts the JVM
    twice while a fork of it exists (a shell command started from the
    JVM), and each forked Python worker's pages shared with the daemon
    once more."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended while we read it
            continue
    return total


class MemorySampler:
    """Samples the memory of this process and all its descendants every
    ``period`` seconds on a daemon thread; ``peak`` is the largest sum
    seen. Reading smaps costs ~10 ms for the JVM and the sampler shares
    the driver's interpreter lock, hence the long period."""

    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(self.period)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_seconds() -> tuple[float, float]:
    """(user, system) CPU seconds of the whole host since boot; user
    includes nice, system includes irq and softirq time."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    user, nice, system, _idle, _iowait, irq, softirq = f
    return (user + nice) / _TICK, (system + irq + softirq) / _TICK


def steal_seconds() -> float:
    """CPU seconds the hypervisor gave this VM's vCPUs to others since
    boot, summed over the vCPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def jvm_gc_and_jit_seconds(spark) -> tuple[float, float]:
    """(GC, JIT compilation) seconds of the driver JVM so far."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans())
    return gc / 1000.0, mx.getCompilationMXBean().getTotalCompilationTime() / 1000.0
