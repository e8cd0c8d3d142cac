"""Host and process facts read from ``/proc`` (``psutil`` is not
available): the host block every artifact records, peak memory over a
timed pass, and the CPU split between the JVM, its Python workers and
the driver."""

from __future__ import annotations

import gc
import os
import platform
import time


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's when asked)."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_hwm(pid: int) -> None:
    """Restart ``VmHWM`` of ``pid`` from its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


class PeakMemory:
    """Peak memory of the driver process and its JVM over one pass.

    The benchmark commits and touches the whole JVM heap at start (see
    ``run.HEAP_SHARE``), so the JVM's resident size holds the heap as a
    constant. What the program moves is reported instead: the driver's
    ``VmHWM``, the JVM's ``VmHWM`` above its committed heap (metaspace,
    code, threads, direct buffers, GC structures) and the heap still in
    use after a full collection at the end of the pass. The heap pools'
    own peaks are kept for reference only: the young generation fills
    to the size the collector chose and the old one to the occupancy
    at which G1 starts marking, whatever the program does. ``start``
    collects garbage and restarts every peak, so set-up does not
    count."""

    COLLECTIONS = 3
    CLEANER_WAIT_S = 0.5

    def __init__(self, spark, jvm_pid: int | None):
        self._jvm = spark.sparkContext._jvm
        self._pid = jvm_pid

    def _heap_pools(self):
        mf = self._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def start(self) -> None:
        gc.collect()
        self._jvm.System.gc()
        for pool in self._heap_pools():
            pool.resetPeakUsage()
        reset_hwm(os.getpid())
        if self._pid:
            reset_hwm(self._pid)

    def read(self) -> tuple[float, dict[str, float]]:
        """Memory in MiB over the pass, and its parts (with the heap
        pools' peaks, which the total leaves out). ``driver_py`` is also
        reported on its own, as ``driver_peak_rss_mb``."""
        mib = 2.0**20
        parts = {"driver_py": vm_hwm_mb(os.getpid())}
        total = parts["driver_py"]
        if self._pid:
            mx = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            parts["jvm_off_heap"] = vm_hwm_mb(self._pid) - mx.getHeapMemoryUsage().getCommitted() / mib
            for pool in self._heap_pools():
                parts[f"peak.{pool.getName()}"] = pool.getPeakUsage().getUsed() / mib
            # Python's handles keep JVM objects alive until Python collects
            # them, and Spark frees broadcast and shuffle blocks only once
            # a collection has found their handles unreachable; so collect
            # Python, then the JVM again after its cleaner has had time to run.
            gc.collect()
            for _ in range(self.COLLECTIONS):
                self._jvm.System.gc()
                time.sleep(self.CLEANER_WAIT_S)
            parts["jvm_heap_live"] = mx.getHeapMemoryUsage().getUsed() / mib
            total += parts["jvm_off_heap"] + parts["jvm_heap_live"]
        return total, parts


def cpu_split(jvm_pid: int | None) -> dict[str, float]:
    """Cumulative CPU seconds: JVM, Python workers under the JVM, driver."""
    out = {"cpu.driver_py_s": cpu_seconds(os.getpid()), "cpu.jvm_s": 0.0, "cpu.py_workers_s": 0.0}
    if jvm_pid is None:
        return out
    try:
        out["cpu.jvm_s"] = cpu_seconds(jvm_pid)
    except OSError:
        return out
    for pid in descendants(jvm_pid):
        try:
            out["cpu.py_workers_s"] += cpu_seconds(pid, children=True)
        except OSError:
            pass  # exited between listing and reading
    return out


def meminfo_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_block(spark) -> dict:
    """Cores, memory, load average, pyspark and Java versions."""
    import pyspark

    java = spark.sparkContext._jvm.System.getProperty("java.version")
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_gb": round(meminfo_bytes() / 2**30, 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
    }
