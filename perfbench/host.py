"""Fit the run to the host and record how valid the host was.

Cores come from ``SPARK_GRAFT_CPUS`` or the CPUs this process may run on;
the driver heap is a bounded share of MemTotal. Load, steal and the 4-process
memcpy point are recorded with every result and gate nothing: the memcpy
floor in ``tools/quiet_bench.sh`` was calibrated on a different host.
"""

from __future__ import annotations

import importlib.util
import os
import time

HEAP_SHARE = 0.3
HEAP_MAX_MB = 8192
HEAP_MIN_MB = 2048


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB,
                                int(mem_total_mb() * HEAP_SHARE)))


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (the driver JVM is a child of this
    process, and the Python workers are children of the JVM's daemon)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sorted(tree)


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime+stime of this process tree, plus that of its reaped children.

    Rooted at this process rather than at the topmost java/python ancestor
    that ``joern_spark.hostmetrics`` climbs to: a benchmark launched by a
    Python harness would otherwise count the harness as well."""
    clk = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in rest[11:15])
    return total / clk


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def memcpy_point(seconds: float = 1.0) -> float:
    """The 4-process memcpy throughput from ``tools/hw_calibration.py``'s
    bandwidth leg (64 MiB half-buffer copies per second, summed)."""
    path = os.path.join("tools", "hw_calibration.py")
    spec = importlib.util.spec_from_file_location("hw_calibration", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.throughput(4, seconds, mod._stream)


def jvm_live_heap_mb(spark) -> float:
    """Driver JVM heap in use right after a full collection: the live set
    the session holds (cached frames, checkpoint blocks, broadcasts, plans).
    Peak RSS, by contrast, follows the collector's heap sizing and moved by
    a fifth between runs of the same work.

    Spark's ContextCleaner frees shuffle, broadcast and checkpoint state
    only after a collection has found it unreachable, so the heap is read
    after a second collection that follows the cleaner's pass."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage()
    return usage.getUsed() / 2**20
