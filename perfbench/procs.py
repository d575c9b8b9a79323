"""Process-tree resource accounting and the per-run host record.

Read from ``/proc`` (Linux), no extra packages. The tree is this
Python process and every descendant: the Spark JVM and the pandas-UDF
Python workers the JVM forks. The workers live for the whole run, so
their CPU never reaches the JVM's ``cutime``; summing over the live
tree counts them.
"""

from __future__ import annotations

import os
import platform
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    lp, rp = s.index("("), s.rindex(")")
    return s[lp + 1:rp], s[rp + 2:].split()


def tree_stats(root: int) -> list[tuple[int, str, float]]:
    """``(pid, comm, cpu_s)`` for ``root`` and its descendants. CPU
    includes reaped children (``cutime``/``cstime``)."""
    stats = {}
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
                kids[int(st[1][1])].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        comm, f = stats[pid]
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        out.append((pid, comm, cpu))
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu(root: int) -> dict:
    """Tree CPU seconds, total and for the pandas-UDF workers alone
    (every Python process below ``root``)."""
    procs = tree_stats(root)
    return {
        "total": sum(p[2] for p in procs),
        "udf": sum(cpu for pid, comm, cpu in procs
                   if pid != root and comm.startswith("python")),
    }


def tree_peak_rss(root: int) -> int:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``, kept by the kernel): an upper bound on the tree's
    simultaneous peak that needs no sampling."""
    total = 0
    for pid, *_ in tree_stats(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def cpu_times() -> tuple[int, int]:
    """``(steal, total)`` jiffies over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already inside user/nice
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far, via JMX."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def host_record(spark, seed: int, steal: float, driver_memory: str) -> dict:
    """Recorded with every run, never used to drop one."""
    import pyspark

    jvm = spark.sparkContext._jvm
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "cpu_steal_pct": round(steal, 3),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "spark_master": spark.sparkContext.master,
        "driver_memory": driver_memory,
        "jvm_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
    }
