"""Process-level readings: memory high-water marks, CPU time of the Python
driver and of the JVM, JVM GC and JIT time, and a fixed CPU calibration
loop (a machine-drift control that is reported, never used to normalize).
"""

from __future__ import annotations

import os
import resource
import time
from pathlib import Path


def _status_kb(pid, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(Python VmHWM, JVM VmHWM), in MB."""
    return _status_kb("self", "VmHWM") / 1024, \
        _status_kb(jvm_pid, "VmHWM") / 1024


def jvm_cpu_s(jvm_pid: int) -> float:
    try:
        f = Path(f"/proc/{jvm_pid}/stat").read_text().rsplit(")", 1)[1] \
            .split()
    except OSError:
        return 0.0
    return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")


def py_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def jvm_gc_jit_ms(spark) -> tuple[float, float]:
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return float(gc), float(mf.getCompilationMXBean()
                            .getTotalCompilationTime())


class Snapshot:
    """CPU, GC and JIT counters at one instant; subtract two for a phase."""

    def __init__(self, spark, jvm_pid: int):
        self.py = py_cpu_s()
        self.jvm = jvm_cpu_s(jvm_pid)
        self.gc, self.jit = jvm_gc_jit_ms(spark)

    def since(self, before: "Snapshot") -> dict:
        return {"py_cpu_ms": (self.py - before.py) * 1000,
                "jvm_cpu_ms": (self.jvm - before.jvm) * 1000,
                "gc_ms": self.gc - before.gc, "jit_ms": self.jit - before.jit}


def calibration_ms(n: int = 3_000_000) -> float:
    """Time of a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000
