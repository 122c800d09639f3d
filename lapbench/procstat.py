"""Counters the lap reads around each rep: CPU seconds of the JVM and the
Python driver, host steal jiffies, peak resident memory, JVM memory-pool
peaks and GC time (from ``/proc`` and the JVM), and bytes written under a
directory."""

from __future__ import annotations

import os
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` (all its threads), in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def steal_jiffies() -> int:
    """Host steal time summed over all CPUs since boot."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8])


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    """The pid of the JVM behind ``spark``: the gateway process the PySpark
    launcher started (spark-submit execs the JVM in place)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as fh:
        if fh.read().strip() != "java":
            raise RuntimeError(f"gateway process {pid} is not a JVM")
    return pid


class Probe:
    """Counters of one Spark driver process pair (JVM + this Python)."""

    def __init__(self, spark):
        self.jvm = jvm_pid(spark)
        self.gateway = spark.sparkContext._gateway
        self.proc = self.gateway.proc
        mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mgmt.getGarbageCollectorMXBeans())
        self._pools = list(mgmt.getMemoryPoolMXBeans())
        self._memory = mgmt.getMemoryMXBean()

    def collect(self) -> None:
        """A full collection of the JVM heap (``System.gc()``)."""
        self._memory.gc()

    def reset_pool_peaks(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def pool_peaks_mb(self) -> dict[str, float]:
        """Peak bytes used per JVM memory pool since the last reset, summed
        over the heap pools and over the non-heap pools, in MB."""
        out = {"heap_peak_mb": 0.0, "nonheap_peak_mb": 0.0}
        for p in self._pools:
            kind = "heap_peak_mb" if p.getType().name() == "HEAP" else "nonheap_peak_mb"
            out[kind] += p.getPeakUsage().getUsed() / 2**20
        return out

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000

    def snapshot(self) -> dict:
        return {"cpu_s": cpu_s(self.jvm) + cpu_s(os.getpid()),
                "steal_jiffies": steal_jiffies(), "gc_s": self.gc_s(),
                "t": time.perf_counter()}

    def since(self, snap: dict) -> dict:
        now = self.snapshot()
        return {k: now[k] - snap[k] for k in ("cpu_s", "steal_jiffies", "gc_s")}

    def stop_jvm(self, timeout: float = 30.0) -> None:
        """Close the gateway and wait for the JVM to exit."""
        self.gateway.shutdown()
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout)


def files(root: str) -> dict[str, tuple]:
    """path → (inode, size, mtime) of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict[str, tuple], after: dict[str, tuple]) -> int:
    """Bytes of the files in ``after`` that are new or rewritten since
    ``before``: every writer here replaces whole files."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)
