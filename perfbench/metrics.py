"""Small measurement helpers: latency percentiles, peak memory, and
on-disk accounting by unique inode."""

from __future__ import annotations

import gc
import os
import resource
import time

import pyarrow.parquet as pq

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(latency, percentile, sample count) at the highest percentile that
    leaves at least ``beyond`` samples above it. Below ``2 * beyond``
    samples that percentile would sit under the median, so the maximum is
    returned instead, as percentile 100."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return s[-1], 100.0, n
    k = n - beyond  # s[k-1] has exactly `beyond` samples after it
    return s[k - 1], 100.0 * k / n, n


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests since boot,
    summed over all CPUs (0 on bare metal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python process and of the driver JVM."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, _vm_hwm_kb(jvm_pid) / 1024


def retained_heap_mb(spark) -> float:
    """Heap the driver JVM still uses after full garbage collections:
    what the session retains (cached and checkpointed blocks, references
    it keeps), without the garbage a collector has yet to reclaim.
    Releases arrive late (Python proxies detach from the JVM, Spark's
    cleaner unpersists what a collection freed), so it collects until the
    used heap stops falling."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(8):
        gc.collect()
        jvm.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 2 and readings[-1] > 0.99 * readings[-2]:
            break
        time.sleep(0.5)
    return min(readings)


def inodes(root: str) -> dict[int, tuple[int, str]]:
    """inode -> (size, one path) for every regular file under ``root``;
    hard links to one inode count once."""
    out: dict[int, tuple[int, str]] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            out.setdefault(st.st_ino, (st.st_size, p))
    return out


def parquet_rows(paths: list[str]) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths if p.endswith(".parquet"))


def live_files(store_root: str) -> int:
    """Parquet files in the current version of every table in a store."""
    n = 0
    for table in os.listdir(store_root):
        try:
            with open(os.path.join(store_root, table, "LATEST")) as fh:
                v = fh.read().strip()
        except FileNotFoundError:
            continue
        for _, _, files in os.walk(os.path.join(store_root, table, f"v{v}")):
            n += sum(f.endswith(".parquet") for f in files)
    return n
