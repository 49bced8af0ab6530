"""Process and box state: peak RSS, steal time, load, disk usage.

Each run's artifact carries these so that a run on a contended box can
be told apart from its own record.
"""

from __future__ import annotations

import os
import resource


def steal_s() -> float:
    """Box-wide CPU steal time so far, in seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def rss_peak_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of another live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def self_rss_peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def du(path: str) -> tuple[int, int]:
    """(files, bytes) under a directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def box_state(spark, steal_at_start: float) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "cores": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "steal_s": round(steal_s() - steal_at_start, 3),
        "spark_master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
