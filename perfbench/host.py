"""Host fingerprint, calibration job and process memory.

Numbers taken on hosts with different fingerprints are not comparable;
``fingerprint`` stamps every record so they are never mixed up.
"""

from __future__ import annotations

import os
import platform
import time


def _meminfo_mb() -> dict[str, int]:
    out = {}
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                key, rest = line.split(":", 1)
                if key in ("MemTotal", "MemAvailable"):
                    out[key] = int(rest.split()[0]) // 1024
    except OSError:
        pass
    return out


def fingerprint() -> dict:
    import pyarrow
    import pyspark

    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count()
    return {
        "nproc": nproc,
        "cpu_count": os.cpu_count(),
        "machine": platform.machine(),
        "memory_mb": _meminfo_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def calibration_s(spark) -> float:
    """The fixed calibration job of the old root ``bench.py``
    ``contention_sentinel``: a pure-CPU, shuffle-free range aggregation
    whose cost does not depend on the engine's code. A slow reading
    marks a contended host, not a slow engine."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows its ')'
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def cpu_s() -> float:
    """CPU seconds (user and system, own and reaped children) used so far
    by this process and every process below it. Time the hypervisor gave
    to other guests is not in it, so it holds still on a contended host
    where wall times do not."""
    total = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15])
        todo.extend(_children(pid))
    return total / os.sysconf("SC_CLK_TCK")


def steal() -> int:
    """Clock ticks all CPUs of this guest have waited for the hypervisor."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if len(fields) > 8 else 0
    except OSError:
        return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus every process
    below it (the Spark JVM), in MB."""
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024
