"""What a result was measured on: the host fingerprint, JVMs that compete
for its cores, and process memory, all read from ``/proc``."""

from __future__ import annotations

import os
import platform


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def foreign_jvms() -> int:
    """Java processes running before the run starts its own JVM.

    Any of them competes with the measured run for cores and memory, so a
    result taken while one is present is marked contended."""
    count = 0
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            count += 1
    return count


def fingerprint(seed: int) -> dict:
    """Numbers are only compared between results with equal fingerprints."""
    import duckdb
    import pyspark

    foreign = foreign_jvms()
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "cpu_model": cpu_model(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "seed": seed,
        "foreign_jvms": foreign,
        "contended": foreign > 0,
    }


def peak_rss_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of a live process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise KeyError(f"no VmHWM for pid {pid}")
