"""The one SparkSession factory of the engine: library callers, the
benchmarks, the oracle check, the profiler and the tests all start
their session through :func:`get_spark`.

Local-mode defaults mirror what a cluster deployment would set per
executor: shuffle partitions sized to cores (not the 200 default),
Arrow enabled for the two sanctioned pandas-UDF entry points, UTC
session timezone so results hash-match the DuckDB oracle (DuckDB
timestamps are UTC-naive), UI off. Everything else stays at Spark's
defaults, AQE (skew joins, partition coalescing) included.

Cores and driver heap come from the host unless a deployment sets
them: ``SPARK_GRAFT_CPUS`` (else the CPUs this process may run on) and
``SPARK_GRAFT_DRIVER_MEM`` (else half of the memory this process may
use, host or cgroup limit, capped at 24g).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2; "max" when unlimited
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def _checked(value: object, pattern: str, what: str) -> str:
    text = str(value)
    if not re.fullmatch(pattern, text):
        raise ValueError(f"{what}: {text!r}")
    return text


def _default_heap() -> str:
    """Half of the memory this process may use, capped at 24g."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                mem = min(mem, int(f.read()))
        except (OSError, ValueError):
            pass
    half_mb = mem // 2 // 2**20
    return "24g" if half_mb >= 24 * 1024 else f"{half_mb}m"


def get_spark(app_name: str = "pd_utils_spark", cpus: str | int | None = None) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``cpus`` (else ``SPARK_GRAFT_CPUS``, else the CPUs this process may
    run on) sets ``local[cpus]`` and the shuffle partitions;
    ``SPARK_GRAFT_DRIVER_MEM`` (else a host-derived default) the driver
    heap. Both are checked, and a ``ValueError`` raised, before an
    already-active session is reused as-is (important: the driver
    passes us its own session; never fight it).
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    n = _checked(cpus, r"[1-9][0-9]*", "cpus (or SPARK_GRAFT_CPUS) must be a positive integer")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    heap = _default_heap() if heap is None else _checked(
        heap, r"[1-9][0-9]*[kmgtKMGT]", "SPARK_GRAFT_DRIVER_MEM must be <int>[kmgt]"
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    # AQE coalescing keeps Spark's default parallelismFirst=true: an
    # A/B over a representative query mix (r11) showed byte-derived
    # coalescing (false + 64m advisory) serializes the CPU-heavy
    # small-byte text/simhash aggregations onto one core (16 s -> 46 s
    # on candidate_recall_simhash); per-row compute, not bytes, bounds
    # those stages.
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
