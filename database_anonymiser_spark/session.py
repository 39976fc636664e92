"""SparkSession factory with the engine's scale-tuned defaults."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def host_defaults(n_cpus: int, meminfo: str | None) -> tuple[str, str]:
    """Local-mode ``(cores, driver heap)`` for a host with ``n_cpus`` usable
    cores and ``meminfo`` the text of ``/proc/meminfo`` (None if unreadable):
    every core, and min(16g, 60 % of MemTotal) — 16g when MemTotal is
    unknown."""
    m = re.search(r"^MemTotal:\s+(\d+) kB", meminfo or "", re.MULTILINE)
    mem_mb = min(16384, int(m.group(1)) * 6 // 10240) if m else 16384  # kB → MB
    return str(n_cpus), f"{mem_mb}m"


def get_spark(
    app_name: str = "database-anonymiser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build/get a SparkSession.

    Defaults chosen for the engine's workloads:
    - AQE on (runtime coalescing, skew-join splitting) — essential at scale,
      harmless locally.
    - Arrow on for any Pandas-UDF path (multimodal / similarity fallbacks).
    - shuffle partitions sized to cores locally; on a real cluster leave AQE's
      coalescing to right-size post-shuffle partitions.
    - cores and driver heap from the host (:func:`host_defaults`), unless
      ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` pin them.
    """
    try:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    except OSError:
        meminfo = None
    affinity = getattr(os, "sched_getaffinity", None)  # Linux only
    n_cpus = len(affinity(0)) if affinity else os.cpu_count() or 1
    host_cpus, host_mem = host_defaults(n_cpus, meminfo)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", host_cpus)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else int(host_cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (e.g. events.ts) is unreadable natively;
        # read as long and let ParquetCatalog convert ns → timestamp losslessly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: the driver JVM hosts ALL executor memory — 8g across
        # 32 concurrent tasks (~250 MB/task + cached frames) produced
        # measured multi-minute GC storms during pipeline cache fills
        # (guide §5: size memory to the workload), while a heap above the
        # host's RAM invites the OOM killer; irrelevant on a real cluster
        # where executor memory is provisioned explicitly.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", host_mem))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
