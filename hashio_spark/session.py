"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized
to cores (not the 200 default), Arrow enabled for the pandas-UDF parity
kernels, UTC session timezone so DuckDB oracle comparisons are stable.
Cores and driver memory default to what the host has.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# share of the host's physical memory given to the driver JVM's heap
# (local mode: the driver is the only executor) when SPARK_DRIVER_MEMORY
# is unset
_DRIVER_MEMORY_SHARE = 0.5

# Scan split ceiling, spark.sql.files.maxPartitionBytes (guide §6).  The
# sample data is single-file parquet whose row groups cap scan parallelism
# anyway (≤6 row groups at sf1.0), so 16m only un-glues the 128m default's
# 1-2-task scans of the mid-size tables.  A deployment with many large
# files raises it to 128m-1g (guide §6 recommends larger splits for big
# sequential scans) through ``get_spark(extra_conf=...)`` or
# ``spark.conf.set``.
_MAX_PARTITION_BYTES = "16m"


def host_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def host_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY`` if set, else :data:`_DRIVER_MEMORY_SHARE`
    of the host's physical memory in whole GiB (at least ``1g``)."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        total = 2 << 30
    return f"{max(1, int(total * _DRIVER_MEMORY_SHARE) >> 30)}g"


def get_spark(
    app: str = "hashio-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = host_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", _MAX_PARTITION_BYTES)
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
