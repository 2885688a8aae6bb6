"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized
to cores (not the 200 default), Arrow enabled for the pandas-UDF parity
kernels, UTC session timezone so DuckDB oracle comparisons are stable.
Cores and driver memory default to what the host has.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


# share of the host's physical memory given to the driver JVM's heap
# (local mode: the driver is the only executor) when SPARK_DRIVER_MEMORY
# is unset
_DRIVER_MEMORY_SHARE = 0.5

# Scan split ceiling, spark.sql.files.maxPartitionBytes (guide §6).  The
# sample data is single-file parquet whose row groups cap scan parallelism
# anyway (≤6 row groups at sf1.0), so 16m only un-glues the 128m default's
# 1-2-task scans of the mid-size tables.  Below 16 MiB of input per core
# (both perfbench inputs) the split is the bytes per core and this ceiling
# does not bind; whether 128m costs anything is not measured yet.  A
# deployment with many large files raises it to 128m-1g (guide §6
# recommends larger splits for big sequential scans) through
# ``get_spark(extra_conf=...)`` or ``spark.conf.set``.
_MAX_PARTITION_BYTES = "16m"

# spark.sql.files.openCostInBytes, the bytes a scan charges for opening a
# file.  Spark sizes a split as max(openCost, bytes per core), so its 4 MiB
# default keeps a file under ~4 MiB × cores from reaching one split per
# core: an 8.4 MB, 16-row-group file scanned in 3 tasks (10,000, 8,750
# and 1,250 docs) on 4 cores.  At 1 MiB it gets 4 tasks of 3,750–6,250
# docs, and 16 files of ~1.5 MB pack 4 per task instead of 3 (6 tasks,
# two waves on 4 cores).
_OPEN_COST_BYTES = str(1 << 20)


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


def _launcher_conf() -> SparkConf | None:
    """The conf spark-submit gave this driver's JVM — its ``--master``,
    ``--conf`` and ``spark-defaults.conf`` values — when spark-submit
    launched the driver (it then passes ``PYSPARK_GATEWAY_PORT``).  A
    plain ``python`` driver has none: its JVM starts later, from the
    builder's conf."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf()  # loads the running JVM's spark.* properties


def get_spark(
    app: str = "hashio-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """The session factory of the library, the CLI, the tests and the
    benchmarks.

    A session that already runs in this process is returned as it is:
    whoever started it chose its master and conf.  A new session gets the
    tuned config above.  Its master is ``master`` if given (the CLI's
    ``--master``), else the one spark-submit set, else ``local[cores]``.
    Settings from spark-submit also win over the tuned defaults;
    ``extra_conf`` wins over both."""
    if SparkContext._active_spark_context is not None:
        return SparkSession.builder.getOrCreate()
    if cores is None:
        cores = host_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": _MAX_PARTITION_BYTES,
        "spark.sql.files.openCostInBytes": _OPEN_COST_BYTES,
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": host_driver_memory(),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    launcher = _launcher_conf()
    if launcher is not None:
        conf = {k: v for k, v in conf.items() if not launcher.contains(k)}
    if master:
        conf["spark.master"] = master
    conf.update(extra_conf or {})
    b = SparkSession.builder.appName(app)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
