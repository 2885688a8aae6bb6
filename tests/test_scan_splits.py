"""Scan parallelism comes from the input: a multi-row-group parquet file
splits across every core, small files pack into one task per core, and
``queries._t`` fans out only a table with fewer row groups than cores."""

import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hashio_spark import queries

_MIB = 1 << 20


def _write(path, n_bytes: int, row_groups: int = 1, row_bytes: int = 1024) -> None:
    """An uncompressed parquet file of about ``n_bytes`` of random
    ``row_bytes``-wide rows in ``row_groups`` equal row groups."""
    rng = np.random.default_rng(0)
    n = n_bytes // row_bytes
    payload = rng.integers(0, 256, n * row_bytes, dtype=np.uint8).tobytes()
    t = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "blob": pa.array([payload[i * row_bytes:(i + 1) * row_bytes] for i in range(n)], pa.binary()),
    })
    pq.write_table(t, path, row_group_size=-(-n // row_groups), compression="none")
    assert pq.ParquetFile(path).metadata.num_row_groups == row_groups


def _task_rows(df) -> list[int]:
    """Rows per non-empty scan partition of ``df``."""
    counts = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    return [r["count"] for r in counts]


def test_row_groups_split_across_cores(spark, tmp_path):
    """A 16-row-group file of 2.5 MiB per core (8.4 MB feeds 4 cores in
    perfbench ``neardup``) reaches one scan task per core, up to one per
    row group, with max/median task rows ≤ 1.5."""
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "rg16.parquet")
    _write(path, int(2.5 * _MIB) * min(cores, 16), row_groups=16)
    rows = _task_rows(spark.read.parquet(path))
    assert sum(rows) == pq.ParquetFile(path).metadata.num_rows
    assert len(rows) >= min(cores, 16), rows
    assert max(rows) / statistics.median(rows) <= 1.5, rows


def test_small_files_pack_one_task_per_core(spark, tmp_path):
    """16 files of ~1.5 MB (perfbench ``validate_cli`` at 4 cores) scan
    in one task per core; a 4 MiB open cost packed 3 per task (6 tasks,
    two waves).  Only a core count that divides 16 can get exactly one
    task per core."""
    cores = spark.sparkContext.defaultParallelism
    if cores == 1 or (cores < 16 and 16 % cores):
        pytest.skip(f"16 files cannot pack into exactly {cores} tasks")
    for i in range(16):
        _write(str(tmp_path / f"part-{i:02d}.parquet"), int(0.375 * _MIB) * min(cores, 4))
    df = spark.read.parquet(str(tmp_path))
    assert df.rdd.getNumPartitions() == min(cores, 16)


def test_fanout_only_below_one_row_group_per_core(spark, tmp_path):
    """Inside the fan-out byte window (≥ 4 MiB, ≥ 64 B/row), a file with
    at least one row group per core scans without a round-robin exchange;
    a one-row-group file keeps it."""
    cores = spark.sparkContext.defaultParallelism
    if cores == 1:
        pytest.skip("a one-core session never fans out")
    _write(str(tmp_path / "multi.parquet"), 5 * _MIB, row_groups=cores)
    _write(str(tmp_path / "single.parquet"), 5 * _MIB)

    def plan(name):
        df = queries._t(spark, str(tmp_path), name)
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

    assert "RoundRobinPartitioning" not in plan("multi")
    assert "RoundRobinPartitioning" in plan("single")
