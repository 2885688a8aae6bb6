"""Every registry query runs at sf0.001 and yields a well-formed result.
(Value-level correctness vs DuckDB is enforced by tools/oracle_check.py
and the driver's CORRECTNESS gate at sf0.01.)"""

import duckdb
import pytest

from hashio_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    fn, _sql = REGISTRY[name]
    df = fn(spark, SF)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0
    assert len(set(df.columns)) == len(df.columns), "duplicate column names"


def test_oracle_sql_parses_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    for name, (_fn, sql) in REGISTRY.items():
        if sql is None:
            continue
        cur = con.execute(sql)
        cur.fetchall()


def test_spark_and_oracle_columns_match(spark):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    for name, (fn, sql) in REGISTRY.items():
        if sql is None:
            continue
        s_cols = sorted(fn(spark, SF).columns)
        d_cols = sorted(c[0] for c in con.execute(sql).description)
        assert s_cols == d_cols, f"{name}: spark={s_cols} duck={d_cols}"
