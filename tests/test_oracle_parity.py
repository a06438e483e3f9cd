"""Driver-gate replica: every SQL-checked registry query must match its
DuckDB oracle (row count + schema + sorted values) at sf0.001."""

import os

import duckdb
import pandas as pd
import pytest

from open_parse_spark.plans.queries import REGISTRY
from tools.check_oracles import TABLES, normalize

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


SQL_CHECKED = [name for name, (_fn, sql) in REGISTRY.items() if sql is not None]
ROWS_ONLY = [name for name, (_fn, sql) in REGISTRY.items() if sql is None]


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(spark, con, name):
    fn, sql = REGISTRY[name]
    got = normalize(fn(spark, SF_DIR).toPandas())
    want = normalize(con.execute(sql).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.schema.fields) > 0
