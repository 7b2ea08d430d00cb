"""The hand-listed head of the driver gate (``_PRIORITY``: the entries
the latest change touched) is oracle-checked in-suite with the
checker's own comparison (row count, sorted columns, order-insensitive
value hash) at sf0.001, so the newest work never waits for the driver
or ``make sweep`` to meet its DuckDB oracle."""

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import __spark_entry__ as entrymod  # noqa: E402
from check_oracle import TABLES, canon  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", entrymod._PRIORITY)
def test_gate_head_matches_oracle(spark, oracle_con, name):
    sdf = entrymod.queries()[name](spark, SF)
    s_rows = sdf.collect()
    oracle = entrymod.oracle_sql(SF).get(name)
    if oracle is None:
        return  # rows-only entry: building and collecting is the check
    res = oracle_con.execute(oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert len(s_rows) == len(d_rows), f"{name}: row count"
    assert sorted(sdf.columns) == sorted(d_cols), f"{name}: columns"
    assert canon(s_rows, sdf.columns) == canon(d_rows, d_cols), f"{name}: values"
