"""Every registry entry against its DuckDB oracle at sf0.001, in
driver-gate order (the hand-listed ``_PRIORITY`` head first), with the
checker's own comparison (row count, sorted columns, order-insensitive
value hash; ``tools/check_oracle.py``). Entries without an oracle are
rows-only: building and collecting them is the check, as in the sweep.

This is the in-suite form of ``make sweep`` at the smallest scale, so a
parity break in any entry fails tier-1, whether or not the driver's
50-entry gate holds it this round."""

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


@pytest.fixture(scope="module")
def registry():
    return entrymod.queries(), entrymod.oracle_sql(os.path.realpath(SF))


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_gate_head_matches_oracle(spark, oracle_con, registry, name):
    queries, oracles = registry
    sdf = queries[name](spark, SF)
    s_rows = sdf.collect()
    if name not in oracles:
        return  # rows-only entry: building and collecting is the check
    res = oracle_con.execute(oracles[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert len(s_rows) == len(d_rows), f"{name}: row count"
    assert sorted(sdf.columns) == sorted(d_cols), f"{name}: columns"
    assert canon(s_rows, sdf.columns) == canon(d_rows, d_cols), f"{name}: values"
