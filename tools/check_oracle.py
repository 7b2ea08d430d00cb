"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet files, then compares row count, sorted
column names, and an order-insensitive value hash (values stringified
with repr after per-cell normalization). Run me before every commit:

    python tools/check_oracle.py [sf_dir] [name_filter ...]
    python tools/check_oracle.py [sf_dir] --gate   # only the driver's 50-entry window
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # Exact repr: queries must round in-query on BOTH sides so raw
        # doubles are bit-identical; the checker enforces that convention.
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = sorted("|".join(normalize_cell(r[i]) for i in order) for r in rows)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Compare registry queries against their DuckDB oracles."
    )
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("filters", nargs="*", help="run only names containing one of these")
    ap.add_argument(
        "--gate", action="store_true", help="only the driver's first GATE_SIZE entries"
    )
    # intermixed: --gate may sit anywhere, even between the positionals
    args = ap.parse_intermixed_args(argv)
    sf_dir, filters = args.sf_dir, args.filters

    import __spark_entry__ as entrymod

    if os.environ.get("ORACLE_CHECK_VANILLA"):
        # driver-harness simulation: a SparkSession with NONE of our
        # configs — queries must self-provision anything they need
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName("vanilla").getOrCreate()
    else:
        from sparkobs.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    # --gate: restrict to exactly the driver's certification window
    # (the first GATE_SIZE registry entries) — what CORRECTNESS_r{N}
    # will actually check this round
    if args.gate:
        qs = dict(list(qs.items())[: entrymod.GATE_SIZE])
    oracles = entrymod.oracle_sql(os.path.realpath(sf_dir))
    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_rows = sdf.collect()
            s_cols = sdf.columns
        except Exception as e:
            failed.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            rows_only.append((name, len(s_rows)))
            print(f"ROWS-ONLY {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            failed.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"row count {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems:
            sc, dc = canon(s_rows, s_cols), canon(d_rows, d_cols)
            if sc != dc:
                diff = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            failed.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            passed.append(name)
            print(f"PASS {name} ({len(s_rows)} rows, {time.time()-t0:.1f}s)")

    print(
        f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
