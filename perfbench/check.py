"""Output check: one fingerprint per query result.

A fingerprint is the row count, the sorted column names and an
order-insensitive hash of the values, built on the repo's oracle
checker (``tools/check_oracle.py``'s ``canon``). Floats are first
rounded to 6 significant digits, so an unrounded aggregate whose
summation order differs between runs still fingerprints the same.

Expected fingerprints come from ``perfbench/expected/<workload>.json``
(committed, keyed by the workload's data key) or, for inputs not
recorded there, from a per-checkout cache written after the first run
on them, whose values were cross-checked once against ``oracle_sql()``
on DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _canon():
    root = os.path.dirname(HERE)
    if root not in sys.path:
        sys.path.insert(0, root)
    from tools.check_oracle import canon

    return canon


def _norm(v, data_dir: str = ""):
    if isinstance(v, str) and data_dir:
        # listing monitors report paths; the inputs' location differs
        # between checkouts and runs
        return v.replace(data_dir, "{DATA}")
    if isinstance(v, float):
        return v if math.isnan(v) or math.isinf(v) else float(f"{v:.6g}")
    if hasattr(v, "asDict"):  # a Spark struct; DuckDB returns a dict
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((repr(k), _norm(x, data_dir)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return [_norm(x, data_dir) for x in v]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return hashlib.sha256(bytes(v)).hexdigest()
    return v


def fingerprint(rows, columns, data_dir: str = "") -> dict:
    lines = _canon()([[_norm(v, data_dir) for v in r] for r in rows], list(columns))
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return {"rows": len(lines), "columns": sorted(columns), "hash": digest}


def _close(a: str, b: str) -> bool:
    try:
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-4)
    except ValueError:
        return False


def agree(rows_a, cols_a, rows_b, cols_b, data_dir: str = "") -> str | None:
    """Compare two result sets; floats may differ in the last rounded
    digit (the engines round exact .5 boundaries differently).
    Returns None when they agree, else the first difference."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    canon = _canon()
    a = canon([[_norm(v, data_dir) for v in r] for r in rows_a], list(cols_a))
    b = canon([[_norm(v, data_dir) for v in r] for r in rows_b], list(cols_b))
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    for la, lb in zip(a, b):
        fa, fb = la.split("|"), lb.split("|")
        if len(fa) != len(fb) or not all(x == y or _close(x, y) for x, y in zip(fa, fb)):
            return f"row {la!r} vs {lb!r}"
    return None


def duckdb_results(
    data_dir: str, tables, oracles: dict[str, str], budget_s: float = 10.0
) -> tuple[dict[str, tuple], list[str]]:
    """``(rows, columns)`` of each oracle query run on DuckDB over
    ``data_dir``, plus the names skipped because they ran past
    ``budget_s`` or DuckDB's 1 GB memory limit (pairwise oracles on the
    10x mirror do)."""
    import threading

    import duckdb

    con = duckdb.connect(config={"memory_limit": "1GB", "threads": os.cpu_count() or 1})
    out, skipped = {}, []
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        for name, sql in oracles.items():
            timer = threading.Timer(budget_s, con.interrupt)
            timer.start()
            try:
                res = con.execute(sql)
                out[name] = (res.fetchall(), [d[0] for d in res.description])
            except (duckdb.InterruptException, duckdb.OutOfMemoryException):
                skipped.append(name)
            finally:
                timer.cancel()
        return out, skipped
    finally:
        con.close()


class Expected:
    """Expected fingerprints of one workload's inputs."""

    def __init__(self, workload: str, data_key: str, cache_dir: str) -> None:
        self.cache_path = os.path.join(cache_dir, f"{workload}-{data_key}.json")
        committed = os.path.join(HERE, "expected", f"{workload}.json")
        self.source = "none"
        self.by_query: dict[str, dict] = {}
        if os.path.exists(committed):
            with open(committed) as fh:
                self.by_query = json.load(fh).get(data_key, {})
            if self.by_query:
                self.source = "committed"
        if not self.by_query and os.path.exists(self.cache_path):
            with open(self.cache_path) as fh:
                self.by_query = json.load(fh)
            self.source = "cache"

    def __bool__(self) -> bool:
        return bool(self.by_query)

    def save(self, by_query: dict[str, dict]) -> None:
        os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
        with open(self.cache_path, "w") as fh:
            json.dump(by_query, fh, indent=1, sort_keys=True)
        self.by_query = by_query
        self.source = "cache"
