"""Compare two bench records (BENCH_full.json / BENCH_r*.json shape).

Prints the common-query totals and ratio, the drift-adjusted ratio
when both records carry a `calibration` row (added to bench.py in
r10: a fixed aggregation timed on each engine per run, so shared-VM
drift — measured up to ~1.5x between rounds on identical SQL — can
be divided out), and the per-query movers beyond a noise floor.

Usage:
    python tools/bench_compare.py OLD.json NEW.json [--top N]

No Spark, no DuckDB — pure JSON arithmetic, so it runs anywhere the
records exist (including inside a verdict review).
"""

from __future__ import annotations

import argparse
import json


def load(path: str) -> dict:
    with open(path) as fh:
        d = json.load(fh)
    if "parsed" in d and isinstance(d.get("parsed"), dict):
        # driver archive shape (BENCH_r*.json): the bench summary
        # line sits under 'parsed' and carries only the slowest-10
        # queries — comparisons against it are top-of-tail only
        d = d["parsed"]
    if "queries" not in d:
        raise SystemExit(f"{path}: not a bench record (no 'queries' key)")
    return d


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Compare two bench records.")
    ap.add_argument("old", help="older record (BENCH_full.json shape)")
    ap.add_argument("new", help="newer record")
    ap.add_argument("--top", type=int, default=8, help="movers to list each way")
    args = ap.parse_args(argv)
    old, new, top = load(args.old), load(args.new), args.top
    oq, nq = old["queries"], new["queries"]
    common = sorted(set(oq) & set(nq))
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    to = sum(oq[k] for k in common)
    tn = sum(nq[k] for k in common)
    print(f"common queries: {len(common)}  (only-old: {len(only_old)}, only-new: {len(only_new)})")
    print(f"raw totals:     old {to:.1f}s  new {tn:.1f}s  ratio {tn / to:.3f}x")
    co, cn = old.get("calibration"), new.get("calibration")
    if co and cn and co.get("spark_fixed_agg") and cn.get("spark_fixed_agg"):
        drift = cn["spark_fixed_agg"] / co["spark_fixed_agg"]
        print(
            f"spark calibration: old {co['spark_fixed_agg']}s  new "
            f"{cn['spark_fixed_agg']}s  (environment drift {drift:.3f}x)"
        )
        print(f"drift-adjusted ratio: {(tn / to) / drift:.3f}x")
        if co.get("duckdb_fixed_agg") and cn.get("duckdb_fixed_agg"):
            dd = cn["duckdb_fixed_agg"] / co["duckdb_fixed_agg"]
            print(f"duckdb calibration drift: {dd:.3f}x")
    else:
        print("calibration: absent in one or both records (pre-r10 bench) — raw ratio only")
    movers = sorted(((nq[k] - oq[k], k) for k in common))
    # noise floor: ignore moves under max(0.15s, 20%) — the measured
    # per-query shared-VM spread band
    sig = [
        (d, k)
        for d, k in movers
        if abs(d) >= max(0.15, 0.2 * min(oq[k], nq[k]))
    ]
    imp = [x for x in sig if x[0] < 0][:top]
    reg = [x for x in sig if x[0] > 0][-top:]
    if imp:
        print("improvements beyond noise:")
        for d, k in imp:
            print(f"  {d:+.2f}s  {k}  ({oq[k]:.2f} -> {nq[k]:.2f})")
    if reg:
        print("regressions beyond noise:")
        for d, k in reg:
            print(f"  {d:+.2f}s  {k}  ({oq[k]:.2f} -> {nq[k]:.2f})")
    if not sig:
        print("no per-query movement beyond the noise floor")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
