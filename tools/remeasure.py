"""Isolated per-query re-measure: p50/spread of N timed reps, alone.

The r14 verdict's triage items (ambiguous tail movers, stall-window
suspects) need ISOLATED 32-core numbers with enough reps to separate
noise from cause — bench.py's tail loop records reps=1, which cannot.
This runs each named registry query in the shared session, one warm-up
rep then ``--reps`` timed reps (default 5), releasing session state
(SQL cache + LSH candidate persists + temp views) before every timed
rep — through bench.timed_reps and bench.release_session_state, the
bench's own clean-cache discipline — and prints per-query p50 / min /
max / all reps.

Usage:
    python tools/remeasure.py [--sf DIR] [--reps N] name ...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _positive_int(text: str) -> int:
    if not text.isdigit() or int(text) < 1:
        raise argparse.ArgumentTypeError(f"expected a positive integer, got {text!r}")
    return int(text)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Isolated per-query re-measure: p50/spread of N timed reps."
    )
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--reps", type=_positive_int, default=5)
    ap.add_argument("names", nargs="+", help="registry query names")
    args = ap.parse_args(argv)
    sf_dir, reps, names = args.sf, args.reps, args.names

    import __spark_entry__ as entrymod
    from bench import release_session_state, timed_reps, warm_session
    from sparkobs.session import get_spark

    spark = get_spark("sparkobs-remeasure")
    qs = entrymod.queries()
    warm_session(spark)

    baseline_tables = {t.name for t in spark.catalog.listTables()}

    for name in names:
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY")
            continue
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"remeasure:{name}")
        # one warm-up rep (codegen JIT), then clean-cache timed reps
        runs, _n = timed_reps(
            lambda: fn(spark, sf_dir).count(), reps, 1,
            lambda: release_session_state(spark, baseline_tables),
        )
        runs.sort()
        p50 = runs[len(runs) // 2]
        print(
            f"{name}: p50={p50:.3f}s min={runs[0]:.3f} max={runs[-1]:.3f} "
            f"reps={[round(r, 3) for r in runs]}"
        )
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
