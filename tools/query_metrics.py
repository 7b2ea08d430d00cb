"""Per-query execution metrics: jobs, stages, shuffle/input bytes, plan.

Optimization-round instrumentation (guide §1/§7): for each named
registry query, run it once warm and report

- wall seconds (after one untimed warm-up rep, same convention as
  bench.py),
- number of Spark jobs and stages the action launched,
- total input bytes read, shuffle read/write bytes, records,
- Exchange / Scan / BatchEvalPython-family node counts in the FINAL
  plan,

and optionally write `df.explain("formatted")` to a file. Metrics come
from the Spark UI REST API (the session is built with the UI enabled),
so they are the EXECUTED numbers, not estimates.

Usage:
    python tools/query_metrics.py [--sf DIR] [--plans OUTDIR] name ...
    python tools/query_metrics.py --top N        # N slowest from BENCH_full.json
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}") as r:
        return json.load(r)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Per-query executed metrics from the Spark UI REST API."
    )
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--plans", metavar="OUTDIR", help="write each final plan here")
    ap.add_argument("--suffix", default="before", help="plan file-name suffix")
    ap.add_argument(
        "--top", type=int, default=0, metavar="N",
        help="add the N slowest queries from BENCH_full.json",
    )
    ap.add_argument("names", nargs="*", help="registry query names")
    args = ap.parse_args(argv)
    if args.top < 0 or not (args.names or args.top):
        ap.error("name at least one query or pass --top N (N >= 1)")
    sf_dir, plans_dir, suffix = args.sf, args.plans, args.suffix
    names, top = list(args.names), args.top

    import __spark_entry__ as entrymod
    from sparkobs.session import get_spark
    from sparkobs.plans import physical_plan

    if top:
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "BENCH_full.json")) as fh:
            full = json.load(fh)
        pool = dict(full["queries"], **full.get("tail_queries", {}))
        names += [n for n, _ in sorted(pool.items(), key=lambda kv: -kv[1])[:top]]

    spark = get_spark("sparkobs-metrics", extra_conf={"spark.ui.enabled": "true"})
    qs = entrymod.queries()
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    # warm the session like bench.py does
    spark.range(1000).selectExpr("sum(id)").collect()

    def _release():
        spark.catalog.clearCache()

    print(f"# sf_dir={sf_dir} ui={base}")
    hdr = (
        f"{'query':44s} {'sec':>7s} {'jobs':>5s} {'stages':>6s} "
        f"{'tasks':>6s} {'input':>9s} {'shRead':>9s} {'shWrite':>9s} "
        f"{'Exch':>4s} {'Scan':>4s} {'Py':>3s}"
    )
    print(hdr)
    for name in names:
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue
        fn = qs[name]
        try:
            fn(spark, sf_dir).count()  # warm-up (codegen JIT, FS cache)
            _release()
            jobs_before = {j["jobId"] for j in _api(base, f"applications/{app_id}/jobs")}
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.count()
            dt = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: FAILED {exc}", file=sys.stderr)
            _release()
            continue
        jobs = [j for j in _api(base, f"applications/{app_id}/jobs")
                if j["jobId"] not in jobs_before]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        all_stages = {s["stageId"]: s for s in _api(base, f"applications/{app_id}/stages")}
        st = [all_stages[s] for s in stage_ids if s in all_stages
              and all_stages[s]["status"] != "SKIPPED"]
        inp = sum(s.get("inputBytes", 0) for s in st)
        shr = sum(s.get("shuffleReadBytes", 0) for s in st)
        shw = sum(s.get("shuffleWriteBytes", 0) for s in st)
        tasks = sum(s.get("numCompleteTasks", 0) for s in st)
        plan = physical_plan(df)
        n_exch = len(re.findall(r"^\s*\(\d+\) Exchange", plan, re.M))
        n_scan = len(re.findall(r"^\s*\(\d+\) Scan parquet", plan, re.M))
        n_py = len(re.findall(
            r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)\b",
            plan))
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            with open(os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
        def _mb(b):
            return f"{b/1e6:8.1f}M"
        print(
            f"{name:44s} {dt:7.3f} {len(jobs):5d} {len(st):6d} "
            f"{tasks:6d} {_mb(inp)} {_mb(shr)} {_mb(shw)} "
            f"{n_exch:4d} {n_scan:4d} {n_py:3d}"
        )
        _release()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
