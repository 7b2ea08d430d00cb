"""Bench regression tripwire: separate code regressions from bench-
methodology noise at COMMIT time instead of judge time.

``bench.py`` rewrites ``BENCH_full.json`` (per-query p50 + max-min
spread) on every run; ``BENCH_baseline.json`` is the frozen copy of
the last accepted round's table (refresh it deliberately via
``make bench-baseline`` after reviewing a new bench run). The test
flags any query whose current p50 exceeds 3× its baseline p50, above
a 0.5 s floor and with both runs' recorded spreads added as the noise
allowance — i.e. only regressions too large to be shared-VM jitter.
Two records whose ``calibration.spark_fixed_agg`` differ by more than
2x (or that lack one) are not compared at all: the host itself ran
that much slower or faster.

Round 5 showed why this must be spread-aware and floor-ed: clearing
cached blocks between queries tripled some sub-second readings while
the per-query cold cost actually improved 17%.
"""

from __future__ import annotations

import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CURRENT = os.path.join(REPO, "BENCH_full.json")
BASELINE = os.path.join(REPO, "BENCH_baseline.json")

#: regressions smaller than this are shared-VM noise, never flagged
FLOOR_SEC = 0.5
#: flag only p50 blowups past this factor (spread-adjusted)
FACTOR = 3.0
#: records whose spark calibration differs by more than this factor
#: were taken in different host states and are not compared
CAL_FACTOR = 2.0


def _load(path):
    with open(path) as fh:
        return json.load(fh)


def test_headline_names_all_exist_in_registry():
    """bench.py only WARNS at runtime when a HEADLINE name is missing
    (renamed/retired registry entry) — which silently shrinks the
    cross-round comparison series. Fail at commit time instead."""
    import sys

    sys.path.insert(0, REPO)
    import bench
    from sparkobs import queries as Q

    missing = [n for n in bench.HEADLINE if n not in Q.SPARK_QUERIES]
    assert not missing, (
        f"bench HEADLINE names not in the registry: {missing} — "
        "update HEADLINE alongside the rename/retirement"
    )
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate HEADLINE names"


def check_no_unexplained_regression(cur: dict, base: dict) -> None:
    """Compare two bench records per query; skip when they are not
    comparable (another scale factor, a missing calibration, or a
    calibration more than ``CAL_FACTOR``x apart: the host ran that
    much slower or faster, so a per-query blowup is no evidence of a
    code change) and fail on any unexplained regression."""
    if cur.get("sf") != base.get("sf"):
        pytest.skip(
            f"current bench ran at sf={cur.get('sf')} but the baseline "
            f"is sf={base.get('sf')} — not comparable"
        )
    c_cal = (cur.get("calibration") or {}).get("spark_fixed_agg")
    b_cal = (base.get("calibration") or {}).get("spark_fixed_agg")
    if not (c_cal and b_cal):
        pytest.skip("a bench record has no calibration.spark_fixed_agg — not comparable")
    if not 1 / CAL_FACTOR <= c_cal / b_cal <= CAL_FACTOR:
        pytest.skip(
            f"calibration.spark_fixed_agg {c_cal}s vs baseline {b_cal}s "
            f"differs by more than {CAL_FACTOR:g}x — a drift window, not comparable"
        )
    cq, bq = cur["queries"], base["queries"]
    cs, bs = cur.get("spread", {}), base.get("spread", {})
    offenders = []
    for name, b50 in bq.items():
        c50 = cq.get(name)
        if c50 is None:
            continue  # query dropped/renamed — SURVEY/gate hygiene covers that
        allowance = FACTOR * b50 + bs.get(name, 0.0) + cs.get(name, 0.0)
        if c50 > max(allowance, FLOOR_SEC):
            offenders.append(f"{name}: {b50:.3f}s -> {c50:.3f}s")
    assert not offenders, (
        "per-query p50 regressions beyond 3x + recorded spread "
        "(investigate, then either fix or refresh the baseline with "
        "`make bench-baseline`): " + "; ".join(offenders)
    )


@pytest.mark.skipif(
    not (os.path.exists(CURRENT) and os.path.exists(BASELINE)),
    reason="needs both BENCH_full.json (run `python bench.py`) and "
    "BENCH_baseline.json (frozen via `make bench-baseline`)",
)
def test_no_unexplained_per_query_regression():
    check_no_unexplained_regression(_load(CURRENT), _load(BASELINE))


def _record(cal, **p50):
    return {
        "sf": 0.1,
        "calibration": None if cal is None else {"spark_fixed_agg": cal},
        "queries": p50,
        "spread": {n: 0.05 for n in p50},
    }


def test_tripwire_skips_a_drift_window_record():
    base = _record(0.34, q_slow=2.0, q_fast=0.6)
    for cur in (
        _record(0.34 * 2.5, q_slow=7.0, q_fast=0.6),  # host 2.5x slower
        _record(0.34 / 2.5, q_slow=7.0, q_fast=0.6),  # host 2.5x faster
        _record(None, q_slow=7.0, q_fast=0.6),  # no calibration
    ):
        with pytest.raises(pytest.skip.Exception):
            check_no_unexplained_regression(cur, base)


def test_tripwire_fails_a_3x_regression_under_equal_calibration():
    base = _record(0.34, q_slow=2.0, q_fast=0.6)
    check_no_unexplained_regression(_record(0.36, q_slow=2.4, q_fast=0.7), base)
    with pytest.raises(AssertionError, match="q_slow: 2.000s -> 6.500s"):
        check_no_unexplained_regression(_record(0.34, q_slow=6.5, q_fast=0.6), base)


def test_drift_band_trigger_matches_policy():
    """The calibration-drift band (BASELINE.md policy, r12 verdict
    item 2; trigger widened r14 per r13 ADVICE) fires whenever the
    JOINT ratio distortion the two fixed-workload drifts imply
    exceeds tolerance — sign agreement is irrelevant, because only
    EQUAL same-direction drift (shared-VM load) divides out of the
    ratio. Covered cases the earlier triggers missed: spark +4% /
    duckdb −20% (per-side threshold), one-sided drift spark ~1.00× /
    duckdb 1.20× and a leg exactly at baseline (sign-product
    gate)."""
    import bench

    base = {"spark_fixed_agg": 1.0, "duckdb_fixed_agg": 1.0}

    # opposite signs, both beyond tol -> band [raw, raw*d/s]
    drift, band = bench.drift_band(0.3, 1.2, 0.8, base)
    assert drift == {"spark": 1.2, "duckdb": 0.8}
    assert band == sorted([0.3, round(0.3 * 0.8 / 1.2, 3)])

    # opposite signs, ONE side inside its own noise band -> still fires
    _, band = bench.drift_band(0.3, 1.04, 0.80, base)
    assert band == sorted([0.3, round(0.3 * 0.80 / 1.04, 3)])

    # ONE-SIDED drift, same-sign-or-flat (r13 ADVICE case): spark
    # within noise while duckdb runs 1.2x slower -> the raw ratio is
    # ~19% flattered; fires
    _, band = bench.drift_band(0.3, 1.01, 1.20, base)
    assert band == sorted([0.3, round(0.3 * 1.20 / 1.01, 3)])

    # a leg EXACTLY at baseline (sign product == 0) -> fires
    _, band = bench.drift_band(0.3, 1.0, 1.20, base)
    assert band == sorted([0.3, round(0.3 * 1.20 / 1.0, 3)])

    # joint distortion inside tol -> no band
    _, band = bench.drift_band(0.3, 1.02, 0.99, base)
    assert band is None

    # EQUAL same-direction drift, even large -> no band (shared-VM
    # load divides out; 1.4 vs 1.45 is within tol of each other)
    _, band = bench.drift_band(0.3, 1.4, 1.45, base)
    assert band is None

    # no ratio (duckdb leg skipped) -> drift recorded, no band
    drift, band = bench.drift_band(None, 1.2, 0.8, base)
    assert band is None and drift["spark"] == 1.2


def test_timed_reps_start_from_a_clean_cache():
    """r14 verdict item 1: the warm-up rep could pre-build SQL-cache
    entries (persist()-based pins are matched by CacheManager on
    canonicalized-plan identity) that the timed reps then reused —
    banked flattery. Pin the closure: release() runs after the
    warm-ups and BEFORE every timed rep, and once more after the
    loop, so no timed rep ever starts with cache state built by a
    previous execution."""
    import bench

    log: list[str] = []

    def run():
        log.append("run")
        return 7

    def release():
        log.append("release")

    runs, n = bench.timed_reps(run, reps=3, warmup=2, release=release)
    assert n == 7 and len(runs) == 3
    assert log == [
        "run", "run",              # warm-ups (untimed)
        "release", "run",          # every timed rep starts clean
        "release", "run",
        "release", "run",
        "release",                 # the next query starts clean too
    ]


def test_bench_loops_route_through_timed_reps():
    """Structural tripwire for the clean-cache guarantee: both the
    headline loop and the tail loop must take their timings from
    timed_reps (the function the test above pins) — a future edit
    that reverts to inline timing silently reopens the warm-up
    rep-cache channel. The timing tools (remeasure, scale_probe) read
    no clock of their own either."""
    import inspect

    import bench

    main_src = inspect.getsource(bench.main)
    assert "bench_tail(" in main_src, "bench.main no longer runs bench_tail"
    src = main_src + inspect.getsource(bench.bench_tail)
    assert src.count("timed_reps(") >= 2, (
        "bench.main must time both the headline and the tail loop "
        "via timed_reps (clean cache before every timed rep)"
    )
    assert "time.perf_counter()" not in src.split("timed_reps(")[0].split(
        "for name in HEADLINE"
    )[-1], "headline loop times inline instead of via timed_reps"
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    for tool in ("remeasure.py", "scale_probe.py"):
        with open(os.path.join(tools, tool)) as fh:
            tool_src = fh.read()
        assert "timed_reps(" in tool_src, f"{tool} no longer times via timed_reps"
        assert not re.search(r"\btime\.(perf_counter|time|monotonic)\(", tool_src), (
            f"{tool} times inline instead of via timed_reps"
        )


def test_tail_loop_survives_a_failing_release(capsys):
    """A query that raises sends the tail loop down its except path,
    which releases session state once more. If that release raises
    too (a dropTempView race, say), the loop must log it and go on:
    an exception escaping here would abort bench.main before the
    final JSON line prints, losing the round's whole record."""
    import bench

    broken = {"on": False}

    def run(name):
        if name == "bad":
            broken["on"] = True
            raise RuntimeError("query failed")
        return 1

    def release():
        if broken["on"]:
            broken["on"] = False
            raise RuntimeError("release failed")

    timings, skipped = bench.bench_tail(["a", "bad", "b"], run, release, 60.0)
    assert sorted(timings) == ["a", "b"]
    assert skipped == ["bad"]
    err = capsys.readouterr().err
    assert "bad FAILED: query failed" in err
    assert "release failed" in err


def test_pack_queries_fits_the_driver_tail_and_leads_with_slowest():
    """r14 verdict item 4, under the driver contract: the one-line
    JSON must carry as many per-query p50s as fit — slowest first,
    top-10 unchanged as the leading prefix — while the WHOLE line
    stays inside the driver's 2,000-byte stdout-tail archive (a
    longer line truncates into unparseable JSON: BENCH_r03)."""
    import json as _json

    import bench

    timings = {f"query_with_a_realistically_long_name_{i:03d}": round(3000.0 / (i + 1), 3) for i in range(177)}
    packed = bench.pack_queries(timings)
    # slowest-first prefix, strictly ordered like the sort
    names = list(packed)
    expect = sorted(timings, key=lambda k: -timings[k])[: len(names)]
    assert names == expect
    assert len(names) >= 25, f"packs too few rows ({len(names)})"
    # the packed map plus generous fixed overhead stays under 2,000
    line = _json.dumps(packed, separators=(",", ":"))
    assert len(line) <= 1450, f"packed map too large: {len(line)} bytes"


def test_duckdb_comparison_coverage_is_total_or_documented():
    """r13 verdict item 6: every benched headline query either has a
    DuckDB oracle to time in the same session, or appears in
    bench.DUCKDB_UNCOMPARABLE with a written reason — a comparison
    gap must be a documented impossibility, never a silent skip. Also
    pins the inverse: a documented entry must be a real headline
    query that actually lacks an oracle (so the ledger cannot rot
    into covering queries that HAVE one)."""
    import bench
    from sparkobs.queries import ORACLE_SQL, SPARK_QUERIES

    headline = [n for n in bench.HEADLINE if n in SPARK_QUERIES]
    missing = [
        n
        for n in headline
        if n not in ORACLE_SQL and n not in bench.DUCKDB_UNCOMPARABLE
    ]
    assert missing == [], f"benched without comparison or reason: {missing}"
    for n, reason in bench.DUCKDB_UNCOMPARABLE.items():
        assert n in SPARK_QUERIES, f"{n} documented but not registered"
        assert n not in ORACLE_SQL, f"{n} documented uncomparable but HAS an oracle"
        assert len(reason) > 20, f"{n}: reason too thin"
