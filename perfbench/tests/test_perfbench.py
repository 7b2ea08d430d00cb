"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

They start one Spark session (about a minute in all) and drive the
harness on a few queries of each workload.
"""

from __future__ import annotations

import functools
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

MONITOR_QUERIES = ("shape_summary_all", "null_counts_orders")
# a pipeline_x10 query whose work crosses the Python/Arrow boundary
ARROW_QUERIES = ("resize_synth_media",)


def _subset(name: str, queries: tuple[str, ...]) -> Workload:
    w = WORKLOADS[name]
    return Workload(w.name, queries, w.sf, w.mirror, w.why)


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    run.pin_environment()
    b = run.Bench(_subset("monitor_stream_sf001", MONITOR_QUERIES), seed=3, seconds=0, trace=True)
    b.setup()
    # fingerprints of this two-query subset must not replace the cached
    # ones of the whole workload
    b.expected.cache_path = str(tmp_path_factory.mktemp("expected") / "subset.json")
    yield b
    run._shutdown(b)


@pytest.fixture(scope="module")
def pipeline(bench):
    """The pipeline_x10 Arrow query on its own mirror, in the same session."""
    from check import Expected

    p = run.Bench(_subset("pipeline_x10", ARROW_QUERIES), seed=3, seconds=0, trace=True)
    p._stage()
    p.spark, p.jvm_pid, p.baseline_views = bench.spark, bench.jvm_pid, bench.baseline_views
    p.expected = Expected(p.w.name, p.data_key, os.path.dirname(bench.expected.cache_path))
    return p


@pytest.fixture(scope="module")
def registry(bench):
    import __spark_entry__ as entry

    return entry.queries()


def test_fingerprint_ignores_row_order_and_float_noise():
    from check import fingerprint

    a = fingerprint([(1, 0.1 + 0.2), (2, 3.0)], ["k", "v"])
    b = fingerprint([(2, 3.0), (1, 0.3)], ["k", "v"])
    assert a == b
    assert a != fingerprint([(1, 0.31), (2, 3.0)], ["k", "v"])


def test_oracle_agreement_tolerates_last_digit_rounding():
    from check import agree

    assert agree([(41.7613, 16)], ["avg", "n"], [(16, 41.7612)], ["n", "avg"]) is None
    assert agree([(41.7613, 16)], ["avg", "n"], [(41.9, 16)], ["avg", "n"]) is not None


def test_corrupted_fingerprint_counts_as_failure(bench, registry):
    bench.failed = bench.attempted = 0
    bench.expected.by_query = {}
    bench.warmup_pass(registry)  # records fingerprints for this seed
    assert bench.failed == 0 and set(bench.expected.by_query) == set(MONITOR_QUERIES)
    good = dict(bench.expected.by_query)
    try:
        bench.expected.by_query = dict(good)
        bench.expected.by_query["null_counts_orders"] = dict(good["null_counts_orders"], hash="0" * 16)
        bench.expected.source = "committed"
        bench.warmup_pass(registry)
        assert bench.failed == 1
        # a wrong row count fails the timed executions too
        bench.expected.by_query["null_counts_orders"] = dict(good["null_counts_orders"], rows=-1)
        bench.failed = 0
        bench.timed_pass(registry)
        assert bench.failed == 1
    finally:
        bench.expected.by_query = good
        bench.failed = 0


def _traced_pass(bench, registry, queries):
    from traced import TracedRun

    probe = TracedRun(bench.spark)
    try:
        probe.start_pass()
        names = list(queries)
        bench.order = lambda: names
        recs = bench.timed_pass(registry, probe)
        probe.end_pass(recs)
        return sum(r["cpu_s"] for r in recs), recs, probe.pass_readings[-1]
    finally:
        del bench.order
        probe.tracer.uninstall()


def test_build_plus_action_matches_wall_time(bench, registry):
    name = MONITOR_QUERIES[0]
    t0 = time.perf_counter()
    rec = bench.run_query(registry[name], name)
    outer = time.perf_counter() - t0
    assert rec["build_s"] > 0 and rec["action_s"] > 0
    assert abs(rec["build_s"] + rec["action_s"] - rec["wall_s"]) < 1e-6
    assert rec["wall_s"] <= outer < rec["wall_s"] + 0.05


def test_work_in_load_table_moves_io_and_pass_but_not_arrow(bench, pipeline, registry):
    import sparkobs.io as sio
    import sparkobs.queries as sq

    for _ in range(2):  # the last of these is the warm baseline
        mon_base = _traced_pass(bench, registry, MONITOR_QUERIES)
        arrow_base = _traced_pass(pipeline, registry, ARROW_QUERIES)

    original = sio.load_table
    spin_s = 0.1

    @functools.wraps(original)
    def slow_load_table(*args, **kwargs):
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < spin_s:  # CPU work, not a sleep
            pass
        return original(*args, **kwargs)

    sio.load_table = sq.load_table = slow_load_table
    try:
        mon_slow = _traced_pass(bench, registry, MONITOR_QUERIES)
        arrow_slow = _traced_pass(pipeline, registry, ARROW_QUERIES)
    finally:
        sio.load_table = sq.load_table = original

    calls = mon_slow[2]["io.load_calls"]
    assert calls >= 2
    assert mon_slow[2]["io.load_s"] - mon_base[2]["io.load_s"] > 0.8 * spin_s * calls
    # pass CPU seconds: the spin counts only while this guest runs
    assert mon_slow[0] - mon_base[0] > 0.5 * spin_s * calls
    assert arrow_base[2]["arrow.bytes_sent"] > 0
    assert arrow_slow[2]["arrow.bytes_sent"] == arrow_base[2]["arrow.bytes_sent"]
    assert arrow_slow[2]["arrow.py_run_s"] < 3 * arrow_base[2]["arrow.py_run_s"] + 0.5
