"""Hand-value unit tests for the round-8 operator wave (the KMV
mergeable quantile sketch family) — the queue's oracle tests pin
cross-engine parity; these pin the MATH and the merge/duplicate/plan
properties on inputs small enough to reason about."""

import math

import pytest
from pyspark.sql import functions as F


def _sketch(spark, rows, k, salt="t"):
    from sparkobs.operators.profile import kmv_quantile_sketch

    df = spark.createDataFrame(rows, "id long, v double")
    return kmv_quantile_sketch(df, "id", "v", k=k, salt=salt)


def test_kmv_sketch_is_pure_function_of_row_set(spark):
    """Same rows in any partitioning/order -> identical sketch: the
    property GK/KLL lack and the reason bottom-k is the certified
    structure."""
    rows = [(i, float((i * 37) % 101)) for i in range(500)]
    a = sorted(map(tuple, _sketch(spark, rows, 64).collect()))
    shuffled = list(reversed(rows))
    b = sorted(
        map(
            tuple,
            _sketch(spark, shuffled, 64).collect(),
        )
    )
    assert a == b and len(a) == 64


def test_kmv_merge_of_disjoint_parts_is_bit_identical_to_direct(spark):
    from sparkobs.operators.profile import kmv_quantile_merge

    rows = [(i, float((i * 17) % 997)) for i in range(900)]
    direct = _sketch(spark, rows, 128)
    parts = [
        _sketch(spark, rows[0:300], 128),
        _sketch(spark, rows[300:550], 128),
        _sketch(spark, rows[550:900], 128),
    ]
    merged = kmv_quantile_merge(parts, k=128)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_kmv_merge_is_commutative(spark):
    from sparkobs.operators.profile import kmv_quantile_merge

    rows = [(i, float(i % 50)) for i in range(400)]
    p1, p2 = rows[:150], rows[150:]
    a = kmv_quantile_merge(
        [_sketch(spark, p1, 64), _sketch(spark, p2, 64)], k=64
    )
    b = kmv_quantile_merge(
        [_sketch(spark, p2, 64), _sketch(spark, p1, 64)], k=64
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmv_estimate_replays_spark_percentile_on_small_input(spark):
    """k larger than the data -> the sample IS the data, so estimates
    must equal the builtin exact percentile bit for bit (including an
    interpolated rank and an integral rank)."""
    from sparkobs.operators.profile import (
        kmv_quantile_estimate,
        kmv_quantile_sketch,
    )

    rows = [(i, float(v)) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5])]
    df = spark.createDataFrame(rows, "id long, v double")
    sk = kmv_quantile_sketch(df, "id", "v", k=1000, salt="t")
    qs = (0.25, 0.5, 0.9)
    est = {r["q"]: r["est_value"] for r in kmv_quantile_estimate(sk, qs).collect()}
    exact = df.agg(
        F.percentile("v", F.lit(list(qs))).alias("p")
    ).collect()[0]["p"]
    assert [est[q] for q in qs] == list(exact)
    ka = kmv_quantile_estimate(sk, qs).collect()[0]["k_actual"]
    assert ka == len(rows)


def test_kmv_duplicates_keep_multiplicity(spark):
    """Hashing the row ID (not the value) must keep a hot duplicate
    value at ~its true share of the sample: 80% of rows share one
    value -> the sample median is that value."""
    from sparkobs.operators.profile import (
        kmv_quantile_estimate,
        kmv_quantile_sketch,
    )

    rows = [(i, 42.0 if i % 5 else float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, v double")
    sk = kmv_quantile_sketch(df, "id", "v", k=100, salt="t")
    est = kmv_quantile_estimate(sk, (0.5,)).collect()[0]
    assert est["est_value"] == 42.0
    share = sk.where(F.col("value") == 42.0).count() / 100
    assert 0.65 <= share <= 0.95  # ~0.8 up to sampling noise


def test_kmv_rank_error_within_sampling_band(spark):
    """On real data (lineitem sf0.001) every certified rank error must
    sit inside ~4 standard errors of the sampling bound — the accuracy
    contract the docstring advertises."""
    from sparkobs.io import load_table
    from sparkobs.operators.profile import (
        kmv_quantile_certify,
        kmv_quantile_estimate,
        kmv_quantile_sketch,
    )

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    rid = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    k = 1024
    sk = kmv_quantile_sketch(li, rid, "l_extendedprice", k=k, salt="kmv")
    qs = (0.1, 0.5, 0.9)
    cert = kmv_quantile_certify(
        li, "l_extendedprice", kmv_quantile_estimate(sk, qs)
    ).collect()
    for r in cert:
        bound_bp = 4 * math.sqrt(r["q"] * (1 - r["q"]) / k) * 10000
        assert r["err_bp"] <= bound_bp, (r["q"], r["err_bp"], bound_bp)
        assert r["k_actual"] == k and r["n_rows"] == 6000


def test_kmv_grouped_small_groups_are_exact(spark):
    """A group smaller than k is fully sampled -> the grouped estimate
    equals the group's exact percentile bit for bit."""
    from sparkobs.operators.profile import kmv_quantile_grouped

    rows = [(("a" if i % 2 else "b"), i, float((i * 13) % 200)) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    got = {
        (r["g"], r["q"]): r["est_value"]
        for r in kmv_quantile_grouped(df, "g", "id", "v", k=500, qs=(0.5, 0.9)).collect()
    }
    exact = df.groupBy("g").agg(F.percentile("v", F.lit([0.5, 0.9])).alias("p"))
    for r in exact.collect():
        assert got[(r["g"], 0.5)] == r["p"][0]
        assert got[(r["g"], 0.9)] == r["p"][1]


def test_kmv_sketch_plan_is_mapside_topk(spark):
    """The sketch build must compile to TakeOrderedAndProject (each
    partition keeps only k rows map-side; one k-row merge) — never a
    global sort: the property that makes the one-pass build free at
    100 TB."""
    from sparkobs.io import load_table
    from sparkobs.operators.profile import kmv_quantile_sketch

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    sk = kmv_quantile_sketch(li, F.col("l_orderkey"), "l_extendedprice", k=256)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_avi_roundtrip_and_bottom_up_flip():
    """The RIFF writer/parser pair: multi-row frames come back in
    top-down order (the parser un-flips the DIB's bottom-up rows),
    stride padding is stripped, and garbage/truncated/non-8bpp
    payloads return None instead of raising."""
    from sparkobs.operators.multimodal import _avi_bytes, _parse_avi_frames

    f0 = bytes(range(10)) * 3  # 10 wide, 3 rows
    f1 = bytes(reversed(f0))
    b = _avi_bytes([f0, f1], width=10, height=3)
    w, frames = _parse_avi_frames(b)
    assert w == 10 and len(frames) == 2
    assert frames[0] == list(f0) and frames[1] == list(f1)
    assert _parse_avi_frames(b"JFIF" + b"\x00" * 100) is None
    assert _parse_avi_frames(b[:10]) is None
    # truncated mid-movi: parser keeps whatever complete frames exist
    cut = _parse_avi_frames(b[: len(b) - 5])
    assert cut is None or len(cut[1]) <= 2


def test_avi_frame_hashes_match_pgm_path(spark):
    """Container invariance: the same md5-derived frames hashed
    through the RIFF walk and through the concatenated-PGM matrix must
    collide per (video, frame) — the certification the staged query
    generalizes to the corpus."""
    from sparkobs.operators.multimodal import (
        avi_frame_hashes,
        synth_video,
        synth_video_avi,
        video_frame_hashes,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id bigint, text string"
    )
    avi = {
        (r["id"], r["frame_idx"]): r["ahash"]
        for r in avi_frame_hashes(synth_video_avi(docs), max_frames=3).collect()
    }
    pgm = {
        (r["id"], r["frame_idx"]): r["ahash"]
        for r in video_frame_hashes(synth_video(docs), max_frames=3).collect()
    }
    assert avi == pgm and len(avi) == 12  # 4 videos x 3 sampled frames
    # rotated clip shares frames with its original (shifted by one)
    assert avi[(1, 0)] == avi[(1_000_000_001, 2)] or avi[(1, 1)] == avi[(1_000_000_001, 0)]


def test_kmv_sliding_window_merge_is_exact_bottom_k(spark):
    """Daily sub-sketches merged per trailing window must equal the
    window's own bottom-k: with k >= any window's row count the
    estimates are the exact window percentiles; with small k the
    sample set still equals a direct bottom-k over the window's raw
    rows."""
    from datetime import datetime

    from sparkobs.operators.profile import (
        kmv_quantile_sketch,
        kmv_quantile_sliding,
    )

    rows = [
        (i, datetime(2024, 1, 1 + i % 5, 3), float((i * 29) % 97))
        for i in range(250)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz, v double")
    # big k: every estimate equals the exact percentile of the window
    got = kmv_quantile_sliding(
        df, "ts", "id", "v", window_days=3, k=1000, qs=(0.5,), salt="t"
    ).collect()
    for r in got:
        lo = r["day"].toordinal() - 2
        win = [
            v for (_i, ts, v) in rows
            if lo <= ts.date().toordinal() <= r["day"].toordinal()
        ]
        exact = spark.createDataFrame(
            [(x,) for x in win], "v double"
        ).agg(F.percentile("v", F.lit(0.5))).collect()[0][0]
        assert r["est_value"] == exact and r["k_actual"] == len(win)
    # small k: the day-5 window's sample = direct bottom-k of its rows
    k = 20
    small = kmv_quantile_sliding(
        df, "ts", "id", "v", window_days=3, k=k, qs=(0.5,), salt="t"
    ).collect()
    last = max(r["day"] for r in small)
    lo = last.toordinal() - 2
    win_rows = [
        (i, v) for (i, ts, v) in rows
        if lo <= ts.date().toordinal() <= last.toordinal()
    ]
    direct = kmv_quantile_sketch(
        spark.createDataFrame(win_rows, "id long, v double"), "id", "v",
        k=k, salt="t",
    )
    from sparkobs.operators.profile import kmv_quantile_estimate

    dv = kmv_quantile_estimate(direct, (0.5,)).collect()[0]["est_value"]
    got_last = [r for r in small if r["day"] == last][0]
    assert got_last["est_value"] == dv and got_last["k_actual"] == k


def test_theta_sketch_exact_when_underfull_and_estimates_when_full(spark):
    from sparkobs.operators.profile import theta_estimate, theta_sketch

    vals = spark.createDataFrame([(f"v{i}",) for i in range(300)], "c string")
    # under-full: exact distinct
    exact = theta_estimate(theta_sketch(vals, "c", k=1000, salt="t"), 1000)
    assert exact.collect()[0]["est_distinct"] == 300.0
    # full: estimate within the sampling band (k=64 -> ~12.5% stderr)
    est = theta_estimate(theta_sketch(vals, "c", k=64, salt="t"), 64).collect()[0][
        "est_distinct"
    ]
    assert 300 * 0.5 <= est <= 300 * 1.6, est
    # duplicates don't change the sketch: distinct-value semantics
    dup = vals.unionByName(vals)
    est2 = theta_estimate(theta_sketch(dup, "c", k=64, salt="t"), 64).collect()[0][
        "est_distinct"
    ]
    assert est2 == est


def test_theta_intersection_exact_empty_and_estimated(spark):
    from sparkobs.operators.profile import (
        theta_intersect_estimate,
        theta_sketch,
    )

    a = spark.createDataFrame([(f"k{i}",) for i in range(200)], "c string")
    b = spark.createDataFrame([(f"k{i}",) for i in range(150, 400)], "c string")
    # under-full on both sides: exact intersection (50 shared keys)
    ska = theta_sketch(a, "c", k=1000, salt="t")
    skb = theta_sketch(b, "c", k=1000, salt="t")
    r = theta_intersect_estimate(ska, skb, 1000).collect()[0]
    assert r["n_common"] == 50 and r["est_intersect"] == 50.0
    # disjoint sets: zero row, not an empty frame
    c = spark.createDataFrame([(f"z{i}",) for i in range(100)], "c string")
    r0 = theta_intersect_estimate(
        ska, theta_sketch(c, "c", k=1000, salt="t"), 1000
    ).collect()
    assert len(r0) == 1 and r0[0]["n_common"] == 0 and r0[0]["est_intersect"] == 0.0
    # full sketches: estimate lands within a generous sampling band
    ska64 = theta_sketch(a, "c", k=64, salt="t")
    skb64 = theta_sketch(b, "c", k=64, salt="t")
    rf = theta_intersect_estimate(ska64, skb64, 64).collect()[0]
    assert 0 < rf["est_intersect"] < 200, rf


def test_theta_verdict_driver_algebra_matches_operators(spark):
    """r14 optimization pin: `_theta_verdict` moved the k-row sketch
    set algebra driver-side (one bounded collect, ≤2k rows by sketch
    geometry). Its pure-Python arithmetic must replay the operator
    expressions BIT for BIT — over-full sketches (the estimation
    path), under-full (exact path), and the intersection θ compare —
    so the DuckDB oracle keeps certifying both theta queries
    unchanged."""
    from sparkobs.operators.profile import (
        theta_estimate,
        theta_intersect_estimate,
        theta_sketch,
    )
    from sparkobs.queries import _THETA_K, _theta_verdict

    # > _THETA_K distinct per side so both sketches are FULL and every
    # estimate takes the (k-1)*SPACE/theta division
    a = spark.createDataFrame(
        [(f"c{i}",) for i in range(3000)], "cell string"
    )
    b = spark.createDataFrame(
        [(f"c{i}",) for i in range(2200, 4800)], "cell string"
    )
    ska = theta_sketch(a, "cell", k=_THETA_K, salt="th")
    skb = theta_sketch(b, "cell", k=_THETA_K, salt="th")
    sku = ska.unionByName(skb).distinct().orderBy("h").limit(_THETA_K)
    want_a = theta_estimate(ska, _THETA_K).collect()[0]["est_distinct"]
    want_b = theta_estimate(skb, _THETA_K).collect()[0]["est_distinct"]
    want_u = theta_estimate(sku, _THETA_K).collect()[0]["est_distinct"]
    want_i = theta_intersect_estimate(ska, skb, _THETA_K).collect()[0]
    got = _theta_verdict(a, b, ska, skb).collect()[0]
    assert got["est_a"] == want_a and got["est_b"] == want_b
    assert got["est_union"] == want_u
    assert got["n_common"] == want_i["n_common"]
    assert got["est_intersect"] == want_i["est_intersect"]
    assert got["exact_intersect"] == 800

    # under-full sides: exact counts, zero intersection stays a row
    small_a = spark.createDataFrame([("x1",), ("x2",)], "cell string")
    small_b = spark.createDataFrame([("y1",)], "cell string")
    r = _theta_verdict(
        small_a,
        small_b,
        theta_sketch(small_a, "cell", k=_THETA_K, salt="th"),
        theta_sketch(small_b, "cell", k=_THETA_K, salt="th"),
    ).collect()[0]
    assert r["est_a"] == 2.0 and r["est_b"] == 1.0 and r["est_union"] == 3.0
    assert r["n_common"] == 0 and r["est_intersect"] == 0.0
    assert r["exact_intersect"] == 0


def test_tig_verdict_driver_algebra_matches_operator(spark, tmp_path):
    """r14 optimization pin for the GROUPED theta verdict: the
    driver-side per-segment algebra must reproduce
    `theta_intersect_grouped` bit for bit — over-full and under-full
    groups, one-sided groups surfacing with n_common = 0."""
    import os

    from sparkobs.operators.profile import (
        theta_intersect_grouped,
        theta_sketch_grouped,
    )
    from sparkobs.queries import _TIG_K, _tig_verdict

    # synthetic events table: seg 0 over-full both sides (>_TIG_K
    # distinct cells), seg 1 under-full with a known overlap, seg 2
    # one-sided (clicks only)
    rows = []
    for i in range(1400):
        rows.append((i, "click", 1, "2024-01-01 01:00:00"))
    for i in range(700, 2100):
        rows.append((i, "purchase", 1, "2024-01-01 01:00:00"))
    for i in range(30):
        rows.append((10_000 + i, "click", 1, "2024-01-01 07:00:00"))
    for i in range(20, 50):
        rows.append((10_000 + i, "purchase", 1, "2024-01-01 07:00:00"))
    for i in range(40):
        rows.append((20_000 + i, "click", 1, "2024-01-01 13:00:00"))
    ev = spark.createDataFrame(
        [(u, t, e, ts) for (u, t, e, ts) in rows],
        "user_id long, event_type string, event_id long, ts string",
    ).select(
        "user_id", "event_type", "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    sf = os.path.join(str(tmp_path), "sf")
    os.makedirs(sf, exist_ok=True)
    ev.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))

    import sparkobs.queries as Q

    a, b = Q._tig_sides(Q.load_table(spark, sf, "events"))
    ska = theta_sketch_grouped(a, "cell", ["seg"], k=_TIG_K, salt="th")
    skb = theta_sketch_grouped(b, "cell", ["seg"], k=_TIG_K, salt="th")
    want = {
        r["seg"]: r
        for r in theta_intersect_grouped(
            ska.localCheckpoint(eager=True),
            skb.localCheckpoint(eager=True),
            ["seg"],
            k=_TIG_K,
        ).collect()
    }
    got = {r["seg"]: r for r in _tig_verdict(spark, sf, ska, skb).collect()}
    assert set(got) == set(want) and len(want) >= 3
    for seg, w in want.items():
        g = got[seg]
        assert g["n_common"] == w["n_common"], seg
        assert g["est_intersect"] == w["est_intersect"], seg
    # seg 0 is over-full on both sides: the estimation path ran
    assert want[0]["est_intersect"] not in (0.0, float(want[0]["n_common"]))
    # seg 2 is click-only: surfaces with empty intersection
    assert got[2]["n_common"] == 0 and got[2]["exact_intersect"] == 0


def test_zone_map_stage_prunes_predecessors_and_publishes_atomically(
    spark, tmp_path
):
    """r7 ADVICE: regenerating the source must not leak the previous
    range-partitioned stage forever, and the publish must be
    tmp+rename (no _SUCCESS visible inside a half-written dir). Stage,
    touch the source mtime, stage again: the old stage dir is pruned,
    the new one is complete, and a sibling source (different sf dir)
    is untouched."""
    import glob as _glob
    import os
    import time

    from sparkobs.io import ZM16_STAGE, stage_dir
    from sparkobs.queries import zone_map_prune_orders

    sf = os.path.join(str(tmp_path), "sfx")
    os.makedirs(sf)
    spark.range(100).selectExpr(
        "id AS o_orderkey",
        "timestampadd(DAY, CAST(id AS INT), TIMESTAMP '1995-01-01') AS o_orderdate",
    ).write.parquet(os.path.join(sf, "orders.parquet"))
    zone_map_prune_orders(spark, sf)
    s1 = stage_dir(sf, *ZM16_STAGE)
    assert os.path.exists(os.path.join(s1, "_SUCCESS"))
    # regenerate the source: mtime changes -> new version key
    time.sleep(0.05)
    os.utime(os.path.join(sf, "orders.parquet"))
    s2 = stage_dir(sf, *ZM16_STAGE)
    assert s2 != s1
    zone_map_prune_orders(spark, sf)
    assert os.path.exists(os.path.join(s2, "_SUCCESS"))
    # predecessor pruned, no tmp/aside leftovers for this source
    prefix = os.path.basename(s2).rsplit("_", 1)[0]
    siblings = _glob.glob(os.path.join(os.path.dirname(s2), f"{prefix}_*"))
    assert siblings == [s2], siblings
    # idempotent re-entry
    zone_map_prune_orders(spark, sf)
    assert stage_dir(sf, *ZM16_STAGE) == s2
    # r8 ADVICE crash path: a dead process's .aside/.tmp siblings of
    # the CURRENT base are swept on the next staging pass (a live
    # pid's — simulated by pid 1 — survive)
    # force a new version key so the next call takes the staging path
    # (the sweep only runs there), then plant leftovers that share the
    # NEW base
    time.sleep(0.05)
    os.utime(os.path.join(sf, "orders.parquet"))
    s3 = stage_dir(sf, *ZM16_STAGE)
    dead_aside = f"{s3}.aside999999"  # pid 999999: beyond pid_max
    # pid 1 = init: always alive, kill(1,0) raises EPERM -> "live"
    # (our own pid would collide with the stager's own tmp path)
    live_tmp = f"{s3}.tmp1"
    for d in (dead_aside, live_tmp):
        os.makedirs(d, exist_ok=True)
    zone_map_prune_orders(spark, sf)
    assert os.path.exists(os.path.join(s3, "_SUCCESS"))
    assert not os.path.exists(dead_aside), "dead-pid aside must be swept"
    assert os.path.exists(live_tmp), "live-pid tmp must survive the sweep"
    os.rmdir(live_tmp)


def test_remove_duplicated_spans_cuts_shared_spans_only(spark):
    """Hand corpus: a 5-gram shared by two docs is cut from BOTH; the
    surrounding novel tokens survive in order; a doc made entirely of
    the shared span survives empty; an untouched doc round-trips with
    whitespace normalized."""
    from sparkobs.operators.dedup import remove_duplicated_spans

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {shared} omega"),
            (2, f"start {shared} end tail"),
            (3, shared),
            (4, "totally  novel   text here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=5).collect()}
    assert out[1]["clean_text"] == "alpha omega"
    assert out[1]["removed_tokens"] == 5 and out[1]["n_tokens"] == 7
    assert out[2]["clean_text"] == "start end tail"
    assert out[3]["clean_text"] == "" and out[3]["kept_tokens"] == 0
    assert out[4]["clean_text"] == "totally novel text here"
    assert out[4]["removed_tokens"] == 0
    # overlapping shared windows: doc1/doc2 share a 6-token run -> all
    # 6 positions covered through the two overlapping 5-grams
    docs2 = spark.createDataFrame(
        [(1, "a b c d e f x"), (2, "y a b c d e f")],
        "doc_id long, text string",
    )
    out2 = {
        r["doc_id"]: r for r in remove_duplicated_spans(docs2, n=5).collect()
    }
    assert out2[1]["clean_text"] == "x" and out2[2]["clean_text"] == "y"


def test_percentile_contract_verdicts(spark):
    """Hand data: a table whose p95 sits under the ceiling passes, one
    over it fails; estimates equal the exact percentile when k covers
    the data."""
    from sparkobs.operators.checks import percentile_contract

    small = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    out = {
        r["table_name"]: r
        for r in percentile_contract(
            [
                ("ok_table", small, "id", "v", 0.95, 200.0),
                ("bad_table", small, "id", "v", 0.95, 50.0),
            ],
            k=1000,
        ).collect()
    }
    exact = small.agg(F.percentile("v", F.lit(0.95))).collect()[0][0]
    assert out["ok_table"]["est_value"] == exact and out["ok_table"]["ok"]
    assert out["bad_table"]["est_value"] == exact and not out["bad_table"]["ok"]
    assert out["ok_table"]["ceiling"] == 200.0
    # an empty table still emits its verdict row: est NULL, ok False —
    # a monitor over a table that went empty must fail loudly, not
    # disappear (r8 review)
    empty = spark.createDataFrame([], "id long, v double")
    rows = percentile_contract(
        [("gone", empty, "id", "v", 0.95, 10.0)], k=100
    ).collect()
    assert len(rows) == 1
    assert rows[0]["est_value"] is None and rows[0]["ok"] is False


def test_salted_hash60_matches_python_md5(spark):
    """_salted_hash60 is THE shared hash of the sketch family; pin it
    against an independent Python computation so a Spark expression
    tweak can never silently move every sketch at once."""
    import hashlib

    from sparkobs.operators.profile import _salted_hash60

    df = spark.createDataFrame(
        [("k1",), ("",), ("Ünïcode ツ",), ("123",)], "c string"
    )
    got = {
        r["c"]: r["h"]
        for r in df.select("c", _salted_hash60(F.col("c"), "s").alias("h")).collect()
    }
    for c, h in got.items():
        want = int(hashlib.md5(("s" + c).encode("utf-8")).hexdigest()[:15], 16)
        assert h == want, (c, h, want)


def test_theta_intersection_excludes_kth_hash_boundary(spark):
    """The theta convention: the sample is hashes STRICTLY below θ
    (the k-th smallest defines θ and is excluded) — a common hash
    exactly AT a full sketch's θ must not count into n_common."""
    from sparkobs.operators.profile import theta_intersect_estimate

    # hand-built sketches: A full at k=3 (θ_A = 30), B under-full
    ska = spark.createDataFrame([(10,), (20,), (30,)], "h long")
    skb = spark.createDataFrame([(20,), (30,)], "h long")
    r = theta_intersect_estimate(ska, skb, k=3).collect()[0]
    # common hashes {20, 30}; θ = min(30, SPACE) = 30 → only 20 counts
    assert r["n_common"] == 1
