

"""Hand-value unit tests for the round-7 operator wave (statistics,
series diagnostics, behavioral shapes) — the oracle sweep pins
cross-engine parity; these pin the MATH on inputs small enough to
check by hand."""

from datetime import datetime

import pytest

import sparkobs.queries as Q


def test_spearman_perfect_and_inverse_monotone(spark):
    from sparkobs.operators.profile import spearman_corr

    up = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(1, 30)], "a double, b double"
    )
    assert spearman_corr(up, "a", "b").collect()[0]["rho"] == 1.0
    down = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(1, 30)], "a double, b double"
    )
    assert spearman_corr(down, "a", "b").collect()[0]["rho"] == -1.0
    const = spark.createDataFrame(
        [(float(i), 7.0) for i in range(1, 30)], "a double, b double"
    )
    r = spearman_corr(const, "a", "b").collect()[0]
    assert r["rho"] == 0.0 and r["n_rows"] == 29


def test_cramers_v_extremes(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import cramers_v

    # perfect dependence: b == a -> V == 1
    dep = spark.createDataFrame(
        [(i % 3, i % 3) for i in range(300)], "a int, b int"
    )
    assert cramers_v(dep, F.col("a"), F.col("b")).collect()[0]["v"] == 1.0
    # constant column -> degenerate, defined 0.0 (matches normalized-MI)
    const = spark.createDataFrame([(i % 3, 1) for i in range(30)], "a int, b int")
    assert cramers_v(const, F.col("a"), F.col("b")).collect()[0]["v"] == 0.0


def test_benford_counts_first_significant_digit(spark):
    from sparkobs.operators.profile import benford_screen

    rows = [(101.0,), (19.5,), (0.92,), (923.0,), (0.0,), (None,), (-315.0,)]
    df = spark.createDataFrame(rows, "x double")
    got = {r["digit"]: r["n_values"] for r in benford_screen(df, "x").collect()}
    # 101->1, 19.5->1, 0.92->9, 923->9, -315->3; zero/null dropped
    assert got == {1: 2, 3: 1, 9: 2}
    row1 = [r for r in benford_screen(df, "x").collect() if r["digit"] == 1][0]
    assert row1["exp_share"] == 0.301  # log10(2)


def test_trend_slope_recovers_linear_growth(spark):
    from sparkobs.operators.state import trend_slope

    # k events in hour k -> count series y = x + 1 exactly -> slope 1
    rows = [
        ("a", i, datetime(2024, 1, 1, h, 0, 0))
        for h in range(10)
        for i in range(h + 1)
    ]
    df = spark.createDataFrame(rows, "event_type string, i long, ts timestamp")
    r = trend_slope(df, ["event_type"], "ts").collect()[0]
    assert (r["n_buckets"], r["slope"]) == (10, 1.0)


def test_acf1_flat_series_is_degenerate_zero(spark):
    from sparkobs.operators.state import acf_lag1

    rows = [
        ("a", i, datetime(2024, 1, 1, h, 0, 0))
        for h in range(8)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "event_type string, i long, ts timestamp")
    r = acf_lag1(df, ["event_type"], "ts").collect()[0]
    assert (r["n_buckets"], r["n_pairs"], r["acf1"]) == (8, 7, 0.0)


def test_cusum_peaks_at_the_level_shift(spark):
    from sparkobs.operators.state import cusum_changepoint

    # 6 quiet hours (1 event) then 6 loud hours (5 events): CUSUM apex
    # at the last pre-shift bucket
    rows = []
    for h in range(12):
        for i in range(1 if h < 6 else 5):
            rows.append(("a", i, datetime(2024, 1, 1, h, 0, 0)))
    df = spark.createDataFrame(rows, "event_type string, i long, ts timestamp")
    r = cusum_changepoint(df, ["event_type"], "ts").collect()[0]
    assert r["n_buckets"] == 12
    # mean = 3; after 6 quiet hours S = 6*(1-3) = -12 (the extreme)
    assert r["cusum_max"] == 12.0
    assert r["changepoint_ts"] == datetime(2024, 1, 1, 5, 0, 0)


def test_scd2_history_collapses_runs_and_handles_nulls(spark):
    from sparkobs.operators.state import scd2_history

    rows = [
        (1, "x", datetime(2024, 1, 1), 1),
        (1, "x", datetime(2024, 1, 2), 2),   # repeat -> no new version
        (1, "y", datetime(2024, 1, 3), 3),   # change
        (1, None, datetime(2024, 1, 4), 4),  # change to NULL
        (1, None, datetime(2024, 1, 5), 5),  # NULL repeat -> no version
        (2, None, datetime(2024, 1, 1), 6),  # first obs IS NULL -> version
    ]
    df = spark.createDataFrame(rows, "k long, a string, ts timestamp, id long")
    out = sorted(
        (
            (r["k"], r["attr_value"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_history(df, ["k"], "a", "ts", "id").collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert out == [
        (1, "x", datetime(2024, 1, 1), datetime(2024, 1, 3), False),
        (1, "y", datetime(2024, 1, 3), datetime(2024, 1, 4), False),
        (1, None, datetime(2024, 1, 4), None, True),
        (2, None, datetime(2024, 1, 1), None, True),
    ]


def test_activity_islands_splits_on_gaps(spark):
    from sparkobs.operators.behavior import activity_islands

    hours = [0, 1, 2, 5, 6, 9]  # islands: [0-2], [5-6], [9]
    rows = [("a", i, datetime(2024, 1, 1, h, m, 0))
            for i, h in enumerate(hours) for m in (0, 30)]
    df = spark.createDataFrame(rows, "event_type string, i long, ts timestamp")
    r = activity_islands(df, ["event_type"], "ts").collect()[0]
    assert (r["n_islands"], r["longest_streak"], r["active_buckets"]) == (3, 3, 6)
    assert r["mean_streak"] == 2.0


def test_association_rules_lift_signs(spark):
    from sparkobs.operators.behavior import association_rules

    # users 0..19 all do A and B (perfect co-occurrence); 20..39 only C
    rows = [(u, t) for u in range(20) for t in ("A", "B")] + [
        (u, "C") for u in range(20, 40)
    ]
    df = spark.createDataFrame(rows, "u long, t string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in association_rules(df, "u", "t", min_support=5).collect()
    }
    ab = got[("A", "B")]
    assert ab["n_both"] == 20 and ab["support"] == 0.5
    assert ab["confidence"] == 1.0 and ab["lift"] == 2.0  # 40/20
    assert ("A", "C") not in got  # never co-occur


def test_ab_ztest_identical_halves_z_zero(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.behavior import ab_conversion_ztest

    # even users variant 0, odd variant 1; both halves convert iff u % 4 < 2
    rows = [(u, "purchase" if u % 4 < 2 else "view") for u in range(400)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    r = ab_conversion_ztest(
        df,
        "user_id",
        convert_expr=(F.col("event_type") == "purchase"),
        variant_expr=(F.col("user_id") % 2),
    ).collect()[0]
    assert r["n_0"] == r["n_1"] == 200
    assert r["rate_0"] == r["rate_1"] == 0.5
    assert r["z_score"] == 0.0


def test_rfm_scores_order_and_segments(spark):
    from sparkobs.operators.behavior import rfm_scores

    # 8 customers, descending activity: customer 0 is best on all axes
    rows = []
    for c in range(8):
        for k in range(8 - c):
            rows.append((c, datetime(2024, 1, 20 - c, 12, 0, 0), 100.0 * (8 - c)))
    df = spark.createDataFrame(rows, "cust long, ts timestamp, amt double")
    out = {r["key"]: r for r in rfm_scores(df, "cust", "ts", "amt").collect()}
    assert out[0]["r_score"] == out[0]["f_score"] == out[0]["m_score"] == 1
    assert out[0]["rfm_segment"] == "111"
    assert out[7]["r_score"] == out[7]["f_score"] == out[7]["m_score"] == 4
    assert out[0]["frequency"] == 8 and out[0]["monetary"] == 6400.0


def test_r7_olap_plan_discipline(spark):
    from plan_helpers import count_exchanges, physical_plan

    SF = "/root/testdata/sf0.001"

    # Q9: three broadcast dimension legs, no cartesian anywhere
    p9 = physical_plan(Q.SPARK_QUERIES["product_profit_q9"](spark, SF))
    assert p9.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p9
    # Q16: the supplier denylist compiles to a broadcast anti join
    p16 = physical_plan(Q.SPARK_QUERIES["supplier_variety_q16"](spark, SF))
    assert "LeftAnti" in p16
    # Q19: disjunctive predicates stay a single broadcast join pass
    p19 = physical_plan(Q.SPARK_QUERIES["disjunctive_revenue_q19"](spark, SF))
    assert "BroadcastHashJoin" in p19 and "CartesianProduct" not in p19
    # Q2: ONE (part, supplier) aggregate serves min + membership via a
    # window — no second lineitem scan subtree
    from plan_helpers import scans

    assert len(scans(Q.SPARK_QUERIES["min_price_supplier_q2"](spark, SF))) == 2
    # Spearman: ranks come from value tables via the distributed
    # running sum — windows are __pid-partitioned, never a global sort
    # of the raw data (the only SinglePartition exchange allowed is
    # the final 1-row statistic aggregation)
    psp = physical_plan(
        Q.SPARK_QUERIES["spearman_quantity_price_lineitem"](spark, SF)
    )
    assert "hashpartitioning(__pid" in psp  # the distributed-rank exchange


def test_emd_is_exact_shift_distance(spark):
    from sparkobs.operators.profile import emd_drift_binned

    a = spark.createDataFrame([(10.0,)] * 50, "value double")
    b = spark.createDataFrame([(70.0,)] * 30, "value double")
    r = emd_drift_binned(a, b, "value", 0.0, 100.0, 100).collect()[0]
    # point mass moved 60 units -> W1 = 60; KS gap = 1 over that span
    assert (r["emd"], r["ks_d"], r["n_a"], r["n_b"]) == (60.0, 1.0, 50, 30)
    same = emd_drift_binned(a, a, "value", 0.0, 100.0, 100).collect()[0]
    assert same["emd"] == 0.0 and same["ks_d"] == 0.0


def test_interarrival_hand_gaps(spark):
    from sparkobs.operators.behavior import interarrival_stats

    rows = [
        (1, "x", datetime(2024, 1, 1, 0, 0, 0), 1),
        (1, "x", datetime(2024, 1, 1, 0, 0, 10), 2),
        (1, "x", datetime(2024, 1, 1, 0, 0, 40), 3),
        (2, "x", datetime(2024, 1, 1, 0, 0, 0), 4),  # single event: no gap
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp, event_id long")
    r = interarrival_stats(df, ["user_id"], ["event_type"], "ts", "event_id").collect()[0]
    assert (r["n_gaps"], r["mean_gap_s"], r["p50_gap_s"], r["max_gap_s"]) == (
        2, 20.0, 20.0, 30.0,
    )


def test_patchify_drops_partial_patches_and_types_errors(spark):
    from sparkobs.operators.multimodal import patchify_media, synth_media

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    media = synth_media(docs)  # 32x1 rasters (pgm + png)
    # patch 5x1 -> floor(32/5) = 6 complete patches per payload, the
    # trailing 2 columns dropped (ViT convention)
    rows = patchify_media(media, patch_w=5, patch_h=1).collect()
    assert len(rows) == 12 and all(r["error"] is None for r in rows)
    assert sorted({r["patch_col"] for r in rows}) == [0, 1, 2, 3, 4, 5]
    # patch taller than the image -> zero patches, zero errors
    assert patchify_media(media, patch_w=8, patch_h=2).count() == 0
    # undecodable payload -> one typed error row, NULL grid coords
    bad = spark.createDataFrame(
        [(9, bytearray(b"not an image"))], "id long, content binary"
    )
    err = patchify_media(bad, 8, 1).collect()
    assert len(err) == 1 and err[0]["patch_row"] is None
    assert err[0]["error"] is not None


def test_kmeans_separates_two_obvious_blobs(spark):
    from sparkobs.operators.cluster import kmeans_fit

    # two tight blobs on opposite corners of a 4-d cube; k=2 must
    # split them exactly and converge to (near) zero inertia
    rows = [(i, [0.1 + 0.001 * i, 0.1, 0.1, 0.1]) for i in range(10)] + [
        (100 + i, [0.9, 0.9 - 0.001 * i, 0.9, 0.9]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["cluster"]: r for r in kmeans_fit(df, k=2, iters=2).collect()}
    assert len(out) == 2
    assert {r["n_members"] for r in out.values()} == {10}
    for r in out.values():
        assert r["inertia"] < 1e-3  # within-blob spread only
        assert r["centroid_ss"] > 0


def test_kmeans_iterations_do_not_increase_inertia(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.cluster import kmeans_fit
    from sparkobs.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def total_inertia(iters):
        return (
            kmeans_fit(emb, k=4, iters=iters)
            .agg(F.sum("inertia").alias("s"))
            .collect()[0]["s"]
        )

    i1, i2 = total_inertia(1), total_inertia(2)
    # Lloyd guarantee (exact arithmetic, modulo the 1e-5 centroid
    # re-gridding): another iteration never makes the fit worse by
    # more than the grid's rounding slack
    assert i2 <= i1 * (1 + 1e-6)


def test_kmeans_empty_cluster_drops_not_errors(spark):
    from sparkobs.operators.cluster import kmeans_fit

    # 3 identical vectors, k=3: seeds coincide, everything assigns to
    # cluster 0 (lowest id tie-break); clusters 1,2 drop
    df = spark.createDataFrame(
        [(i, [0.5, 0.5]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_fit(df, k=3, iters=2).collect()
    assert len(out) == 1
    assert out[0]["cluster"] == 0 and out[0]["n_members"] == 3
    assert out[0]["inertia"] == 0.0


def test_pagerank_hub_outranks_leaves(spark):
    from sparkobs.operators.graph import pagerank_fixed

    # undirected star: hub 0 <-> leaves 1..5; hub must rank highest
    # and all leaves must tie exactly (integer arithmetic)
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = {row["node"]: row["rank_units"] for row in pagerank_fixed(df, iters=3).collect()}
    assert len(r) == 6
    leaf_ranks = {r[i] for i in range(1, 6)}
    assert len(leaf_ranks) == 1
    assert r[0] > leaf_ranks.pop()


def test_pagerank_regular_graph_is_uniform_and_conserves_mass(spark):
    from sparkobs.operators.graph import pagerank_fixed

    # 4-cycle (2-regular): uniform stationary distribution; ranks stay
    # equal at every iteration, and total mass stays within the
    # documented floor-division leak of 1e9
    edges = []
    for i in range(4):
        j = (i + 1) % 4
        edges += [(i, j), (j, i)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank_fixed(df, iters=3).collect()
    units = [row["rank_units"] for row in rows]
    assert len(set(units)) == 1
    total = sum(units)
    assert 0 <= 1_000_000_000 - total < 1000  # at most the floor leak


def test_copurchase_edges_are_symmetric_and_disjointly_encoded(spark):
    from pyspark.sql import functions as F

    from sparkobs.io import load_table
    from sparkobs.operators.graph import copurchase_edges

    sf = "/root/testdata/sf0.001"
    e = copurchase_edges(
        load_table(spark, sf, "lineitem"), load_table(spark, sf, "orders")
    )
    n_fwd = e.where((F.col("src") % 2 == 0)).count()
    n_rev = e.where((F.col("src") % 2 == 1)).count()
    assert n_fwd == n_rev and n_fwd > 0
    # encoding keeps the two key spaces disjoint: every edge connects
    # one even (supplier) and one odd (customer) node
    assert e.where((F.col("src") + F.col("dst")) % 2 == 0).count() == 0


def test_adjusted_rand_index_extremes(spark):
    from sparkobs.operators.cluster import adjusted_rand_index

    ids = list(range(40))
    part = spark.createDataFrame(
        [(i, i % 4) for i in ids], "id long, cluster long"
    )
    same = spark.createDataFrame(
        # same partition under permuted label names -> perfect ARI
        [(i, (i % 4 + 7) * 3) for i in ids], "id long, label long"
    )
    assert adjusted_rand_index(part, same).collect()[0]["ari"] == 1.0
    # one trivial side: a single cluster carries zero information,
    # chance correction sends the index to exactly 0
    one = spark.createDataFrame([(i, 0) for i in ids], "id long, cluster long")
    labs = spark.createDataFrame([(i, i % 5) for i in ids], "id long, label long")
    r = adjusted_rand_index(one, labs).collect()[0]
    assert r["ari"] == 0.0 and r["n_clusters"] == 1 and r["n_labels"] == 5
    # both sides trivial -> denominator 0 -> NULL by convention
    both = adjusted_rand_index(
        one, spark.createDataFrame([(i, 9) for i in ids], "id long, label long")
    ).collect()[0]
    assert both["ari"] is None


def test_hll_intersection_tracks_true_overlap(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import (
        hll_intersection_estimate,
        hll_registers,
    )

    a = spark.range(0, 2000).select(F.col("id").alias("k"))
    b = spark.range(1000, 3000).select(F.col("id").alias("k"))
    r = hll_intersection_estimate(
        hll_registers(a, "k"), hll_registers(b, "k")
    ).collect()[0]
    # true intersection 1000, union 3000. The m=256 sketch carries
    # ~6.5% sigma per estimate and inclusion-exclusion compounds three
    # of them against the smaller intersection -- deterministic md5
    # hashing makes the values reproducible, the bounds just have to
    # respect the geometry
    assert abs(r["est_intersection"] - 1000) / 1000 < 0.5
    assert abs(r["est_union"] - 3000) / 3000 < 0.2
    # disjoint sets: the estimate collapses toward 0 (may be slightly
    # negative -- inclusion-exclusion of noisy sketches)
    c = spark.range(5000, 7000).select(F.col("id").alias("k"))
    r2 = hll_intersection_estimate(
        hll_registers(a, "k"), hll_registers(c, "k")
    ).collect()[0]
    assert abs(r2["est_intersection"]) / 4000 < 0.2


def test_km_survival_textbook_curve_with_censoring(spark):
    from sparkobs.operators.behavior import km_survival

    # classic worked example: deaths at 1, 2, 3; censored at 2 and 4
    rows = [(1, 1), (2, 1), (2, 0), (3, 1), (4, 0)]
    df = spark.createDataFrame(rows, "duration long, observed long")
    got = [
        (r["duration"], r["n_at_risk"], r["n_deaths"], r["survival"])
        for r in km_survival(df).orderBy("duration").collect()
    ]
    # S(1)=4/5, S(2)=4/5*3/4=3/5, S(3)=3/5*1/2 (censored-at-2 leaves
    # the risk set after t=2; censored-at-4 never becomes a step)
    assert got == [(1, 5, 1, 0.8), (2, 4, 1, 0.6), (3, 2, 1, 0.3)]


def test_km_survival_terminal_step_is_exact_zero(spark):
    from sparkobs.operators.behavior import km_survival

    df = spark.createDataFrame(
        [(5, 1), (5, 1)], "duration long, observed long"
    )
    got = km_survival(df).collect()
    assert len(got) == 1
    assert (got[0]["n_at_risk"], got[0]["n_deaths"], got[0]["survival"]) == (
        2, 2, 0.0,
    )


def test_km_survival_duration_grid_bounds_step_table(spark):
    from sparkobs.operators.behavior import km_survival

    # continuous-ish durations: 6 subjects, 6 DISTINCT values — the
    # ungridded step table is subject-sized (the 100 TB hazard the
    # duration_grid param exists to cap)
    rows = [(3, 1), (7, 1), (12, 1), (17, 1), (23, 0), (29, 1)]
    df = spark.createDataFrame(rows, "duration long, observed long")
    assert km_survival(df).count() == 5  # every uncensored t is a step

    # grid=10 snaps to bucket lower edges {0,10,20}: 3 steps max,
    # and the KM arithmetic runs over the MERGED buckets
    got = [
        (r["duration"], r["n_at_risk"], r["n_deaths"], r["survival"])
        for r in km_survival(df, duration_grid=10)
        .orderBy("duration")
        .collect()
    ]
    # bucket 0: {3,7} both die  -> S = 4/6
    # bucket 10: {12,17} die    -> S = 4/6 * 2/4
    # bucket 20: {23 censored, 29 dies}; censor-at-equal-time stays in
    # the risk set for the step -> S = 1/3 * 1/2
    assert got == [(0, 6, 2, 0.6667), (10, 4, 2, 0.3333), (20, 2, 1, 0.1667)]

    # grid=1 on integer durations is the identity (snap is a no-op)
    base = km_survival(df).orderBy("duration").collect()
    g1 = km_survival(df, duration_grid=1).orderBy("duration").collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in g1]


def test_km_survival_duration_grid_exact_above_double_precision(spark):
    """The grid snap must be exact INTEGER division (r14 review:
    floor(long/long) rides a double cast, imprecise above 2^53).
    Durations near 2^60 with a grid that does not divide them evenly
    snap to the exact t div grid bucket."""
    from sparkobs.operators.behavior import km_survival

    big = (1 << 60) + 7  # not representable as a double
    grid = 10
    df = spark.createDataFrame(
        [(big, 1), (big + 3, 1)], "duration long, observed long"
    )
    got = km_survival(df, duration_grid=grid).collect()
    assert len(got) == 1
    assert got[0]["duration"] == (big // grid) * grid  # exact python int


def test_km_survival_duration_grid_validation(spark):
    import pytest

    from sparkobs.operators.behavior import km_survival

    df = spark.createDataFrame([(1, 1)], "duration long, observed long")
    with pytest.raises(ValueError, match="duration_grid"):
        km_survival(df, duration_grid=0)
    # int() truncation must not smuggle a float in (0,1) past the
    # check as grid=0 (r14 review)
    with pytest.raises(ValueError, match="duration_grid"):
        km_survival(df, duration_grid=0.5)
    with pytest.raises(ValueError, match="duration_grid"):
        km_survival(df, duration_grid=2.5)


def test_km_survival_empty_input_returns_empty(spark):
    from sparkobs.operators.behavior import km_survival

    df = spark.createDataFrame([], "duration long, observed long")
    got = km_survival(df)
    assert got.count() == 0
    assert got.columns == ["duration", "n_at_risk", "n_deaths", "survival"]


def test_ols_recovers_exact_linear_coefficients(spark):
    from sparkobs.operators.features import ols_two_features

    # y = 10 + 2*x1 + 3*x2 exactly (integer design, no noise):
    # the closed form must recover the coefficients and R^2 == 1
    rows = [
        (x1, x2, 10 + 2 * x1 + 3 * x2)
        for x1 in range(1, 11)
        for x2 in range(0, 7)
    ]
    df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
    r = ols_two_features(df, "x1", "x2", "y").collect()[0]
    assert abs(r["intercept"] - 10) < 1e-9
    assert abs(r["beta_x1"] - 2) < 1e-9
    assert abs(r["beta_x2"] - 3) < 1e-9
    assert abs(r["r2"] - 1.0) < 1e-12
    assert r["n_rows"] == 70
    # collinear design (x2 = 2*x1): singular normal equations -> NULL
    col_rows = [(x1, 2 * x1, x1 * 5) for x1 in range(1, 20)]
    cdf = spark.createDataFrame(col_rows, "x1 long, x2 long, y long")
    c = ols_two_features(cdf, "x1", "x2", "y").collect()[0]
    assert c["intercept"] is None and c["beta_x1"] is None


def test_cuped_exact_design_theta_one_and_lift_preserved(spark):
    from sparkobs.operators.features import cuped_lift

    # y = x + 5*v with x identically distributed in both variants:
    # pooled theta == 1 exactly, lift == lift_cuped == 5, and
    # var_reduction == rho^2 == 33/58 (hand-computed integers)
    rows = [(0, x, x) for x in range(10)] + [(1, x, x + 5) for x in range(10)]
    df = spark.createDataFrame(rows, "v long, x long, y long")
    r = cuped_lift(df, "v", "x", "y").collect()[0]
    assert (r["n_0"], r["n_1"]) == (10, 10)
    assert r["theta"] == 1.0
    assert r["lift"] == 5.0 and r["lift_cuped"] == 5.0
    assert abs(r["var_reduction"] - 33 / 58) < 1e-12
    # constant covariate: theta NULL, adjusted lift falls back to raw
    const = spark.createDataFrame(
        [(v, 7, v * 3) for v in (0, 1) for _ in range(5)], "v long, x long, y long"
    )
    c = cuped_lift(const, "v", "x", "y").collect()[0]
    assert c["theta"] is None and c["lift_cuped"] == c["lift"] == 3.0


def test_weighted_pagerank_favors_heavy_edges(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.graph import pagerank_fixed

    # star: hub 0 with leaves 1..3, but the 0->1 edge carries 10x the
    # weight -> leaf 1 receives 10/12 of the hub's rank and must
    # outrank leaves 2,3 (which tie exactly); unweighted ranks them
    # equal
    edges = [(0, 1, 10), (0, 2, 1), (0, 3, 1)] + [
        (leaf, 0, 1) for leaf in (1, 2, 3)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    r = {
        row["node"]: row["rank_units"]
        for row in pagerank_fixed(df, iters=3, weight_col="w").collect()
    }
    assert r[1] > r[2] == r[3]
    uw = {
        row["node"]: row["rank_units"]
        for row in pagerank_fixed(df.select("src", "dst"), iters=3).collect()
    }
    assert uw[1] == uw[2] == uw[3]


def test_personalized_pagerank_decays_with_distance(spark):
    from sparkobs.operators.graph import pagerank_fixed

    # undirected path 0-1-2-3-4, teleport at {0}. Near convergence
    # (12 supersteps -- few-iteration PPR carries parity waves on a
    # path) ranks strictly decrease with hop distance from the
    # teleport node; the global variant instead favors midpoints.
    path = []
    for i in range(4):
        path += [(i, i + 1), (i + 1, i)]
    df = spark.createDataFrame(path, "src long, dst long")
    tele = spark.createDataFrame([(0,)], "node long")
    r = {
        row["node"]: row["rank_units"]
        for row in pagerank_fixed(df, iters=12, teleport=tele).collect()
    }
    assert r[0] > r[1] > r[2] > r[3] > r[4]
    assert 0 <= 1_000_000_000 - sum(r.values()) < 2000  # floor leak only
    g = {
        row["node"]: row["rank_units"]
        for row in pagerank_fixed(df, iters=4).collect()
    }
    assert g[2] > g[0]  # midpoint beats endpoint globally
    # symmetry of the global variant on the symmetric path
    assert g[0] == g[4] and g[1] == g[3]


def test_triangle_stats_hand_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, 6 edges, 12 wedges, clustering 1)
    # plus a pendant node 5 attached to 1 (adds 1 edge, 3 wedges at
    # node 1's new degree 4: C(4,2)-C(3,2)=3, no new triangle).
    from unittest.mock import patch

    from sparkobs.operators import graph

    k4 = [(u, v) for u in range(1, 5) for v in range(u + 1, 5)]
    edges = spark.createDataFrame(k4 + [(1, 5)], "u bigint, v bigint")
    # both dispatch tiers must produce the identical row: the dense
    # trace(A³)/6 path (default at this size) and the distributed
    # oriented-adjacency-intersection path (forced via a zero cap)
    for cap in (graph.DENSE_TRI_MAX_NODES, 0):
        with patch.object(graph, "DENSE_TRI_MAX_NODES", cap):
            row = graph.triangle_stats(edges).collect()[0]
        assert row["n_nodes"] == 5
        assert row["n_edges"] == 7
        assert row["n_triangles"] == 4
        assert row["n_wedges"] == 15
        assert row["global_clustering"] == 3.0 * 4 / 15


def test_cooccurrence_edges_dedupes_and_canonicalizes(spark):
    from sparkobs.operators.graph import cooccurrence_edges

    df = spark.createDataFrame(
        [(10, 2), (10, 1), (10, 2), (20, 1), (20, 2), (30, 7)],
        "g bigint, n bigint",
    )
    got = sorted((r["u"], r["v"]) for r in cooccurrence_edges(df, "g", "n").collect())
    assert got == [(1, 2)]  # dedup across groups, u < v, singletons drop


def test_salted_distinct_equals_plain_any_n_salts(spark):
    import random

    from pyspark.sql import functions as F

    from sparkobs.operators.shape import grouped_distinct_salted

    rng = random.Random(3)
    rows = [(rng.choice("ab"), rng.randint(0, 40)) for _ in range(500)]
    df = spark.createDataFrame(rows, "k string, v int")
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("n")).collect()
    }
    for n_salts in (1, 7, 64):
        got = {
            r["k"]: r["n_distinct_v"]
            for r in grouped_distinct_salted(df, "k", "v", n_salts).collect()
        }
        assert got == plain, n_salts


def test_linear_attribution_hand_journey(spark):
    from sparkobs.operators.behavior import linear_attribution

    # user 1: view, click, PURCHASE(p1), signup, PURCHASE(p2)
    #   -> p1 split over {view, click} (500000 each),
    #      p2 credited wholly to signup.
    # user 2: click with no purchase -> drops.
    # user 3: PURCHASE with no prior touch -> no credit anywhere.
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:01:00", 1, "click"),
        (3, "2024-01-01 00:02:00", 1, "purchase"),
        (4, "2024-01-01 00:03:00", 1, "signup"),
        (5, "2024-01-01 00:04:00", 1, "purchase"),
        (6, "2024-01-01 00:00:00", 2, "click"),
        (7, "2024-01-01 00:00:00", 3, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts_s string, user_id bigint, event_type string"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "event_type")
    got = {
        r["event_type"]: (r["n_touches"], r["n_conversions"], r["credit_units"])
        for r in linear_attribution(df, conversion="purchase").collect()
    }
    assert got == {
        "view": (1, 1, 500_000),
        "click": (1, 1, 500_000),
        "signup": (1, 1, 1_000_000),
    }


def test_linear_attribution_remainder_goes_to_earliest(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.behavior import linear_attribution

    # 3 touches -> 333333 each + remainder 1 to the EARLIEST (view).
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:01:00", 1, "click"),
        (3, "2024-01-01 00:02:00", 1, "click"),
        (4, "2024-01-01 00:03:00", 1, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts_s string, user_id bigint, event_type string"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "event_type")
    out = linear_attribution(df, conversion="purchase")
    got = {r["event_type"]: r["credit_units"] for r in out.collect()}
    assert got == {"view": 333_334, "click": 666_666}
    assert out.agg(F.sum("credit_units")).collect()[0][0] == 1_000_000


def test_min_label_components_two_islands_and_isolate(spark):
    from sparkobs.operators.graph import min_label_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node bigint")
    # path 1-2-3, triangle 4-5-6, isolate 7 (edges symmetric)
    und = [(1, 2), (2, 3), (4, 5), (5, 6), (4, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src bigint, dst bigint"
    )
    got = {
        r["node"]: r["component"]
        for r in min_label_components(nodes, edges, rounds=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7}


def test_min_label_components_fixed_rounds_partial_is_deterministic(spark):
    from sparkobs.operators.graph import min_label_components

    # a 6-path needs 5 rounds to converge; at rounds=2 node 6 has only
    # seen labels within distance 2 — the exact intermediate state
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "node bigint")
    und = [(i, i + 1) for i in range(1, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src bigint, dst bigint"
    )
    got = {
        r["node"]: r["component"]
        for r in min_label_components(nodes, edges, rounds=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 3, 6: 4}


def test_mutual_topk_edges_keeps_only_reciprocal_pairs(spark):
    from sparkobs.operators.graph import mutual_topk_edges

    # u=1 ranks {2:9, 3:8, 4:1}; with k=1 only (1,2) is 1's pick and
    # (1,2) is also 2's pick -> mutual; 3's top is 1 but 1's isn't 3
    pairs = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 8), (1, 4, 1), (2, 4, 2)],
        "u bigint, v bigint, w bigint",
    )
    got = sorted(
        (r["src"], r["dst"]) for r in mutual_topk_edges(pairs, k=1).collect()
    )
    assert got == [(1, 2), (2, 1)]


def test_late_r6_wave_plan_discipline(spark):
    from plan_helpers import physical_plan, scans

    SF = "/root/testdata/sf0.001"

    # exact quantiles: the lazy plan holds the BRACKET scan plus the
    # histogram pass riding inside the located-targets broadcast
    # build (r14: one broadcast does bracket restriction and pick, so
    # the hist pass moved from its own checkpoint job into the
    # broadcast subtree — same three source passes per execution,
    # fewer jobs); the picked join broadcasts, nothing sort-merges
    dq = Q.SPARK_QUERIES["exact_quantiles_lineitem"](spark, SF)
    pq = physical_plan(dq)
    assert len(scans(dq)) == 2
    assert "SortMergeJoin" not in pq
    assert "CartesianProduct" not in pq

    # BM25: stats are a checkpointed 1-row broadcast, so the lazy
    # plan is ONE corpus scan and no shuffle join of the corpus
    db = Q.SPARK_QUERIES["bm25_search_documents"](spark, SF)
    assert len(scans(db)) == 1
    assert "SortMergeJoin" not in physical_plan(db)

    # salted distinct: two hash aggregations, no Expand rewrite (the
    # within-(group, salt) distinct is a plain two-level agg)
    ps = physical_plan(
        Q.SPARK_QUERIES["salted_distinct_customers_orders"](spark, SF)
    )
    assert ps.count("HashAggregate") >= 4  # partial+final at each level
    assert "CartesianProduct" not in ps

    # attribution: one window pass, no cartesian, no self-join scans
    da = Q.SPARK_QUERIES["attribution_linear_events"](spark, SF)
    assert len(scans(da)) == 1
    assert "CartesianProduct" not in physical_plan(da)

    # inclusion deps: doubly-referenced key sets reduce once each
    # into checkpoints (at query-construction time); the two
    # SINGLE-use key sets (l_orderkey, o_orderkey) scan inline — r14
    # dropped their checkpoints, which were pure extra jobs
    # (materialize + re-read) with no reuse to buy — so the lazy plan
    # holds exactly those two pruned key scans
    di = Q.SPARK_QUERIES["inclusion_deps_star_schema"](spark, SF)
    assert len(scans(di)) == 2

    # disorder: the prefix-max exchange is __pid-partitioned (the
    # distributed primitive), not a single global-order window over
    # the data
    pd_ = physical_plan(Q.SPARK_QUERIES["event_disorder_events"](spark, SF))
    assert "hashpartitioning(__pid" in pd_


def test_duration_weighted_mean_hand_timeline(spark):
    from sparkobs.operators.behavior import duration_weighted_mean

    # user 1: A(v=10) holds 2s, B(v=100) holds 1s, A(v=20) holds 3s,
    # then a terminal event (no successor -> no weight)
    rows = [
        (1, 1, "2024-01-01 00:00:00", "A", 10.0),
        (2, 1, "2024-01-01 00:00:02", "B", 100.0),
        (3, 1, "2024-01-01 00:00:03", "A", 20.0),
        (4, 1, "2024-01-01 00:00:06", "C", 999.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts_s string, event_type string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value")
    got = {r["state"]: (r["total_dur_us"], r["twa_value"])
           for r in duration_weighted_mean(df).collect()}
    # A: (10*2s + 20*3s) / 5s = 16; B: 100 over 1s; C never closes
    assert got == {"A": (5_000_000, 16.0), "B": (1_000_000, 100.0)}


def test_duration_weighted_mean_survives_bigint_overflow_regime(spark):
    # one interval with cents*micros far beyond 2^63: value 1e7
    # dollars held ~12 days -> product ~1e21; a long multiply throws
    # (ANSI) or wraps — the DECIMAL operand cast must make it exact
    from sparkobs.operators.behavior import duration_weighted_mean

    rows = [
        (1, 1, "2024-01-01 00:00:00", "A", 1e7),
        (2, 1, "2024-01-13 00:00:00", "A", 1e7),
        (3, 1, "2024-01-25 00:00:00", "Z", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts_s string, event_type string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value")
    got = {r["state"]: (r["total_dur_us"], r["twa_value"])
           for r in duration_weighted_mean(df).collect()}
    assert got["A"] == (2 * 12 * 86400 * 1_000_000, 1e7)


def test_conversion_paths_hand_journeys(spark):
    from sparkobs.operators.behavior import conversion_paths

    rows = [
        # user 1: view > click > PURCHASE, then signup > PURCHASE
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 00:01:00", "click"),
        (3, 1, "2024-01-01 00:02:00", "purchase"),
        (4, 1, "2024-01-01 00:03:00", "signup"),
        (5, 1, "2024-01-01 00:04:00", "purchase"),
        # user 2: view > click > PURCHASE (same path as user 1's first)
        (6, 2, "2024-01-01 00:00:00", "view"),
        (7, 2, "2024-01-01 00:01:00", "click"),
        (8, 2, "2024-01-01 00:02:00", "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts_s string, event_type string"
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
    got = [(r["path"], r["n_conversions"])
           for r in conversion_paths(df, conversion="purchase").collect()]
    assert got == [("view>click", 2), ("signup", 1)]


def test_reachable_set_hand_graph(spark):
    from sparkobs.operators.graph import reachable_set

    # 1 -> 2 -> 3 -> 4 -> 5 (chain), 6 isolated, 7 -> 1 (upstream of seed)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 1)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {r["node"]: r["hop"] for r in reachable_set(edges, seeds, 3).collect()}
    # hop 4 node (5) excluded; upstream (7) and isolated (6) unreachable
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_reachable_set_first_visit_wins_and_foreign_seed(spark):
    from sparkobs.operators.graph import reachable_set

    # diamond: 1 -> {2, 3} -> 4, plus a long way round 2 -> 5 -> 4;
    # node 4 must record hop 2 (first visit), never 3
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (2, 5), (5, 4)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node bigint")
    got = {r["node"]: r["hop"] for r in reachable_set(edges, seeds, 3).collect()}
    # a seed absent from the graph still reports itself at hop 0
    assert got == {1: 0, 99: 0, 2: 1, 3: 1, 4: 2, 5: 2}


def test_lead_lag_corr_finds_planted_lag(spark):
    from sparkobs.operators.state import lead_lag_corr

    # B's hourly volume pattern repeats in A exactly 2 hours later:
    # xcorr must peak (1.0) at lag=+2 ("B leads A by 2 buckets").
    rows = []
    eid = 0
    pattern = [1, 5, 2, 7, 3, 6, 4, 8, 2, 9, 1, 5]
    for h, n in enumerate(pattern):
        for _ in range(n):
            eid += 1
            rows.append((eid, f"2024-01-01 {h:02d}:30:00", "b"))
    for h, n in enumerate(pattern):
        for _ in range(n):
            eid += 1
            rows.append((eid, f"2024-01-01 {h + 2:02d}:30:00", "a"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts_s string, event_type string"
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
    got = {r["lag"]: r["xcorr"]
           for r in lead_lag_corr(df, "ts", "event_type", "a", "b",
                                  max_lag=3).collect()}
    assert got[2] == 1.0
    assert all(v < 1.0 for k, v in got.items() if k != 2)


def test_incident_groups_gap_semantics(spark):
    from sparkobs.operators.state import incident_groups

    # alerts at 00, 01, 05 (gap 4h > 2h -> new incident), 06 across two
    # metrics; ties at the same bucket stay in one incident
    rows = [
        ("a", "2024-01-01 00:00:00"),
        ("b", "2024-01-01 00:00:00"),
        ("a", "2024-01-01 01:00:00"),
        ("a", "2024-01-01 05:00:00"),
        ("b", "2024-01-01 06:00:00"),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts_s string").selectExpr(
        "event_type", "CAST(ts_s AS TIMESTAMP) AS bucket_ts"
    )
    got = {
        r["incident_id"]: (r["n_alerts"], r["n_metrics"])
        for r in incident_groups(df).collect()
    }
    assert got == {1: (3, 2), 2: (2, 2)}


def test_diff_column_contributions_null_safe(spark):
    from sparkobs.operators.state import diff_column_contributions

    old = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", None)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 11), (2, "b", 20), (3, "c", None), (4, "zz", 9)],
        "k long, s string, v long",
    )
    got = {r["column"]: (r["n_mismatch"], r["n_compared"])
           for r in diff_column_contributions(old, new, ["k"]).collect()}
    # key 4 is added (not compared); NULL->'b' counts, NULL==NULL doesn't
    assert got == {"s": (1, 3), "v": (1, 3)}


def test_monitor_suite_requires_some_work(spark):
    import pytest as _pytest

    from sparkobs.monitors import monitor_suite

    df = spark.range(1)
    with _pytest.raises(ValueError, match="at least one table"):
        monitor_suite([("t", df, None, [])], as_of="2024-02-01 00:00:00")


def test_monitor_suite_per_table_sla_override(spark):
    """r6 advice: tables with different cadences share one suite — a
    5-tuple spec carries its own sla_seconds, others keep the default."""
    from pyspark.sql import functions as F

    from sparkobs.monitors import monitor_suite

    fresh = spark.createDataFrame(
        [("2024-01-31 23:00:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    out = monitor_suite(
        [
            ("hourly", fresh, "ts", [], 1800),          # 30 min SLA: stale
            ("daily", fresh, "ts", []),                  # default 7d: fresh
        ],
        as_of="2024-02-01 00:00:00",
    ).collect()
    got = {r["table_name"]: r["passed"] for r in out}
    assert got == {"hourly": False, "daily": True}
    stal = {r["table_name"]: r["metric_value"] for r in out}
    assert stal["hourly"] == stal["daily"] == 3600.0


def test_benford_power_of_ten_boundaries_and_small_positives(spark):
    """r6 advice: the %.2f rendering reported digit 1 for 9.995-style
    values that round across a power of ten and silently dropped
    positives below 0.005 — shortest-repr digits do neither."""
    from sparkobs.operators.profile import benford_screen

    df = spark.createDataFrame(
        [(9.995,), (99999.995,), (0.004,), (0.00049,), (1e-12,), (2.5,)],
        "x double",
    )
    rows = {r["digit"]: r["n_values"] for r in benford_screen(df, "x").collect()}
    # 9.995 and 99999.995 are NINES (the %.2f render said 1)
    assert rows.get(9) == 2
    # sub-0.005 positives are kept, not dropped
    assert rows.get(4) == 2  # 0.004, 0.00049
    assert rows.get(1) == 1  # 1e-12
    assert rows.get(2) == 1
    assert sum(rows.values()) == 6
