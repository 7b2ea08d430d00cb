"""State/drift, window, metric fan-in, and shape operators."""

from datetime import datetime

from pyspark.sql import functions as F

from sparkobs.operators.metrics import (
    argmax_entity,
    collect_metric_lists,
    fanin_stats,
    to_metrics_long,
)
from sparkobs.operators.shape import argmax, argmax_per_group, lookup_join_fill
from sparkobs.operators.state import count_delta, schema_drift
from sparkobs.operators.windows import session_agg, tumbling_agg


SNAP_SCHEMA = "run_ts timestamp, table_name string, row_count bigint, columns array<string>"


def test_count_delta_sign_and_first_run(spark):
    snaps = spark.createDataFrame(
        [
            (datetime(2024, 1, 1), "t", 100, ["a"]),
            (datetime(2024, 1, 2), "t", 130, ["a"]),
            (datetime(2024, 1, 3), "t", 90, ["a"]),
        ],
        SNAP_SCHEMA,
    )
    rows = {r.run_ts.day: r for r in count_delta(snaps).collect()}
    assert rows[1].delta is None and rows[1].prev_count is None
    assert rows[2].delta == 30  # current - previous (documented intent)
    assert rows[3].delta == -40


def test_schema_drift_detects_changes(spark):
    snaps = spark.createDataFrame(
        [
            (datetime(2024, 1, 1), "t", 1, ["a", "b", "c"]),
            (datetime(2024, 1, 2), "t", 1, ["a", "b", "c"]),
            (datetime(2024, 1, 3), "t", 1, ["a", "c", "d", "e"]),
        ],
        SNAP_SCHEMA,
    )
    rows = {r.run_ts.day: r for r in schema_drift(snaps).collect()}
    assert rows[1].columns_changed is None  # first run: nothing to compare
    assert rows[2].columns_changed is False
    assert rows[3].n_removed == 1 and rows[3].n_added == 2
    assert rows[3].columns_changed is True


def test_session_window_gap_semantics(spark):
    # events 29 min apart merge into one session; 31 min apart split
    rows = [
        (1, datetime(2024, 1, 1, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 29)),
        (2, datetime(2024, 1, 1, 0, 0)),
        (2, datetime(2024, 1, 1, 0, 31)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    out = session_agg(df, "user_id", "30 minutes").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert per_user[1] == [2]
    assert sorted(per_user[2]) == [1, 1]


def test_tumbling_total_preserved(spark, sf_dir):
    from sparkobs.io import load_table

    ev = load_table(spark, sf_dir, "events")
    agg = tumbling_agg(ev, "1 hour")
    assert agg.agg(F.sum("n_events")).collect()[0][0] == ev.count()


def test_metrics_long_and_fanin(spark):
    wide = spark.createDataFrame(
        [("e1", 10.0, 1.0), ("e2", 20.0, 3.0)], "entity string, m1 double, m2 double"
    )
    long = to_metrics_long(wide, "entity", ["m1", "m2"])
    assert long.count() == 4
    stats = {r.metric: r for r in fanin_stats(long).collect()}
    assert stats["m1"].mean_value == 15.0 and stats["m1"].n_entities == 2
    am = {r.metric: r.max_entity for r in argmax_entity(long).collect()}
    assert am == {"m1": "e2", "m2": "e2"}
    lists = {r.metric: r["values"] for r in collect_metric_lists(long).collect()}
    assert lists["m1"] == [10.0, 20.0]  # array_sort'ed


def test_argmax_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0), ("c", 1.0)], "label string, measure double"
    )
    r = argmax(df, "label", "measure").collect()[0]
    assert r.label == "b"  # tie → largest label
    grouped = spark.createDataFrame(
        [("g", "a", 5.0), ("g", "b", 5.0)], "grp string, label string, measure double"
    )
    rg = argmax_per_group(grouped, "grp", "label", "measure").collect()[0]
    assert rg.label == "b"


def test_lookup_join_fill_zero(spark):
    base = spark.createDataFrame([(1, "x"), (2, "y")], "k int, name string")
    lookup = spark.createDataFrame([(1, 10)], "k int, cnt long")
    out = {r.k: r.cnt for r in lookup_join_fill(base, lookup, "k", "cnt").collect()}
    assert out == {1: 10, 2: 0}


def test_metric_anomalies_planted_spike(spark):
    from datetime import datetime

    from sparkobs.operators.state import metric_anomalies

    # 10 steady observations then a spike; baseline excludes the
    # current point so the spike's own value can't dilute its z-score
    rows = [("m", datetime(2024, 1, 1, h), 100.0 + (h % 2)) for h in range(10)]
    rows.append(("m", datetime(2024, 1, 1, 10), 500.0))
    df = spark.createDataFrame(rows, "k string, run_ts timestamp, value double")
    out = {
        r.run_ts.hour: r
        for r in metric_anomalies(df, ["k"], z_threshold=2.0).collect()
    }
    assert out[0].zscore is None and out[0].is_anomaly is None  # no baseline
    assert out[1].zscore is None  # single-point baseline: no verdict
    assert out[10].is_anomaly is True and out[10].zscore > 100
    assert all(out[h].is_anomaly is False for h in range(2, 10))

    # zero-variance baseline emits no verdict rather than div-by-zero
    flat = spark.createDataFrame(
        [("m", datetime(2024, 1, 1, h), 7.0) for h in range(5)],
        "k string, run_ts timestamp, value double",
    )
    for r in metric_anomalies(flat, ["k"]).collect():
        assert r.zscore is None and r.is_anomaly is None


def test_ewma_smooth_tracks_level_shift(spark):
    from datetime import datetime

    from sparkobs.operators.state import ewma_smooth

    # steady 100 then a step to 200: ewma converges toward 200 but
    # lags it; the first row's ewma is its own value (fold seed)
    rows = [("m", datetime(2024, 1, 1, h), 100.0) for h in range(5)]
    rows += [("m", datetime(2024, 1, 1, 5 + h), 200.0) for h in range(5)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {r.ts.hour: r for r in ewma_smooth(df, ["k"], "ts", "value").collect()}
    assert out[0].ewma == 100.0 and out[0].residual == 0.0
    assert out[4].ewma == 100.0
    # step: acc <- 100 + 0.25*(200-100) = 125
    assert out[5].ewma == 125.0 and out[5].residual == 75.0
    assert 100.0 < out[9].ewma < 200.0
    assert out[9].ewma > out[5].ewma  # monotone approach to new level


def test_heavy_hitters_exact_and_partition_invariant(spark):
    from sparkobs.operators.profile import heavy_hitters

    # key 'a' holds 40% of rows, 'b' 11%; everything else is rare.
    rows = (
        [("a",)] * 400 + [("b",)] * 110 + [(f"r{i}",) for i in range(490)]
    )
    df = spark.createDataFrame(rows, "tok string")
    for frame in (df, df.repartition(13)):
        got = {r["tok"]: r["cnt"] for r in heavy_hitters(frame, "tok", k=10).collect()}
        # threshold n/k = 100: 'a' and 'b' qualify, nothing else
        assert got == {"a": 400, "b": 110}


def test_distribution_drift_psi_planted_shift(spark):
    from datetime import datetime

    from sparkobs.operators.state import distribution_drift_psi

    # hour 0 and hour 1: identical uniform spread -> PSI ~ 0;
    # hour 2: all mass jumps to the top bin -> large PSI
    rows = []
    for h in (0, 1):
        rows += [(datetime(2024, 1, 1, h), float(v)) for v in range(0, 100, 5)]
    rows += [(datetime(2024, 1, 1, 2), 95.0)] * 20
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r.period.hour: r.psi for r in distribution_drift_psi(df, "ts", "value").collect()}
    assert 0 not in out  # first period has no baseline
    assert out[1] == 0.0  # identical distributions
    assert out[2] > 1.0  # full shift: way past the 0.25 "shifted" bar


def test_latest_by_key_deterministic_ties(spark):
    from sparkobs.operators.state import latest_by_key

    rows = [
        (1, 10, 100, "a"),
        (1, 20, 101, "b"),   # newest ts -> wins
        (2, 30, 200, "c"),
        (2, 30, 201, "d"),   # equal ts: higher seq wins
    ]
    df = spark.createDataFrame(rows, "k bigint, ts bigint, seq bigint, v string")
    out = {r.k: r.v for r in latest_by_key(df, ["k"], "ts", ["seq"]).collect()}
    assert out == {1: "b", 2: "d"}


def test_latest_by_key_window_group_limit(spark):
    import sparkobs.queries as Q

    df = Q.SPARK_QUERIES["cdc_compact_events"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_inclusion_coefficient_directions_and_nulls(spark):
    from sparkobs.operators.shape import inclusion_coefficient

    a = spark.createDataFrame([(1,), (2,), (3,), (None,), (3,)], "k int")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    fwd = inclusion_coefficient(a, "k", b, "k", "a.k", "b.k").collect()[0]
    assert (fwd["n_from_distinct"], fwd["n_contained"]) == (3, 2)
    assert fwd["containment"] == 2 / 3
    assert (fwd["from_col"], fwd["to_col"]) == ("a.k", "b.k")
    rev = inclusion_coefficient(b, "k", a, "k").collect()[0]
    assert (rev["n_from_distinct"], rev["n_contained"]) == (3, 2)


def test_inclusion_coefficient_b_side_dupes_never_fan_out(spark):
    """r6 advice: with distinct=False, duplicated B-side keys used to
    fan out the left join and inflate containment past 1.0 — the B
    side is now deduplicated unconditionally."""
    from sparkobs.operators.shape import inclusion_coefficient

    a = spark.createDataFrame([(1,), (2,), (3,)], "k int")  # pre-deduped
    b = spark.createDataFrame([(2,), (2,), (2,), (3,)], "k int")  # dupes!
    r = inclusion_coefficient(a, "k", b, "k", distinct=False).collect()[0]
    assert (r["n_from_distinct"], r["n_contained"]) == (3, 2)
    assert r["containment"] == 2 / 3 <= 1.0


def test_merge_upsert_update_insert_delete_semantics(spark):
    from sparkobs.operators.state import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (3, None, True)],
        "k bigint, v string, del boolean",
    )
    got = sorted(
        (r["k"], r["v"])
        for r in merge_upsert(base, updates, ["k"], deleted_col="del").collect()
    )
    # 1 persists, 2 updated, 3 deleted, 4 inserted
    assert got == [(1, "a"), (2, "B"), (4, "d")]


def test_merge_upsert_without_delete_flag(spark):
    from sparkobs.operators.state import merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    updates = spark.createDataFrame([(2, "B")], "k bigint, v string")
    got = sorted(
        (r["k"], r["v"]) for r in merge_upsert(base, updates, ["k"]).collect()
    )
    assert got == [(1, "a"), (2, "B")]


def test_freshness_check_verdicts_and_empty_table(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.checks import freshness_check

    fresh = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "t string"
    ).selectExpr("CAST(t AS TIMESTAMP) AS t")
    stale = spark.createDataFrame(
        [("2023-01-01 00:00:00",)], "t string"
    ).selectExpr("CAST(t AS TIMESTAMP) AS t")
    empty = fresh.where(F.lit(False))
    out = {
        r["table_name"]: (r["staleness_s"], r["is_fresh"])
        for r in freshness_check(
            [("a", fresh, "t"), ("b", stale, "t"), ("c", empty, "t")],
            as_of="2024-01-02 00:00:00",
            sla_seconds={"a": 86400 * 2, "b": 86400 * 2, "c": 86400 * 2},
        ).collect()
    }
    assert out["a"] == (86400, True)
    assert out["b"] == (86400 * 366, False)
    assert out["c"] == (None, False)  # empty -> infinitely stale


def test_partition_gaps_hand_timeline(spark):
    from sparkobs.operators.checks import partition_gaps

    # minutes 0,1,2,5,7 present -> expected 8 (0..7), missing 3,4,6
    rows = [(f"2024-01-01 00:0{m}:30",) for m in (0, 1, 2, 5, 7)]
    df = spark.createDataFrame(rows, "t string").selectExpr(
        "CAST(t AS TIMESTAMP) AS ts"
    )
    r = partition_gaps(df, "ts", "minute").collect()[0]
    assert (r["n_expected"], r["n_present"], r["n_missing"]) == (8, 5, 3)
    assert str(r["first_missing"]) == "2024-01-01 00:03:00"
    assert str(r["last_missing"]) == "2024-01-01 00:06:00"
    # gap-free table: zero missing, NULL endpoints
    dense = spark.createDataFrame(
        [(f"2024-01-01 00:0{m}:00",) for m in range(4)], "t string"
    ).selectExpr("CAST(t AS TIMESTAMP) AS ts")
    r2 = partition_gaps(dense, "ts", "minute").collect()[0]
    assert (r2["n_missing"], r2["first_missing"], r2["last_missing"]) == (
        0, None, None,
    )


def test_delta_contribution_hand_values_and_one_sided_dims(spark):
    from sparkobs.operators.metrics import delta_contribution

    before = spark.createDataFrame(
        [("a", 100), ("a", 100), ("b", 50), ("gone", 10)], "d string, v long"
    )
    after = spark.createDataFrame(
        [("a", 300), ("b", 40), ("new", 20)], "d string, v long"
    )
    got = {r["dim"]: (r["before_units"], r["after_units"], r["delta_units"],
                      r["delta_share"])
           for r in delta_contribution(before, after, "d", "v").collect()}
    # total delta = +100 -10 -10 +20 = 100
    assert got["a"] == (200, 300, 100, 1.0)
    assert got["b"] == (50, 40, -10, -0.1)
    assert got["gone"] == (10, 0, -10, -0.1)
    assert got["new"] == (0, 20, 20, 0.2)


def test_delta_contribution_zero_total_share_is_null(spark):
    from sparkobs.operators.metrics import delta_contribution

    before = spark.createDataFrame([("a", 10), ("b", 20)], "d string, v long")
    after = spark.createDataFrame([("a", 20), ("b", 10)], "d string, v long")
    out = delta_contribution(before, after, "d", "v").collect()
    assert all(r["delta_share"] is None for r in out)
