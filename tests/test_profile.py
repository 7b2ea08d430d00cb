"""Unit tests for profiling operators: edge cases the oracle data
doesn't exercise (SURVEY.md §5.3-5.4)."""

import math

from pyspark.sql import functions as F

from sparkobs.operators.profile import (
    distinct_counts,
    duplicate_count,
    null_counts,
    numeric_histogram,
    profile,
)


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_profile_basic(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,)], "x double"
    )
    r = _one(profile(df))
    assert r.n_rows == 4 and r.n_nulls == 0 and r.n_distinct == 4
    assert r.min_val == 1.0 and r.max_val == 4.0
    assert r.mean_val == 2.5 and r.median_val == 2.5
    assert abs(r.std_val - 1.2910) < 1e-4  # sample stddev, ddof=1


def test_profile_all_null_column(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    r = _one(profile(df))
    assert r.n_rows == 2 and r.n_nulls == 2 and r.n_distinct == 0
    assert r.min_val is None and r.mean_val is None


def test_profile_empty_input(spark):
    df = spark.createDataFrame([], "x double")
    r = _one(profile(df))
    assert r.n_rows == 0 and r.n_nulls == 0 and r.n_distinct == 0


def test_profile_single_row(spark):
    df = spark.createDataFrame([(7.0,)], "x double")
    r = _one(profile(df))
    assert r.median_val == 7.0 and r.std_val is None  # ddof=1 undefined on n=1


def test_profile_nan_vs_null(spark):
    # NaN is a VALUE in Spark double columns (not null) — document the
    # engine semantics: NaN counts as non-null and as a distinct value.
    df = spark.createDataFrame([(float("nan"),), (None,), (1.0,)], "x double")
    r = _one(profile(df))
    assert r.n_nulls == 1 and r.n_rows == 3
    assert r.n_distinct == 2  # NaN and 1.0


def test_profile_union_doubles_counts(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_quantity")
    single = _one(profile(df))
    double = _one(profile(df.union(df)))
    assert double.n_rows == 2 * single.n_rows
    assert double.n_distinct == single.n_distinct
    assert double.mean_val == single.mean_val


def test_duplicate_count_invariants(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "id int, s string")
    r = _one(duplicate_count(df))
    assert r.dup_rows == 1 and r.distinct_rows == 2
    all_dup = spark.createDataFrame([(1,)] * 5, "id int")
    r2 = _one(duplicate_count(all_dup))
    assert r2.dup_rows == 4 and r2.distinct_rows == 1


def test_null_and_distinct_bounded_by_count(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = df.count()
    for row in null_counts(df).collect():
        assert 0 <= row.n_nulls <= n
    for row in distinct_counts(df).collect():
        assert 0 <= row.n_distinct <= n


def test_histogram_partitions_all_rows(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hist = numeric_histogram(df, "l_quantity", 10.0).collect()
    assert sum(r.bin_count for r in hist) == df.count()
    for r in hist:
        assert r.bin_hi - r.bin_lo == 10.0


def test_profile_approx_mode_close(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_quantity")
    exact = {r.col_name: r for r in profile(df).collect()}
    approx = {r.col_name: r for r in profile(df, exact=False).collect()}
    e, a = exact["l_quantity"], approx["l_quantity"]
    assert abs(a.n_distinct - e.n_distinct) <= 0.1 * e.n_distinct + 5
    assert abs(a.median_val - e.median_val) <= 1.0


def test_approx_profile_within_error_bounds(spark, sf_dir):
    # Accuracy band for the 100 TB mode (exact=False): HLL distinct
    # counts documented at ~2% standard error (Spark default rsd=0.05,
    # assert 3 sigma = 15%); percentile_approx default accuracy=10000
    # bounds rank error at n/10000, so on these inputs the approx
    # quantile must land within the value span of +/-1% of ranks.
    from sparkobs.operators.profile import profile

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_suppkey"]
    df = df.select(*cols)
    ex = {r.col_name: r for r in profile(df, exact=True).collect()}
    ap = {r.col_name: r for r in profile(df, exact=False).collect()}
    n = next(iter(ex.values())).n_rows
    for c in cols:
        e, a = ex[c], ap[c]
        # exact-agg metrics must be identical in both modes
        assert (e.n_rows, e.n_nulls, e.min_val, e.max_val, e.mean_val, e.std_val) == (
            a.n_rows, a.n_nulls, a.min_val, a.max_val, a.mean_val, a.std_val)
        # HLL distinct: within 15% (3x default rsd 0.05)
        assert abs(a.n_distinct - e.n_distinct) <= max(1, 0.15 * e.n_distinct), c
        # approx percentiles: value within the window spanned by
        # exact ranks +/-1% around each quantile
        vals = sorted(v[0] for v in df.selectExpr(f"CAST({c} AS DOUBLE)").collect())
        for q, field in ((0.25, "p25"), (0.5, "median_val"), (0.75, "p75")):
            lo = vals[max(0, int((q - 0.01) * n))]
            hi = vals[min(n - 1, int((q + 0.01) * n))]
            got = getattr(a, field)
            assert lo <= got <= hi, f"{c}.{field}: {got} not in [{lo}, {hi}]"


def test_exact_quantiles_twopass_bit_identical_to_percentile(spark):
    # The whole point of the two-pass operator is BIT equality with
    # single-pass percentile at any n_bins — including the tied-key
    # and integral-rank short-circuits Percentile.scala takes and its
    # exact two-weight interpolation (ceil(rank)-rank vs 1-frac
    # differ by 1 ulp on ranks like 5.3).
    import random

    from pyspark.sql import functions as F

    from sparkobs.operators.profile import exact_quantiles_twopass

    rng = random.Random(7)
    cases = [
        [rng.uniform(-1e6, 1e6) for _ in range(997)],   # general doubles
        [float(rng.randint(0, 5)) for _ in range(500)],  # heavy ties
        [3.14159] * 9,                                   # constant column
        [42.0],                                          # n = 1
    ]
    qs = (0.0, 0.01, 0.25, 0.3, 0.5, 0.883, 0.999, 1.0)
    for vals in cases:
        rows = [(v,) for v in vals] + [(None,)] * 3
        df = spark.createDataFrame(rows, "x double")
        mine = {
            r["q"]: r["value"]
            for r in exact_quantiles_twopass(df, "x", qs, n_bins=13).collect()
        }
        ref = df.agg(F.expr(f"percentile(x, array{qs})").alias("p")).collect()[
            0
        ]["p"]
        for q, r in zip(qs, ref):
            assert mine[q] == r, (len(vals), q, mine[q], r)


def test_exact_quantiles_twopass_counts_nulls_excluded(spark):
    from sparkobs.operators.profile import exact_quantiles_twopass

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (None,), (4.0,)], "x double"
    )
    out = exact_quantiles_twopass(df, "x", qs=(0.5,)).collect()
    assert out[0]["n_rows"] == 3
    assert out[0]["value"] == 2.0


def test_exact_quantiles_grouped_bit_identical_per_group(spark):
    import random

    from pyspark.sql import functions as F

    from sparkobs.operators.profile import exact_quantiles_grouped

    rng = random.Random(11)
    rows = []
    for gi, (n, mode) in enumerate([(400, "u"), (3, "c"), (1, "u"), (60, "t")]):
        for _ in range(n):
            v = (
                rng.uniform(-1e4, 1e4)
                if mode == "u"
                else (9.9 if mode == "c" else float(rng.randint(0, 4)))
            )
            rows.append((f"g{gi}", v))
    rows += [("g0", None), ("g3", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    qs = (0.0, 0.3, 0.5, 0.883, 1.0)
    mine = {
        (r["g"], r["q"]): (r["value"], r["n_rows"])
        for r in exact_quantiles_grouped(df, "g", "x", qs, n_bins=11).collect()
    }
    ref = df.groupBy("g").agg(
        F.expr(f"percentile(x, array{qs})").alias("p"),
        F.count("x").alias("n"),
    ).collect()
    for row in ref:
        for q, rv in zip(qs, row["p"]):
            assert mine[(row["g"], q)] == (rv, row["n"]), (row["g"], q)


def test_hll_sliding_distinct_window_alignment(spark):
    """Trailing-window semantics by hand: 3 days, overlapping users —
    the exact twin pins the window alignment, and at these tiny
    cardinalities the linear-counting branch makes the estimate agree
    exactly with the register count."""
    from datetime import datetime

    from sparkobs.operators.profile import hll_sliding_distinct

    rows = (
        [(datetime(2024, 1, 1, 10), f"u{i}") for i in range(3)]       # d1: u0-u2
        + [(datetime(2024, 1, 2, 10), f"u{i}") for i in (0, 3)]       # d2: u0,u3
        + [(datetime(2024, 1, 5, 10), f"u{i}") for i in (4,)]         # d5: u4
    )
    df = spark.createDataFrame(rows, "ts timestamp, user_id string")
    got = {
        str(r["day"]): r["exact_distinct"]
        for r in hll_sliding_distinct(df, "ts", "user_id", window_days=3).collect()
    }
    # day1 window {d1}: u0-u2 =3; day2 window {d1,d2}: u0-u3 =4;
    # day5 window {d3..d5} -> only d5: u4 =1
    assert got == {"2024-01-01": 3, "2024-01-02": 4, "2024-01-05": 1}
    ests = {
        str(r["day"]): r["est_distinct"]
        for r in hll_sliding_distinct(df, "ts", "user_id", window_days=3).collect()
    }
    for d, exact in got.items():
        assert abs(ests[d] - exact) / exact < 0.35  # tiny-m noise bound
