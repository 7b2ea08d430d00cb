"""Table / column profiling — the engine's flagship composite (OP-13, OP-36).

Rebuild of the reference's per-table profile paths:
``redshift_table_monitor.py:53-73`` (count, duplicates, per-column nulls,
numeric min/max/mean/median/std), ``snowflake_table_monitor.py:88-128``
(sampled profile + per-column stats), and the documented metric list
``DataFrames/README.md:16-25`` (count, nulls, distinct, min/max/mean/std,
25/50/75 percentiles, histograms).

Spark-first design: ONE ``df.agg(...)`` pass computes every non-distinct
statistic for every column — partial+final hash aggregation, whole-stage
codegen, no per-column scans (the reference loops per column:
``redshift_table_monitor.py:63-73``). Distinct counts are exact by default
(expand-based multi-distinct) and switch to HyperLogLog
(``approx_count_distinct``) in ``scale`` mode for the 100 TB path, where
exact multi-column distinct would shuffle the full table once per column.

Output is long format — one row per column — so profiles of any table
union into one metrics stream (OP-12) with a fixed schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Fraction digits kept for mean/std/percentiles — matches the reference's
#: ``round(x, 2)`` habit (redshift_table_monitor.py:69,73) but keeps 4 for
#: oracle-stable floating-point comparison.
ROUND_DIGITS = 4

def numeric_columns(df: DataFrame) -> list[str]:
    """Schema-driven numeric dispatch (OP-17) — replaces the reference's
    runtime ``issubdtype(dtype, number)`` test (redshift_table_monitor.py:68)
    with a static schema check: no data is touched.
    """
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)]


def profile(df: DataFrame, exact: bool = True) -> DataFrame:
    """One-pass numeric profile, long format (one output row per
    numeric column; select the columns first to profile fewer).

    ``exact=False`` is the 100 TB mode: HLL distinct counts and
    ``percentile_approx`` instead of exact percentile — both are
    single-pass, mergeable sketches that keep the plan at one shuffle.
    """
    cols = numeric_columns(df)
    if not cols:
        raise ValueError("profile() needs at least one numeric column")

    # Plan note: exact multi-column count_distinct forces Catalyst's Expand
    # rewrite (one row copy per distinct agg). Mixing that with sort-based
    # percentile buffers in ONE aggregate makes every percentile process
    # N_cols× the rows through the expanded plan — measured 30× slower than
    # running the two aggregates separately. So: distincts go in their own
    # single-row aggregate, cross-joined back (1×1 join, free). In scale
    # mode both collapse into one pass (HLL + approx percentile sketches).
    aggs = []
    for c in cols:
        dc = F.col(c).cast("double")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(f"{c}__n_nulls"),
            F.min(dc).alias(f"{c}__min_val"),
            F.max(dc).alias(f"{c}__max_val"),
            F.round(F.avg(dc), ROUND_DIGITS).alias(f"{c}__mean_val"),
            F.round(F.stddev(dc), ROUND_DIGITS).alias(f"{c}__std_val"),
            (
                F.percentile(dc, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
                if exact
                else F.percentile_approx(dc, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
            ).alias(f"{c}__pcts"),
        ]
    if exact:
        stats_wide = df.agg(*aggs)
        distinct_wide = df.agg(
            *[F.count_distinct(F.col(c)).alias(f"{c}__n_distinct") for c in cols]
        )
        wide = stats_wide.crossJoin(distinct_wide)
    else:
        aggs += [F.approx_count_distinct(c).alias(f"{c}__n_distinct") for c in cols]
        wide = df.agg(*aggs)

    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__n_rows").alias("n_rows"),
            F.col(f"{c}__n_nulls").alias("n_nulls"),
            F.col(f"{c}__n_distinct").alias("n_distinct"),
            F.col(f"{c}__min_val").alias("min_val"),
            F.col(f"{c}__max_val").alias("max_val"),
            F.col(f"{c}__mean_val").alias("mean_val"),
            F.col(f"{c}__std_val").alias("std_val"),
            F.round(F.col(f"{c}__pcts")[0], ROUND_DIGITS).alias("p25"),
            F.round(F.col(f"{c}__pcts")[1], ROUND_DIGITS).alias("median_val"),
            F.round(F.col(f"{c}__pcts")[2], ROUND_DIGITS).alias("p75"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


def null_counts(df: DataFrame) -> DataFrame:
    """Per-column null counts (OP-29), long format.

    Rebuild of ``df.isna().sum()`` loops (redshift_table_monitor.py:63-66,
    snowflake_table_monitor.py:118-121) as one aggregation pass.
    """
    cols = df.columns
    wide = df.agg(
        *[F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(c) for c in cols]
    )
    pairs = [
        F.struct(F.lit(c).alias("col_name"), F.col(c).alias("n_nulls")) for c in cols
    ]
    return wide.select(F.explode(F.array(*pairs)).alias("s")).select("s.*")


def distinct_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column exact distinct counts (OP-30), long format.

    At 100 TB a multi-column exact distinct is one full shuffle per
    column (Catalyst ``Expand``); :func:`hll_distinct` is the
    single-pass sketch form.
    """
    cols = columns if columns is not None else df.columns
    wide = df.agg(*[F.count_distinct(F.col(c)).alias(c) for c in cols])
    pairs = [
        F.struct(F.lit(c).alias("col_name"), F.col(c).alias("n_distinct")) for c in cols
    ]
    return wide.select(F.explode(F.array(*pairs)).alias("s")).select("s.*")


def duplicate_count(df: DataFrame) -> DataFrame:
    """Count of duplicate rows (OP-31): ``count - count(distinct <all cols>)``.

    Rebuild of ``record_count - df.drop_duplicates().shape[0]``
    (redshift_table_monitor.py:62). Single grouped aggregation — the
    ``groupBy(all).count`` form shuffles once on the row key and
    map-side-combines, which survives 100 TB better than materializing
    ``dropDuplicates()`` and counting it separately.
    """
    grouped = df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("cnt"))
    return grouped.agg(
        F.coalesce(F.sum(F.col("cnt") - F.lit(1)), F.lit(0)).cast("long").alias("dup_rows"),
        F.count(F.lit(1)).alias("distinct_rows"),
    )


def numeric_histogram(df: DataFrame, column: str, bin_width: float, origin: float = 0.0) -> DataFrame:
    """Fixed-width histogram (OP-33, numeric flavor).

    Bin edges are data-independent (``origin + k*bin_width``) so results
    are deterministic and oracle-comparable — unlike quantile-based edges,
    this needs no pre-pass over the data and stays a single groupBy.
    """
    bin_expr = F.floor((F.col(column) - F.lit(origin)) / F.lit(bin_width)).cast("long")
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("bin_count"))
        .select(
            "bin",
            (F.lit(origin) + F.col("bin") * F.lit(bin_width)).alias("bin_lo"),
            (F.lit(origin) + (F.col("bin") + 1) * F.lit(bin_width)).alias("bin_hi"),
            "bin_count",
        )
    )


def categorical_histogram(df: DataFrame, column: str) -> DataFrame:
    """Value-frequency histogram (OP-33, categorical flavor)."""
    return df.groupBy(F.col(column).alias("value")).agg(
        F.count(F.lit(1)).alias("value_count")
    )


def table_profile(df: DataFrame, table_name: str, exact: bool = True) -> DataFrame:
    """Full table profile = numeric profile + table-level counts, tagged
    with the table name: the engine analog of ``log_dataframe`` (OP-13,
    s3_bucket_monitor.py:85-93)."""
    return profile(df, exact=exact).select(F.lit(table_name).alias("table_name"), "*")


def certify_approx_profile(
    df: DataFrame,
    rsd: float = 0.05,
    accuracy: int = 10000,
    hll_sigma: float = 3.0,
) -> DataFrame:
    """Certify the sketch-based (100 TB) profile mode against its exact
    twin, per column, IN the engine — the output is hash-checkable even
    though the sketches themselves are approximate.

    Emits one row per numeric column (select the columns first to
    certify fewer):

    - the stats that are exact in BOTH modes (counts, nulls, min, max,
      mean, std) — value-compared against the oracle directly;
    - ``hll_ok``: |approx_count_distinct / count_distinct − 1| ≤
      ``hll_sigma``·``rsd`` (HLL's relative standard deviation bound);
    - ``p25_ok``/``median_ok``/``p75_ok``: the exact CDF interval of
      each ``percentile_approx`` result value, [count(x < v)/n,
      count(x ≤ v)/n], intersects [q − ε, q + ε] with ε = 2/accuracy —
      the documented rank-error guarantee with a 2× safety margin.

    A DuckDB oracle states the exact stats plus literal TRUE flags; a
    sketch drifting out of its documented bound turns a flag false and
    fails the value hash. Two passes over the data (sketch pass, then
    rank-verification pass against the broadcast 1-row sketch result) —
    certification cost, not production cost; production scale mode is
    ``profile(exact=False)`` (single pass).
    """
    cols = numeric_columns(df)
    if not cols:
        raise ValueError("certify_approx_profile() needs numeric columns")

    aggs = []
    for c in cols:
        dc = F.col(c).cast("double")
        aggs += [
            F.count(dc).alias(f"{c}__n"),
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(
                f"{c}__n_nulls"
            ),
            F.min(dc).alias(f"{c}__min_val"),
            F.max(dc).alias(f"{c}__max_val"),
            F.round(F.avg(dc), ROUND_DIGITS).alias(f"{c}__mean_val"),
            F.round(F.stddev(dc), ROUND_DIGITS).alias(f"{c}__std_val"),
            F.approx_count_distinct(c, rsd).alias(f"{c}__hll"),
            F.percentile_approx(
                dc,
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                F.lit(accuracy),
            ).alias(f"{c}__apcts"),
        ]
    # exact distincts kept OUT of the percentile aggregate (Expand
    # rewrite pitfall, see profile()); 1×1 cross join is free
    sketch = df.agg(*aggs).crossJoin(
        df.agg(*[F.count_distinct(F.col(c)).alias(f"{c}__nd") for c in cols])
    )

    # rank-verification pass: every data row sees the 1-row sketch via
    # broadcast; exact CDF counts of each approx percentile value
    rank_aggs = []
    for c in cols:
        dc = F.col(c).cast("double")
        for qi, q in enumerate((25, 50, 75)):
            v = F.col(f"{c}__apcts")[qi]
            rank_aggs += [
                F.sum((dc <= v).cast("long")).alias(f"{c}__le{q}"),
                F.sum((dc < v).cast("long")).alias(f"{c}__lt{q}"),
            ]
    carried = [f for c in cols for f in (
        f"{c}__n", f"{c}__n_rows", f"{c}__n_nulls", f"{c}__min_val",
        f"{c}__max_val", f"{c}__mean_val", f"{c}__std_val", f"{c}__hll",
        f"{c}__nd",
    )]
    wide = df.crossJoin(F.broadcast(sketch)).agg(
        *rank_aggs, *[F.first(f).alias(f) for f in carried]
    )

    eps = 2.0 / accuracy
    per_col = []
    for c in cols:
        n = F.col(f"{c}__n").cast("double")
        hll_ok = (
            F.abs(
                F.col(f"{c}__hll").cast("double")
                / F.col(f"{c}__nd").cast("double")
                - 1.0
            )
            <= hll_sigma * rsd
        )
        flags = {}
        for q in (25, 50, 75):
            qf = q / 100.0
            flags[q] = (
                (F.col(f"{c}__lt{q}").cast("double") / n <= qf + eps)
                & (F.col(f"{c}__le{q}").cast("double") / n >= qf - eps)
            )
        per_col.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n_rows").alias("n_rows"),
                F.col(f"{c}__n_nulls").alias("n_nulls"),
                F.col(f"{c}__min_val").alias("min_val"),
                F.col(f"{c}__max_val").alias("max_val"),
                F.col(f"{c}__mean_val").alias("mean_val"),
                F.col(f"{c}__std_val").alias("std_val"),
                hll_ok.alias("hll_ok"),
                flags[25].alias("p25_ok"),
                flags[50].alias("median_ok"),
                flags[75].alias("p75_ok"),
            )
        )
    return wide.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


def preview(df: DataFrame, n: int = 10, order_cols: list[str] | None = None) -> DataFrame:
    """Head-n preview — the ``with_preview=True`` half of the profile
    sink contract (OP-13; ref databand_tracking_template.py:23-28 logs
    ``df.head()`` alongside the histogram profile, s3_bucket_monitor.py:
    85-93 same flag).

    With ``order_cols`` the preview is DETERMINISTIC (ORDER BY + LIMIT
    → TakeOrderedAndProject: each partition ships only its local top-n,
    no global sort — scale-safe); without, it's whatever ``limit(n)``
    scans first (cheapest, order-arbitrary — fine for eyeballing, not
    for diffing runs).
    """
    if order_cols:
        return df.orderBy(*[F.asc(c) for c in order_cols]).limit(n)
    return df.limit(n)


def column_entropy(df: DataFrame, columns: list[str]) -> DataFrame:
    """Shannon entropy (bits) of each categorical column — the
    "how informative is this column" profile metric: 0 for constants,
    log2(distinct) for uniform. One grouped count per column unioned
    long-format (map-side partial aggs), entropy = −Σ p·log2 p over the
    value frequencies.
    """
    outs = []
    for c in columns:
        freqs = df.groupBy(F.col(c).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # 1-row broadcast total instead of an empty-partition window
        # (which would funnel the frequencies through one partition)
        total = freqs.agg(F.sum("cnt").alias("n"))
        outs.append(
            freqs.crossJoin(F.broadcast(total))
            .select(
                F.lit(c).alias("column"),
                (
                    -(F.col("cnt") / F.col("n"))
                    * F.log2(F.col("cnt") / F.col("n"))
                ).alias("term"),
            )
            .groupBy("column")
            .agg(F.round(F.sum("term"), 4).alias("entropy_bits"))
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def fd_violations(df: DataFrame, determinant: str, dependent: str) -> DataFrame:
    """Functional-dependency check: does ``determinant → dependent``
    hold? Returns one row with the number of determinant values mapping
    to MORE than one dependent value and the total violating row count
    — the data-quality probe for "is this really a key/lookup
    relationship". Single grouped count_distinct keyed by the
    determinant.
    """
    per = df.groupBy(determinant).agg(
        F.count_distinct(F.col(dependent)).alias("n_dep"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return per.agg(
        F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
        .cast("long")
        .alias("violating_keys"),
        F.coalesce(
            F.sum(F.when(F.col("n_dep") > 1, F.col("n_rows"))), F.lit(0)
        )
        .cast("long")
        .alias("violating_rows"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch: bounded-memory frequency estimation
# ---------------------------------------------------------------------------

_CMS_MOD = 10**17


def _cms_cells(df: DataFrame, key_col: str, id_cols: list[str], depth: int, width: int) -> DataFrame:
    """One row per (input row, sketch row): ``id_cols`` + (d, w). Cell
    column per depth d is the repo's portable md5 double-hash
    ``(a + d·b) mod width`` — bit-reproducible in any engine, so the
    sketch itself (not just its estimates) is oracle-checkable."""
    a = F.conv(F.substring(F.md5(key_col), 1, 15), 16, 10).cast("long") % _CMS_MOD
    b = F.conv(F.substring(F.md5(key_col), 16, 15), 16, 10).cast("long") % _CMS_MOD
    cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"), ((a + F.lit(d) * b) % width).alias("w")
                )
                for d in range(depth)
            ]
        )
    ).alias("__c")
    return df.select(*id_cols, cell).select(
        *id_cols, F.col("__c.d").alias("d"), F.col("__c.w").alias("w")
    )


def cms_build(df: DataFrame, key_col: str, depth: int = 4, width: int = 256) -> DataFrame:
    """Count-min sketch of ``key_col`` occurrences: a (d, w, cnt) table
    of at most depth·width rows. One narrow depth-way explode → one
    hash agg whose shuffle is O(depth·width) partial rows per input
    partition — corpus size never reaches the reduce side. Estimates
    are upper bounds (over by ≤ εN with ε ≈ e/width at the usual
    confidence); mergeable across batches/days by cellwise sum, which
    is what makes it the streaming/continuous-ingest frequency
    baseline where exact top-k state would grow unboundedly."""
    return (
        _cms_cells(df, key_col, [], depth, width)
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame,
    cms: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for ``probes``' distinct keys:
    ``min`` over the key's ``depth`` sketch cells. The sketch side is
    a broadcast (≤ depth·width rows by construction); the probe side
    never shuffles more than its distinct keys.

    ``depth``/``width`` MUST match the :func:`cms_build` call that made
    ``cms`` — a mismatch re-hashes probes into cells the sketch never
    populated and silently underestimates (a present key can read 0).
    """
    cells = _cms_cells(probes.select(key_col).distinct(), key_col, [key_col], depth, width)
    return (
        cells.join(F.broadcast(cms), ["d", "w"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_count"))
    )


# ---------------------------------------------------------------------------
# Engine-portable HyperLogLog: oracle-certifiable distinct sketches
# ---------------------------------------------------------------------------
#
# ``approx_count_distinct`` is the production 100 TB mode, but its
# HLL++ registers are Spark-internal — a second engine can't reproduce
# the estimate, so cross-engine certification degrades to rows-only.
# This variant pins every step to exact integer arithmetic on the
# repo's portable md5 hash: bucket = low 8 hash bits, rho = leading
# zeros of the next 32 bits via LENGTH(BIN(x)) (string length, no
# floating log), and the harmonic-mean denominator Σ 2^-reg is scaled
# by 2^33 so it SUMS AS A BIGINT — bit-identical in any engine —
# before the single final double division. Registers are max-mergeable
# across batches/partitions like any HLL.

_HLL_M = 256  # 2^8 buckets; std error ~1.04/sqrt(m) ≈ 6.5%
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)


def _hll_bucket_rho(df: DataFrame, col: str, keep_cols: list[str]) -> DataFrame:
    """(keep_cols..., bucket, rho) rows — the ONE definition of the
    portable md5→bucket/rho derivation behind every hll_* operator
    (flat, grouped, sliding): a divergence here is a divergence from
    every certified oracle, so it exists exactly once.

    NULL keys hash to NULL and would form a phantom 257th bucket
    (n_present can exceed m, making the empty-bucket count negative)
    — and count_distinct excludes NULLs, so so must the sketch."""
    h = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    hdf = df.where(F.col(col).isNotNull()).select(*keep_cols, h.alias("__h"))
    sub = F.pmod(F.shiftright(F.col("__h"), 8), F.lit(4294967296))
    rho = F.when(sub > 0, F.lit(33) - F.length(F.bin(sub))).otherwise(F.lit(33))
    return hdf.select(
        *keep_cols, (F.col("__h") % _HLL_M).alias("bucket"), rho.alias("rho")
    )


def _hll_reg_aggs() -> list:
    """The (n_present, s_present) aggregate pair every estimator runs
    over a register table — shared so the estimate formula below
    always sees the same inputs."""
    return [
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("shiftleft(1L, 33 - reg)")).alias("s_present"),
    ]


def _hll_estimate_col():
    """The bias-corrected estimate (with the standard small-range
    linear-counting branch — integer branch inputs, so the condition
    never diverges cross-engine) as a Column over
    (n_present, s_present). One definition for flat/grouped/sliding."""
    m = _HLL_M
    s_total = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(2**33)
    raw = F.lit(_HLL_ALPHA * m * m * 2**33) / s_total
    v = F.lit(m) - F.col("n_present")
    return F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(m) / v)
    ).otherwise(raw)


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(bucket, reg) HLL registers of a column — ≤ m rows, mergeable
    by cellwise max."""
    return (
        _hll_bucket_rho(df, col, [])
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """1-row distinct-count estimate from a register table."""
    return regs.agg(*_hll_reg_aggs()).select(
        F.round(_hll_estimate_col(), 2).alias("est_distinct")
    )


def hll_distinct(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column portable-HLL distinct estimates next to the exact
    count and relative error — the certification view. One register
    agg + one exact distinct agg per column; at 100 TB drop the exact
    twin and keep the sketch."""
    outs = []
    for c in cols:
        est = hll_estimate(hll_registers(df, c))
        exact = df.agg(F.count_distinct(F.col(c)).cast("long").alias("exact_distinct"))
        outs.append(
            est.crossJoin(F.broadcast(exact)).select(
                F.lit(c).alias("col_name"),
                "est_distinct",
                "exact_distinct",
                F.round(
                    F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                    / F.col("exact_distinct"),
                    4,
                ).alias("rel_err"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def hll_grouped(
    df: DataFrame, group_cols: list[str], col: str
) -> DataFrame:
    """Per-group portable-HLL distinct estimates (distinct users per
    day/segment) next to the exact per-group count — the grouped form
    of :func:`hll_distinct`, and the shape that matters at 100 TB:
    per-partition register tables (≤ m rows per group) roll up across
    days by cellwise max, so "distinct over any date range" is a
    register merge, never a rescan.

    One hash agg to (group, bucket) registers, one to estimates; the
    exact twin joins back on the group key for the certification
    view."""
    regs = (
        _hll_bucket_rho(df, col, group_cols)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    agg = regs.groupBy(*group_cols).agg(*_hll_reg_aggs())
    exact = df.groupBy(*group_cols).agg(
        F.count_distinct(F.col(col)).cast("long").alias("exact_distinct")
    )
    return (
        agg.select(
            *group_cols, F.round(_hll_estimate_col(), 2).alias("est_distinct")
        )
        .join(exact, list(group_cols))
        .select(
            *group_cols,
            "est_distinct",
            "exact_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
    )


def hll_sliding_distinct(
    df: DataFrame,
    ts_col: str,
    col: str,
    window_days: int = 7,
) -> DataFrame:
    """Sliding-window distinct-count estimates per day from DAILY HLL
    register tables — the "7-day active users, reported daily" ask,
    which exact COUNT DISTINCT cannot serve at scale because sliding
    windows overlap (each raw row would be re-counted window_days
    times). Registers are built ONCE per (day, bucket) in one hash agg
    over the facts; each day's window is then a cellwise max over ≤
    window_days × m register rows, so ANY window length or alignment
    is a register merge over day-count-sized state, never a rescan.

    The window for day d is the trailing [d-(window_days-1), d],
    reported only for days present in the data. The exact twin (a
    range join re-counting raw rows per window) rides along for the
    certification view — drop it at 100 TB and keep the merge.

    Same portable register construction as :func:`hll_registers`
    (md5-derived 33-bit rho — the shared ``_hll_bucket_rho``), so a
    DuckDB oracle replays the whole pipeline bit for bit."""
    day = F.to_date(F.col(ts_col))
    regs = (
        _hll_bucket_rho(df.withColumn("__d", day), col, ["__d"])
        .groupBy("__d", "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    keyed = df.where(F.col(col).isNotNull()).select(
        day.alias("__d"), F.col(col).alias("__k")
    )
    return hll_sliding_from_daily_registers(regs, keyed, window_days)


def hll_sliding_from_daily_registers(
    regs: DataFrame, keyed: DataFrame, window_days: int = 7
) -> DataFrame:
    """Window-merge + estimate + exact-twin tail of
    :func:`hll_sliding_distinct`, taking ALREADY-BUILT daily registers
    ``(__d date, bucket, reg)`` — shared by the batch operator and the
    streaming twin, whose state store accumulates the same daily
    registers by cellwise max across micro-batches (HLL registers
    merge associatively, so batch partials fold into exactly the
    daily table a one-shot build produces). ``keyed`` is the
    ``(__d, __k)`` frame for the exact certification leg.

    The daily register table is checkpointed (≤ days × m rows): it
    feeds the day spine AND the window explode, and lazy registers
    re-ran the full-data register build per reference (r13 scan
    audit)."""
    regs = regs.localCheckpoint(eager=True)
    days = regs.select(F.col("__d").alias("__t")).distinct()
    # each day's registers contribute to the window_days target days
    # they fall inside; semi-join keeps only targets that exist
    contrib = (
        regs.select(
            F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("__off"),
            "__d",
            "bucket",
            "reg",
        )
        .select(
            F.date_add(F.col("__d"), F.col("__off")).alias("__t"), "bucket", "reg"
        )
        .join(F.broadcast(days), "__t", "left_semi")
    )
    merged = contrib.groupBy("__t", "bucket").agg(F.max("reg").alias("reg"))
    agg = merged.groupBy("__t").agg(*_hll_reg_aggs())
    ests = agg.select(
        "__t", F.round(_hll_estimate_col(), 2).alias("est_distinct")
    )
    exact = (
        days.join(
            keyed,
            (F.col("__d") <= F.col("__t"))
            & (F.col("__d") >= F.date_sub(F.col("__t"), window_days - 1)),
        )
        .groupBy("__t")
        .agg(F.count_distinct("__k").cast("long").alias("exact_distinct"))
    )
    return (
        ests.join(exact, "__t")
        .select(
            F.col("__t").alias("day"),
            "est_distinct",
            "exact_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 100,
    qs: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Engine-portable approximate quantiles from a fixed-bin
    histogram: bin counts → cumulative distribution → linear
    interpolation inside the target bin. The third mergeable sketch
    next to HLL (distinct) and CMS (frequency): histograms from
    different partitions/days merge by binwise SUM, and any quantile
    of any range is then arithmetic over ≤ n_bins numbers.

    Unlike ``percentile_approx`` (whose KLL sketch internals no other
    engine reproduces), every step here is exact integer counting +
    one final interpolation over identical doubles, so the estimate is
    value-certifiable cross-engine. Error is bounded by the bin width
    (hi−lo)/n_bins; values outside [lo, hi] clamp into the edge bins
    (the standard fixed-range histogram contract, cf.
    :func:`numeric_histogram`).
    """
    if hi <= lo or n_bins < 1:
        raise ValueError(f"need hi > lo and n_bins >= 1, got {lo}, {hi}, {n_bins}")
    width = (hi - lo) / n_bins
    v = F.col(col).cast("double")
    bin_id = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((v - lo) / width).cast("int")),
    )
    hist = (
        df.where(v.isNotNull())
        .select(bin_id.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wspec = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(wspec).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    outs = []
    for q in qs:
        # first bin whose cumulative count reaches q·total, then
        # interpolate by the fraction of that bin's count needed
        target = F.ceil(F.lit(q) * F.col("total"))
        cand = cum.where(F.col("cum") >= target).orderBy("bin").limit(1)
        est = cand.select(
            F.lit(q).alias("quantile"),
            F.round(
                F.lit(lo)
                + (
                    F.col("bin")
                    + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
                )
                * width,
                4,
            ).alias("est_value"),
        )
        outs.append(est)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations for a column set, long format
    (col_a, col_b, pearson) for every unordered pair — the
    multicollinearity probe over profiled numerics. ONE aggregation
    pass computes all n·(n−1)/2 coefficients (each is a handful of
    running sums that share the same partial+final hash agg); never a
    per-pair scan."""
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    wide = df.agg(
        *[
            F.round(
                F.corr(F.col(a).cast("double"), F.col(b).cast("double")), 4
            ).alias(f"{a}__{b}")
            for a, b in pairs
        ]
    )
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"{a}__{b}").alias("pearson"),
        )
        for a, b in pairs
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def heavy_hitters(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """EXACT heavy hitters — every key with count strictly >
    n/``k`` — at 100 TB cost: a per-partition Misra-Gries pass prunes
    the candidate space to ≤ capacity = 4·k keys per partition WITHOUT
    shuffling the full key universe (the way an exact groupBy-count
    top-k must), then ONE exact recount of only the candidates
    (broadcast join) produces exact counts. Misra-Gries never drops a
    key whose partition count exceeds n_p/capacity, and any global
    heavy hitter exceeds that in at least one partition (pigeonhole),
    so the candidate set has zero false negatives for capacity ≥ k;
    the 4× margin just trims false positives. The output —
    exact keys, exact counts, integer threshold arithmetic
    (count·k > n) — is DETERMINISTIC regardless of partitioning; only
    the intermediate candidate set varies, and it never surfaces.

    The per-partition pass is Arrow-batched and vectorized: each
    batch is counted with pandas ``value_counts`` (C speed), and only
    the ≤ unique-keys batch summary touches the Python dict, which is
    trimmed by the standard weighted-merge rule (subtract the
    (capacity+1)-th largest weight, drop ≤ 0).
    """
    capacity = 4 * k

    def mg(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for key, cnt in pdf["__key"].value_counts().items():
                counters[key] = counters.get(key, 0) + int(cnt)
            if len(counters) > capacity:
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    key: c - cut for key, c in counters.items() if c > cut
                }
        yield pd.DataFrame({"__key": list(counters.keys())})

    keyed = df.select(F.col(key_col).cast("string").alias("__key"))
    cand = keyed.mapInPandas(mg, "__key string").distinct()
    # recount pass doubles as the total count: a LEFT join against the
    # broadcast candidates folds every non-candidate row into one NULL
    # group, so n = sum over ALL groups — two corpus scans total (MG +
    # recount), never a third count-only pass
    counted = (
        keyed.join(
            F.broadcast(cand.withColumn("__is_cand", F.lit(True))),
            "__key",
            "left",
        )
        .groupBy(
            F.when(F.col("__is_cand"), F.col("__key")).alias("__key")
        )
        .agg(F.count("*").alias("cnt"))
    )
    # global window over `counted` only: ≤ partitions·capacity + 1
    # rows by construction, so the single-partition move is bounded by
    # sketch geometry, never by corpus size (WindowExec warns blindly)
    n = F.sum("cnt").over(Window.partitionBy())
    return (
        counted.withColumn("__n", n)
        .where(F.col("__key").isNotNull() & (F.col("cnt") * k > F.col("__n")))
        .select(F.col("__key").alias(key_col), "cnt")
    )


def histogram2d(
    df: DataFrame,
    x_expr,
    y_col: str,
    y_lo: float,
    y_hi: float,
    y_bins: int,
) -> DataFrame:
    """2-D histogram: a categorical/derived x dimension × fixed-edge
    numeric y bins — the heatmap aggregation (hour-of-day × value
    band, segment × latency band). Data-independent y edges, so like
    the 1-D histograms this is ONE shuffle with no pre-pass and the
    cell count is bounded by x_cardinality·y_bins regardless of rows.
    Out-of-range y values clamp into the edge bins (closed outer
    edges), NULLs are dropped.

    ``x_expr`` is any Column (e.g. ``F.hour("ts")``).
    """
    width = (y_hi - y_lo) / y_bins
    raw = F.floor((F.col(y_col) - F.lit(y_lo)) / F.lit(width)).cast("int")
    ybin = F.least(F.greatest(raw, F.lit(0)), F.lit(y_bins - 1))
    return (
        df.where(F.col(y_col).isNotNull())
        .groupBy(x_expr.alias("x"), ybin.alias("y_bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "x",
            F.col("y_bin").cast("long").alias("y_bin"),
            F.round(F.lit(y_lo) + F.col("y_bin") * F.lit(width), 4).alias("y_lo"),
            F.col("n").cast("long").alias("n"),
        )
    )


def _contingency_cells(df: DataFrame, col_a, col_b) -> DataFrame:
    """One contingency aggregation (map-side combine), EAGERLY
    CHECKPOINTED: every contingency statistic references the cells
    frame 3-6× downstream (marginals, totals, geometry), and Catalyst
    reuses no subtree statically — lazy cells meant the FULL-TABLE
    aggregation re-ran once per reference (measured: 8 source scans
    in mutual_information's plan, 4-5 in χ²/Cramér's V; the
    docstrings' "input is scanned ONCE" was the intent, not the
    plan). The checkpoint is ≤|A|·|B| rows, so the statistics now
    cost one scan + cell-sized work at any table size — the shape
    the docstrings promise."""
    return (
        df.groupBy(col_a.alias("a"), col_b.alias("b"))
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=True)
    )


def chi_square_independence(
    df: DataFrame, col_a, col_b
) -> DataFrame:
    """Pearson χ² test of independence between two categorical
    dimensions, computed relationally: one contingency aggregation
    (map-side combine), two marginal re-aggregations OF THE CELLS
    (never the data), expected = row·col/N, χ² = Σ(o−e)²/e. One row:
    (chi2, dof, n, n_cells). The input is scanned ONCE (the cells
    frame is checkpointed — see :func:`_contingency_cells`);
    everything after operates on ≤ |A|·|B| cells, so the statistic
    costs the same as a group-count at any table size.

    ``col_a``/``col_b`` are Columns (expressions allowed).
    """
    return _chi_square_from_cells(_contingency_cells(df, col_a, col_b))


def _chi_square_from_cells(cells: DataFrame) -> DataFrame:
    row_tot = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    col_tot = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    n_tot = cells.agg(F.sum("o").alias("n"), F.count(F.lit(1)).alias("n_cells"))
    joined = (
        cells.join(F.broadcast(row_tot), "a")
        .join(F.broadcast(col_tot), "b")
        .crossJoin(F.broadcast(n_tot))
    )
    e = F.col("ra") * F.col("cb") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    # EMPTY contingency cells (absent from the grouped frame) each
    # contribute (0-e)^2/e = e to chi-square; since the expected
    # counts over ALL r*c cells sum to n, the missing-cell mass is
    # n - sum(e over observed cells) -- added without densifying the
    # grid. A dense table (n_cells = r*c) keeps the exact-zero
    # correction so its value is reproducible bit for bit.
    dense = F.max("n_cells") == F.count_distinct(F.col("a")) * F.count_distinct(
        F.col("b")
    )
    missing_mass = F.when(dense, F.lit(0.0)).otherwise(
        F.max("n") - F.sum(e)
    )
    return (
        joined.groupBy()
        .agg(
            F.round(F.sum(term) + missing_mass, 4).alias("chi2"),
            (
                (F.count_distinct(F.col("a")) - 1)
                * (F.count_distinct(F.col("b")) - 1)
            ).cast("long").alias("dof"),
            F.max("n").cast("long").alias("n"),
            F.max("n_cells").cast("long").alias("n_cells"),
        )
    )


def gini_concentration(df: DataFrame, key_col: str) -> DataFrame:
    """Gini coefficient of the key-frequency distribution — the
    inequality number behind "10% of users produce 90% of events" /
    "a handful of domains dominate the crawl". 0 = perfectly even,
    →1 = fully concentrated.

    One count aggregation (map-side combine) over the data, then rank
    + closed-form Gini over the KEY TABLE only:
    G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n with xᵢ ascending. Ties can rank
    in any order without changing the sum (equal x share the same
    contribution over any permutation of their consecutive ranks), so
    the statistic is deterministic under any tiebreak.
    """
    from sparkobs.operators.joins import global_row_index

    freq = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("freq"))
    # DISTRIBUTED ascending rank (per-partition index + broadcast
    # offsets): the key table can be web-scale (every user / domain),
    # so it must never funnel through a single-partition window
    ranked = global_row_index(freq, ["freq", key_col], index_col="i")
    return ranked.agg(
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("freq")))
            / (F.count(F.lit(1)) * F.sum("freq"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            4,
        ).alias("gini"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("freq").cast("long").alias("n_rows"),
        F.max("freq").cast("long").alias("max_freq"),
    )


def grouped_mad(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Median absolute deviation per group — the robust spread twin of
    stddev (outlier-insensitive, the right denominator for robust
    z-scores). Two exact-percentile passes: the group median, then the
    median of |v − median| (joined back via the group key — the median
    table is group-sized, broadcastable). At 100 TB swap exact
    percentile for ``percentile_approx`` on both passes (the sketch
    mode documented for the profile operators).
    """
    med = df.groupBy(*group_cols).agg(
        F.round(
            F.percentile(F.col(value_col).cast("double"), F.lit(0.5)), 4
        ).alias("median_val")
    )
    dev = df.join(F.broadcast(med), group_cols).select(
        *group_cols,
        F.abs(F.col(value_col) - F.col("median_val")).alias("__ad"),
        "median_val",
    )
    return dev.groupBy(*group_cols).agg(
        F.max("median_val").alias("median_val"),
        F.round(F.percentile(F.col("__ad"), F.lit(0.5)), 4).alias("mad"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


def ks_drift_binned(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 100,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance over fixed bins: bin both
    samples on the same data-independent edges, build the two empirical
    CDFs with a cumulative window over the BIN TABLE (≤ n_bins+1 rows),
    and take D = max |cdf_a − cdf_b| — the distribution-shift test that
    PSI's fixed-floor log terms approximate, exact up to bin width.
    Two hash aggs over the data; everything after is bin-table-sized.
    Out-of-range values clamp into the edge bins so both tails count.
    """
    from pyspark.sql import Window as W

    width = (hi - lo) / n_bins
    def binned(df, tag):
        raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int")
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
        return (
            df.where(F.col(value_col).isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(f"c_{tag}"))
        )
    cells = binned(df_a, "a").join(binned(df_b, "b"), "bin", "full_outer").select(
        F.coalesce("bin", F.lit(0)).alias("bin"),
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    return ks_from_cells(cells)


def ks_from_cells(cells: DataFrame) -> DataFrame:
    """CDF construction + max-gap tail of the binned KS test, shared by
    the batch shape above and the streaming twin (which collects the
    ``(bin, c_a, c_b)`` cells continuously and scores them after the
    drain). Everything here is bin-table-sized — the cumulative window
    runs over the BIN TABLE, never raw rows. Cells are checkpointed
    (≤ n_bins rows): they feed BOTH the totals and the CDF window, and
    lazy cells re-ran the two full-data binning aggs per reference
    (r13 scan audit)."""
    from pyspark.sql import Window as W

    cells = cells.localCheckpoint(eager=True)
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = cells.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    cdfs = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        (F.sum("c_a").over(w) / F.col("n_a")).alias("cdf_a"),
        (F.sum("c_b").over(w) / F.col("n_b")).alias("cdf_b"),
        "n_a",
        "n_b",
    )
    return cdfs.agg(
        F.round(F.max(F.abs(F.col("cdf_a") - F.col("cdf_b"))), 4).alias("ks_d"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
    )


def hll_merge_estimate(regs_list: list[DataFrame]) -> DataFrame:
    """Merge any number of portable-HLL register tables (cellwise max —
    the property that makes HLL the cross-run / cross-partition
    distinct sketch: union of sketches ≡ sketch of the union, no raw
    data revisited) and estimate the merged distinct count. Each input
    is ≤ m rows, so the merge costs nothing at any corpus size.
    """
    merged = regs_list[0]
    for r in regs_list[1:]:
        merged = merged.unionByName(r)
    return hll_estimate(
        merged.groupBy("bucket").agg(F.max("reg").alias("reg"))
    )


def hll_intersection_estimate(
    regs_a: DataFrame, regs_b: DataFrame
) -> DataFrame:
    """Sketch-only set-intersection estimate by inclusion–exclusion:
    |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union estimate is
    the cellwise register max-merge (exactly the sketch of A∪B, same
    hash). Answers the cross-run / cross-table overlap question —
    contamination between corpus snapshots, shared users between
    funnels — from the sketches alone, O(m) work, no raw data
    revisited. The usual HLL caveat applies and is the caller's to
    judge: the error is relative to the UNION size, so tiny
    intersections of huge sets drown in sketch noise (pair with the
    exact intersect twin while certifying, drop it at scale).
    Output 1 row: (est_a, est_b, est_union, est_intersection)."""
    # checkpointed: each side's register table feeds TWO legs (own
    # estimate + union merge) and Catalyst reuses no subtree
    # statically — lazy registers re-ran the full sketch build (a
    # source scan) per leg. ≤m rows each; values unchanged.
    regs_a = regs_a.localCheckpoint(eager=True)
    regs_b = regs_b.localCheckpoint(eager=True)
    ea = hll_estimate(regs_a).select(F.col("est_distinct").alias("est_a"))
    eb = hll_estimate(regs_b).select(F.col("est_distinct").alias("est_b"))
    eu = hll_merge_estimate([regs_a, regs_b]).select(
        F.col("est_distinct").alias("est_union")
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
        )
    )


def mutual_information(df: DataFrame, col_a, col_b) -> DataFrame:
    """Mutual information (nats) between two categorical dimensions —
    the effect-size companion to :func:`chi_square_independence`
    (χ² says "dependent", MI says "by how many bits"). Same
    contingency machinery: one cell aggregation over the data, then
    MI = Σ p_ab·ln(p_ab·N² / (ra·cb·N)) over cells only. Also reports
    the normalized variant MI/min(H_a, H_b) ∈ [0,1]. Cells are
    checkpointed (:func:`_contingency_cells`) so the input is scanned
    once, not once per downstream reference.
    """
    cells = _contingency_cells(df, col_a, col_b)
    row_tot = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    col_tot = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    n_tot = cells.agg(F.sum("o").alias("n"))
    joined = (
        cells.join(F.broadcast(row_tot), "a")
        .join(F.broadcast(col_tot), "b")
        .crossJoin(F.broadcast(n_tot))
    )
    mi_term = (F.col("o") / F.col("n")) * F.log(
        F.col("o") * F.col("n") / (F.col("ra") * F.col("cb"))
    )
    ha_term = row_tot.crossJoin(F.broadcast(n_tot)).agg(
        F.sum(-(F.col("ra") / F.col("n")) * F.log(F.col("ra") / F.col("n"))).alias("h_a")
    )
    hb_term = col_tot.crossJoin(F.broadcast(n_tot)).agg(
        F.sum(-(F.col("cb") / F.col("n")) * F.log(F.col("cb") / F.col("n"))).alias("h_b")
    )
    return (
        joined.agg(F.round(F.sum(mi_term), 4).alias("mi_nats"))
        .crossJoin(F.broadcast(ha_term))
        .crossJoin(F.broadcast(hb_term))
        .select(
            "mi_nats",
            F.round("h_a", 4).alias("h_a"),
            F.round("h_b", 4).alias("h_b"),
            # constant column ⇒ its entropy is 0 ⇒ MI is 0 and the
            # 0/0 ratio is defined as 0.0 (no dependence is possible
            # with a degenerate marginal) instead of a silent NULL
            F.when(
                F.least(F.round("h_a", 4), F.round("h_b", 4)) > 0,
                F.round(
                    F.col("mi_nats") / F.least(F.round("h_a", 4), F.round("h_b", 4)), 4
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("mi_normalized"),
        )
    )


def cramers_v(df: DataFrame, col_a, col_b) -> DataFrame:
    """Cramér's V effect size for a categorical pair — the [0, 1]
    normalization of :func:`chi_square_independence`
    (V = √(χ²/(N·min(r−1, c−1)))) that makes dependence strengths
    comparable across tables of different shapes. Same relational
    scan shape: ONE contingency aggregation, everything downstream on
    ≤ |A|·|B| cells. Degenerate inputs (a constant column ⇒
    min(r−1, c−1) = 0) define V = 0.0, matching the normalized-MI
    convention. One row: (chi2, dof, n, v). One checkpointed cells
    frame feeds BOTH the χ² legs and the geometry — previously the
    contingency aggregation (a full-table scan) ran five times in one
    plan."""
    cells = _contingency_cells(df, col_a, col_b)
    base = _chi_square_from_cells(cells)
    # dof = (r-1)(c-1); min(r-1, c-1) recovered from the cell geometry
    geo = cells.agg(
        (F.count_distinct("a") - 1).alias("rm1"),
        (F.count_distinct("b") - 1).alias("cm1"),
    )
    k = F.least(F.col("rm1"), F.col("cm1"))
    return base.crossJoin(F.broadcast(geo)).select(
        "chi2",
        "dof",
        "n",
        F.when(
            k > 0, F.round(F.sqrt(F.col("chi2") / (F.col("n") * k)), 4)
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
    )


def spearman_corr(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Spearman rank correlation with textbook AVERAGE ranks for ties
    — the monotone-dependence twin of Pearson r, robust to outliers
    and nonlinearity.

    Distributed shape: ranks come from the VALUE tables, not a global
    sort of the data — per column, one frequency aggregation, a
    distributed running sum over the (much smaller) distinct-value
    table, and a broadcast-eligible join back
    (avg_rank = cum − freq + (freq+1)/2). The correlation itself is
    one pass of exact sufficient statistics: ranks are half-integers,
    so every Σ term is exact in float64 at certification scale and the
    final expression is a single arithmetic tree over identical
    doubles on any engine (bit-identical, rounded 4dp for the
    contract). One row: (rho, n_rows)."""
    from sparkobs.operators.joins import global_running_sum

    def ranked(col: str, out: str) -> DataFrame:
        freq = df.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).alias("__f")
        )
        cum = global_running_sum(freq, ["__v"], "__f", out_col="__c")
        return cum.select(
            "__v",
            (
                F.col("__c") - F.col("__f") + (F.col("__f") + 1) / 2.0
            ).alias(out),
        )
    ra, rb = ranked(col_a, "__ra"), ranked(col_b, "__rb")
    j = (
        df.select(F.col(col_a).alias("__va"), F.col(col_b).alias("__vb"))
        .join(ra.withColumnRenamed("__v", "__va"), "__va")
        .join(rb.withColumnRenamed("__v", "__vb"), "__vb")
    )
    stats = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__ra").alias("sa"),
        F.sum("__rb").alias("sb"),
        F.sum(F.col("__ra") * F.col("__ra")).alias("saa"),
        F.sum(F.col("__rb") * F.col("__rb")).alias("sbb"),
        F.sum(F.col("__ra") * F.col("__rb")).alias("sab"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.sqrt(
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
        * (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
    )
    return stats.select(
        (F.when(den > 0, F.round(num / den, 4)).otherwise(F.lit(0.0)) + F.lit(0.0)).alias("rho"),
        F.col("n").cast("long").alias("n_rows"),
    )


def benford_screen(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit screen — the classic fabricated-
    numbers / data-quality test for positive, scale-spanning measures.
    Per leading digit d ∈ 1..9: observed count, observed share,
    Benford's expected share log10(1 + 1/d), and the absolute
    deviation.

    The leading digit is extracted from the engine's SHORTEST-REPR
    string rendering (``CAST(x AS STRING)``) rather than via
    log10/power arithmetic (libm last-ulp differences flip digits on
    exact powers of ten) or a fixed ``%.2f``/``%e`` rendering (any
    rounding render can CARRY across a power of ten: ``%.2f`` turns
    9.995 into "10.00" → digit 1, and drops positives below 0.005
    entirely; even ``%.16e`` diverges cross-engine at boundaries like
    1e-12). Shortest repr is unique per double, involves no rounding
    that can carry, and both Spark (Double.toString) and DuckDB
    (VARCHAR cast) emit it — so the screen is exact for ANY positive
    double, scale-spanning included. One count aggregation;
    everything downstream is 9 rows."""
    digit = F.regexp_extract(
        F.abs(F.col(col)).cast("string"), "([1-9])", 1
    )
    counts = (
        df.where(F.col(col).isNotNull() & (F.abs(F.col(col)) > 0))
        .groupBy(digit.cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).alias("n_values"))
        .where(F.col("digit").isNotNull())
    )
    tot = counts.agg(F.sum("n_values").alias("__n"))
    exp_share = F.round(F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)), 4)
    obs_share = F.round(F.col("n_values") / F.col("__n"), 4)
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n_values").cast("long").alias("n_values"),
        obs_share.alias("obs_share"),
        exp_share.alias("exp_share"),
        F.round(F.abs(obs_share - exp_share), 4).alias("abs_dev"),
    )


def emd_drift_binned(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 100,
) -> DataFrame:
    """Binned 1-D earth-mover's (Wasserstein-1) distance — the
    MAGNITUDE companion to :func:`ks_drift_binned`: KS reports the
    worst single CDF gap, EMD integrates |cdf_a − cdf_b| over the
    value range, so a broad small shift and a narrow large one
    separate. Same scan shape: two hash aggs over the data, then a
    bin-table cumulative window (≤ n_bins rows). Output:
    (emd, ks_d, n_a, n_b) — both distances from one pass."""
    from pyspark.sql import Window as W

    width = (hi - lo) / n_bins

    def binned(df, tag):
        raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)).cast("int")
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
        return (
            df.where(F.col(value_col).isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(f"c_{tag}"))
        )

    # checkpointed (≤ n_bins rows): cells feed totals + the CDF
    # window; lazy, both full-data binning aggs re-ran per reference
    # (r13 scan audit)
    cells = (
        binned(df_a, "a")
        .join(binned(df_b, "b"), "bin", "full_outer")
        .select(
            F.coalesce("bin", F.lit(0)).alias("bin"),
            F.coalesce("c_a", F.lit(0)).alias("c_a"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
        )
        .localCheckpoint(eager=True)
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = cells.agg(F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b"))
    gap = F.abs(
        F.sum("c_a").over(w) / F.col("n_a") - F.sum("c_b").over(w) / F.col("n_b")
    )
    # the bin table is SPARSE (only observed bins): each gap stays
    # constant until the next observed bin, so it integrates with
    # weight (next_bin - bin); the tail after the last observed bin
    # has both CDFs at 1 (gap 0)
    span = F.lead("bin", 1, n_bins).over(W.orderBy("bin")) - F.col("bin")
    cdfs = cells.crossJoin(F.broadcast(tot)).select(
        "bin", gap.alias("gap"), span.alias("span"), "n_a", "n_b"
    )
    return cdfs.agg(
        F.round(F.sum(F.col("gap") * F.col("span")) * F.lit(width), 4).alias("emd"),
        F.round(F.max("gap"), 4).alias("ks_d"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
    )


def exact_quantiles_twopass(
    df: DataFrame,
    col: str,
    qs: tuple = (0.25, 0.5, 0.75),
    n_bins: int = 10_000,
) -> DataFrame:
    """EXACT quantiles at any scale in two data passes + a bracket
    scan — the 100 TB alternative to both single-pass exact
    ``percentile`` (which buffers the column's value counts in one
    task) and ``percentile_approx`` (bounded error). Delegates to
    :func:`exact_quantiles_grouped` under a constant group — ONE
    implementation owns the subtle bit-parity logic (histogram
    bracket location, Percentile.scala's ceil/floor rank weights and
    its integral-rank + tied-key short-circuits); a 400-case stress
    run against the builtin is bit-identical. Output:
    (q, value, n_rows) ordered by q; NULLs excluded like
    ``percentile``.
    """
    out = exact_quantiles_grouped(
        df.select(F.col(col)).withColumn("__all", F.lit(0)),
        "__all",
        col,
        qs,
        n_bins,
    )
    return out.select("q", "value", "n_rows").orderBy("q")


def exact_quantiles_grouped(
    df: DataFrame,
    group_col: str,
    col: str,
    qs: tuple = (0.25, 0.5, 0.75),
    n_bins: int = 10_000,
) -> DataFrame:
    """Per-group EXACT quantiles for groups too big to buffer — the
    grouped twin of :func:`exact_quantiles_twopass`. Spark's exact
    ``percentile`` aggregate collects each group's values into one
    in-memory buffer (a counts map per group), which dies when a
    single group holds billions of rows; here every step is an
    ordinary hash agg / join / windowed bin table, so a group's
    values never congregate: pass 1 builds a per-group fixed-bin
    histogram between the group's observed bounds, the per-group
    cumulative bin table locates each type-7 order statistic, pass 2
    sorts only the bracket (group, bin) cells. Interpolation replays
    Percentile.scala bit for bit exactly as the ungrouped twin
    (ceil/floor rank weights, integral-rank and tied-key
    short-circuits). The per-group bounds table is group-table-sized —
    eagerly checkpointed (the no-aggregate-subtree-reuse escape),
    never collected; the located targets (2·|qs| rows per group) have
    exactly ONE consumer, the broadcast into the bracket pick join,
    so they materialize inside that broadcast build rather than
    paying their own checkpoint job (r14). The broadcast bounds the
    supported group cardinality at broadcast size (~millions of
    groups) — beyond that, drop the F.broadcast hint and let AQE
    shuffle both sides. Output: (group, q, value, n_rows) ordered by
    group, q.
    """
    v = F.col(col).cast("double")
    g = F.col(group_col).alias("__g")
    data = df.where(v.isNotNull()).select(g, v.alias("__v"))
    # bounds over FINITE values only: one NaN would make __hi = NaN
    # (NaN is largest in Spark), turning every bin expression NaN and
    # collapsing the histogram to a single bin — i.e. silently
    # recreating the one-task full-group sort this operator exists to
    # avoid. Ranks (__n) still count every non-null row.
    fin = (
        (~F.isnan(F.col("__v")))
        & (F.col("__v") != F.lit(float("inf")))
        & (F.col("__v") != F.lit(float("-inf")))
    )
    bounds = (
        data.groupBy("__g")
        .agg(
            F.min(F.when(fin, F.col("__v"))).alias("__lo"),
            F.max(F.when(fin, F.col("__v"))).alias("__hi"),
            F.count(F.lit(1)).alias("__n"),
        )
        .localCheckpoint()  # one row per group
    )

    def binned():
        # bin assignment is monotone wrt Spark's double sort order
        # (-Inf < finite < +Inf < NaN): -Inf → bin 0, +Inf and NaN →
        # the top bin (the within-bin orderBy sorts +Inf < NaN, so
        # sharing the top bin preserves the exact order statistics)
        return data.join(bounds, "__g").select(
            "__g",
            "__v",
            F.when(
                F.isnan(F.col("__v"))
                | (F.col("__v") == F.lit(float("inf"))),
                F.lit(n_bins - 1),
            )
            .when(F.col("__v") == F.lit(float("-inf")), F.lit(0))
            .when(
                F.col("__hi") > F.col("__lo"),
                F.least(
                    F.lit(n_bins - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col("__v") - F.col("__lo"))
                            * n_bins
                            / (F.col("__hi") - F.col("__lo"))
                        ).cast("int"),
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .alias("__bin"),
        )

    hist = binned().groupBy("__g", "__bin").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_prev = (
        Window.partitionBy("__g")
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "__g",
        "__bin",
        F.coalesce(F.sum("__cnt").over(w_prev), F.lit(0)).alias("__before"),
        (F.coalesce(F.sum("__cnt").over(w_prev), F.lit(0)) + F.col("__cnt")).alias(
            "__upto"
        ),
    )
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    targets = (
        bounds.select("__g", "__n", F.explode(qarr).alias("q"))
        .select("__g", "q", "__n", (F.col("q") * (F.col("__n") - 1)).alias("__rank"))
        .select(
            "__g",
            "q",
            "__n",
            (F.col("__rank") - F.floor("__rank")).alias("__frac"),
            (F.ceil("__rank") - F.col("__rank")).alias("__wlo"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("__which"),
                        (F.floor("__rank") + 1).alias("__pos"),
                    ),
                    F.struct(
                        F.lit(1).alias("__which"),
                        F.least(F.floor("__rank") + 2, F.col("__n")).alias(
                            "__pos"
                        ),
                    ),
                )
            ).alias("__t"),
        )
        .select(
            "__g", "q", "__n", "__frac", "__wlo", "__t.__which", "__t.__pos"
        )
    )
    located = targets.join(
        cum,
        ["__g"],
    ).where(
        (F.col("__pos") > F.col("__before"))
        & (F.col("__pos") <= F.col("__upto"))
    )
    # ONE broadcast of the located targets does both the bracket-bin
    # restriction and the order-statistic pick (r14, fewer broadcast
    # jobs): the old shape checkpointed `located`, broadcast a
    # distinct (g, bin) frame to pre-filter the bracket, ranked each
    # bracket bin once, then broadcast `located` AGAIN for the pick —
    # three jobs (checkpoint + 2 broadcast builds) where one
    # suffices. Joining the bracket scan directly against the target
    # rows duplicates a bin's rows once per target landing in it
    # (≤ 2·|qs| copies, bin-bounded) and the window ranks each copy
    # independently — the per-copy row_number sequence is identical
    # to the old shared one, so the picked rows are unchanged.
    w_bin = Window.partitionBy("__g", "__bin", "q", "__which").orderBy("__v")
    loc = located.select(
        F.col("__g").alias("__gl"),
        F.col("__bin").alias("__binl"),
        "q",
        "__frac",
        "__wlo",
        "__n",
        "__which",
        "__pos",
        "__before",
    )
    picked = (
        binned()
        .join(
            F.broadcast(loc),
            (F.col("__g") == F.col("__gl"))
            & (F.col("__bin") == F.col("__binl")),
        )
        .withColumn("__rn", F.row_number().over(w_bin))
        .where(F.col("__rn") == F.col("__pos") - F.col("__before"))
        .select("__g", "q", "__frac", "__wlo", "__n", "__which", "__v")
    )
    return (
        picked.groupBy("__g", "q", "__frac", "__wlo", "__n")
        .agg(
            F.min(F.when(F.col("__which") == 0, F.col("__v"))).alias("__v0"),
            F.min(F.when(F.col("__which") == 1, F.col("__v"))).alias("__v1"),
        )
        .select(
            F.col("__g").alias(group_col),
            "q",
            F.when(
                (F.col("__frac") == 0.0) | (F.col("__v0") == F.col("__v1")),
                F.col("__v0"),
            )
            .otherwise(
                F.col("__wlo") * F.col("__v0") + F.col("__frac") * F.col("__v1")
            )
            .alias("value"),
            F.col("__n").cast("long").alias("n_rows"),
        )
        .orderBy(group_col, "q")
    )


# ---------------------------------------------------------------------------
# KMV quantile sketch — deterministic mergeable unknown-range quantiles
# ---------------------------------------------------------------------------

def _salted_hash60(key, salt: str):
    """Engine-portable 60-bit hash: first 15 hex chars of
    md5(salt + key-as-string) parsed base-16 (fits a signed 64-bit int
    in every engine). THE shared hash of the KMV/theta sketch family —
    one definition, because merge-equivalence certifications (e.g.
    kmv_quantiles_merged_orders' hand-built per-month sketch vs the
    direct build) depend on every construction path hashing
    identically, bit for bit. DuckDB replay: _hex15_sql over
    md5(salt || CAST(key AS VARCHAR))."""
    keyc = key if not isinstance(key, str) else F.col(key)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), keyc.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def kmv_quantile_sketch(
    df: DataFrame,
    id_col,
    col: str,
    k: int = 2048,
    salt: str = "",
) -> DataFrame:
    """Deterministic mergeable quantile sketch with NO prior value
    bounds — the k-minimum-values (bottom-k by hash) sampler: the
    sketch is the ``k`` rows whose salted 60-bit md5 hash of the ROW
    ID is smallest, carrying their values. Closes the one sketch-family
    gap the repo's other quantile paths leave open:
    ``histogram_quantiles`` needs known [lo, hi] bounds,
    ``exact_quantiles_twopass`` needs three data passes — this is one
    pass, bounded state, and mergeable.

    Why bottom-k instead of textbook GK/KLL: both of those are
    insertion-order-dependent (GK's band structure, KLL's compaction
    schedule — even DERANDOMIZED KLL depends on arrival order), so
    under Spark's nondeterministic partitioning their state is not a
    pure function of the row set and no cross-engine oracle can replay
    it. Bottom-k by hash is the order-free derandomization of KLL's
    geometric level sampling (the hash threshold plays the coin-flip
    ladder; compaction = threshold tightening at the k-th smallest
    hash): the sketch is a PURE FUNCTION of the row set, merges are
    exact, associative AND commutative (bottom-k of a union of
    bottom-ks over a partition of the data IS the global bottom-k,
    bit for bit), and DuckDB replays the whole construction. The
    price is sample-quantile error O(sqrt(q(1-q)/k)) rank units —
    k = O(1/eps^2) space instead of KLL's O(1/eps) — the honest trade
    for determinism; k=2048 gives ~1% rank error at any data size.

    Hashing the row ID (not the value) keeps duplicate values at
    their true multiplicity in the sample and sidesteps double→string
    cross-engine repr hazards entirely (IDs are integers/strings).

    Plan shape: one scan → per-partition top-k (TakeOrderedAndProject
    keeps k rows per partition map-side) → single k-row merge. At
    100 TB the sketch build is the scan; everything downstream is
    k-row arithmetic. Output rows: (h, value), ≤ k of them.
    """
    idc = id_col if not isinstance(id_col, str) else F.col(id_col)
    v = F.col(col).cast("double")
    # null ids must be excluded, not just null values: a NULL hash
    # sorts FIRST under Spark's ascending orderBy but LAST under the
    # DuckDB replay's default NULLS LAST — a nullable id column would
    # silently fill the Spark-side sample with null-hash rows
    return (
        df.where(v.isNotNull() & idc.isNotNull())
        .select(_salted_hash60(idc, salt).alias("h"), v.alias("value"))
        .orderBy("h", "value")
        .limit(k)
    )


def kmv_quantile_merge(sketches: list[DataFrame], k: int = 2048) -> DataFrame:
    """Merge KMV quantile sketches built over DISJOINT row sets (a
    partition of the data — per month, per source, per micro-batch):
    union the register rows and keep the global bottom-k. Because each
    input row appears in exactly one sub-sketch's candidate set, the
    merged sketch is BIT-IDENTICAL to a single-shot build over the
    union — merges are exact, associative and commutative, so
    per-day sketches roll up to any window/alignment like HLL
    registers do."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.orderBy("h", "value").limit(k)


def kmv_quantile_estimate(sketch: DataFrame, qs: tuple = (0.25, 0.5, 0.75)) -> DataFrame:
    """Quantile estimates from a KMV sketch: Spark's exact
    ``percentile`` over the ≤ k sample values (type-7 interpolation —
    the oracle replays Percentile.scala's wlo*v0 + frac*v1 with the
    integral-rank and tied-key short-circuits over a row_number
    ranking of the same sample). Output: (q, est_value, k_actual)
    ordered by q; k-row input, trivially cheap."""
    qlist = [float(q) for q in qs]
    bplist = [int(round(q * 10000)) for q in qlist]  # exact in Python
    agg = sketch.agg(
        F.percentile("value", F.lit(qlist)).alias("__vals"),
        F.count(F.lit(1)).cast("long").alias("k_actual"),
    )
    return (
        agg.select(
            F.posexplode("__vals").alias("__i", "est_value"), "k_actual"
        )
        .select(
            F.element_at(F.lit(qlist), F.col("__i") + 1).alias("q"),
            F.element_at(F.lit(bplist), F.col("__i") + 1)
            .cast("long")
            .alias("q_bp"),
            "est_value",
            "k_actual",
        )
        .orderBy("q")
    )


def kmv_quantile_certify(
    df: DataFrame, col: str, est: DataFrame
) -> DataFrame:
    """Certification view for KMV estimates: each estimate's TRUE rank
    in the full data as exact integer BASIS POINTS (floor of
    rows_below*10000/n — pure integer arithmetic, so no percentile
    parity is needed on the exact leg and no round() ever touches a
    ratio that can sit on the half-grid) and the rank error
    |true_rank_bp − q_bp|, also integer. One data scan with a
    broadcast of the |qs|-row estimate table; at 100 TB drop this
    view and keep the sketch. Output: (q, est_value, k_actual,
    n_rows, true_rank_bp, err_bp) ordered by q."""
    v = F.col(col).cast("double")
    data = df.where(v.isNotNull()).select(v.alias("__v"))
    joined = data.crossJoin(F.broadcast(est))
    below = F.sum(F.when(F.col("__v") <= F.col("est_value"), 1).otherwise(0))
    return (
        joined.groupBy("q", "q_bp", "est_value", "k_actual")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (below.cast("long") * F.lit(10000)).alias("__below1e4"),
        )
        .select(
            "q",
            "est_value",
            "k_actual",
            "n_rows",
            F.expr("__below1e4 div n_rows").cast("long").alias("true_rank_bp"),
            F.abs(
                F.expr("__below1e4 div n_rows") - F.col("q_bp")
            ).cast("long").alias("err_bp"),
        )
        .orderBy("q")
    )


def kmv_quantile_grouped(
    df: DataFrame,
    group_col: str,
    id_col,
    col: str,
    k: int = 512,
    qs: tuple = (0.25, 0.5, 0.75),
    salt: str = "",
) -> DataFrame:
    """Per-group KMV quantile sketches + estimates — the segment
    percentile monitor (p95 latency per endpoint) over unknown value
    ranges in ONE pass. Bottom-k per group via a row_number window
    over the salted id hash; estimates replay the same type-7
    interpolation as :func:`kmv_quantile_estimate` but stay grouped
    (exact ``percentile`` per group over ≤ k sampled values — the
    sample bounds the per-group buffer the builtin would otherwise
    blow on a billion-row group). Output: (group, q, est_value,
    k_actual) ordered by group, q."""
    from pyspark.sql import Window

    idc = id_col if not isinstance(id_col, str) else F.col(id_col)
    v = F.col(col).cast("double")
    h = _salted_hash60(idc, salt)
    g = F.col(group_col).alias("__g")
    sample = (
        df.where(v.isNotNull() & idc.isNotNull())
        .select(g, h.alias("h"), v.alias("value"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__g").orderBy("h", "value")
            ),
        )
        .where(F.col("__rn") <= k)
    )
    qlist = [float(q) for q in qs]
    agg = sample.groupBy("__g").agg(
        F.percentile("value", F.lit(qlist)).alias("__vals"),
        F.count(F.lit(1)).cast("long").alias("k_actual"),
    )
    return (
        agg.select(
            F.col("__g").alias(group_col),
            F.posexplode("__vals").alias("__i", "est_value"),
            "k_actual",
        )
        .select(
            group_col,
            F.element_at(F.lit(qlist), F.col("__i") + 1).alias("q"),
            "est_value",
            "k_actual",
        )
        .orderBy(group_col, "q")
    )


def kmv_quantile_sliding(
    df: DataFrame,
    ts_col: str,
    id_col,
    col: str,
    window_days: int = 7,
    k: int = 512,
    qs: tuple = (0.5, 0.9),
    salt: str = "",
) -> DataFrame:
    """Trailing-window quantile estimates per day from DAILY KMV
    sub-sketches — "p95 over the trailing 7 days, reported daily", the
    percentile companion of :func:`hll_sliding_distinct` and the shape
    where mergeability earns its keep: overlapping windows would
    re-scan raw rows window_days times, but each day's bottom-k is
    built ONCE and every window is a k-row merge. The merge is EXACT,
    not approximate-on-approximate: an element of the window's
    bottom-k has fewer than k window elements below it, hence fewer
    than k same-day elements below it, so it is necessarily inside its
    own day's bottom-k — union + per-window bottom-k over daily
    sub-sketches IS the window's bottom-k, bit for bit.

    Windows are the trailing [d-(window_days-1), d] for days present
    in the data. One row_number window builds all daily sketches; the
    contribution explode is day-count × k rows. Output: (day, q,
    est_value, k_actual) ordered by day, q."""
    from pyspark.sql import Window

    idc = id_col if not isinstance(id_col, str) else F.col(id_col)
    v = F.col(col).cast("double")
    h = _salted_hash60(idc, salt)
    day = F.to_date(F.col(ts_col))
    daily = (
        df.where(v.isNotNull() & idc.isNotNull())
        .select(day.alias("__d"), h.alias("h"), v.alias("value"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__d").orderBy("h", "value")
            ),
        )
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
    days = daily.select(F.col("__d").alias("__t")).distinct()
    contrib = (
        daily.select(
            F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("__off"),
            "__d",
            "h",
            "value",
        )
        .select(
            F.date_add(F.col("__d"), F.col("__off")).alias("__t"), "h", "value"
        )
        .join(F.broadcast(days), "__t", "left_semi")
    )
    sample = (
        contrib.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__t").orderBy("h", "value")
            ),
        )
        .where(F.col("__rn") <= k)
    )
    qlist = [float(q) for q in qs]
    agg = sample.groupBy("__t").agg(
        F.percentile("value", F.lit(qlist)).alias("__vals"),
        F.count(F.lit(1)).cast("long").alias("k_actual"),
    )
    return (
        agg.select(
            F.col("__t").alias("day"),
            F.posexplode("__vals").alias("__i", "est_value"),
            "k_actual",
        )
        .select(
            "day",
            F.element_at(F.lit(qlist), F.col("__i") + 1).alias("q"),
            "est_value",
            "k_actual",
        )
        .orderBy("day", "q")
    )


_THETA_SPACE = float(16 ** 15)  # the 60-bit md5-prefix hash space


def theta_sketch(df: DataFrame, col: str, k: int = 4096, salt: str = "") -> DataFrame:
    """Theta sketch of a column's DISTINCT values: the k smallest
    salted 60-bit hashes of the distinct value set (KMV over values
    instead of row ids). The k-th smallest hash θ estimates density —
    distinct ≈ (k−1)·SPACE/θ — and, unlike HLL registers, the sketch
    retains the sample hashes themselves, so SET ALGEBRA is direct:
    the intersection of two sketches below min(θ_A, θ_B) is a uniform
    sample of A∩B, giving |A∩B| ≈ |common below θ|·SPACE/θ with
    relative error O(1/√k) of the UNION — where the HLL
    inclusion–exclusion route (hll_intersection_estimate, EXT-100)
    blows up on small intersections of large sets because it
    subtracts three near-equal estimates. Deterministic (pure
    function of the value set), mergeable (union + re-bottom-k),
    SQL-replayable. Sketches smaller than k are EXACT (every distinct
    hash retained, θ = SPACE). Output rows: (h), ≤ k."""
    return (
        df.where(F.col(col).isNotNull())
        .select(_salted_hash60(F.col(col), salt).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def theta_estimate(sketch: DataFrame, k: int = 4096) -> DataFrame:
    """1-row distinct estimate from a theta sketch: exact count when
    the sketch is under-full (it holds every distinct hash), else
    (k−1)·SPACE/θ — one double division of identical operands, no
    rounding needed cross-engine."""
    agg = sketch.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.max("h").alias("__theta"),
    )
    return agg.select(
        F.when(F.col("__n") < k, F.col("__n").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(_THETA_SPACE) / F.col("__theta")
        )
        .alias("est_distinct")
    )


def theta_intersect_estimate(
    sk_a: DataFrame, sk_b: DataFrame, k: int = 4096
) -> DataFrame:
    """Distinct-intersection estimate from two theta sketches: below
    θ = min(θ_A, θ_B) each sketch is a uniform hash sample of its set,
    so the common hashes below θ are a uniform sample of A∩B and
    |A∩B| ≈ count·SPACE/θ (θ_X = SPACE when sketch X is under-full,
    making the fully-exact case return the exact intersection count).
    One k-row join — never touches the base data. Output: 1 row
    (n_common, est_intersect)."""
    ta = sk_a.agg(
        F.count(F.lit(1)).alias("__n"), F.max("h").alias("__t")
    ).select(
        F.when(F.col("__n") < k, F.lit(_THETA_SPACE))
        .otherwise(F.col("__t").cast("double"))
        .alias("theta_a")
    )
    tb = sk_b.agg(
        F.count(F.lit(1)).alias("__n"), F.max("h").alias("__t")
    ).select(
        F.when(F.col("__n") < k, F.lit(_THETA_SPACE))
        .otherwise(F.col("__t").cast("double"))
        .alias("theta_b")
    )
    theta = ta.crossJoin(tb).select(
        F.least("theta_a", "theta_b").alias("theta")
    )
    common = sk_a.join(sk_b, "h", "inner").crossJoin(F.broadcast(theta))
    return (
        common.where(F.col("h") < F.col("theta"))
        .groupBy("theta")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .select(
            "n_common",
            (
                F.col("n_common").cast("double")
                * F.lit(_THETA_SPACE)
                / F.col("theta")
            ).alias("est_intersect"),
        )
        # empty-intersection edge: groupBy over zero rows yields zero
        # rows — union a zero row and keep the first
        .unionByName(
            theta.select(
                F.lit(0).cast("long").alias("n_common"),
                F.lit(0.0).alias("est_intersect"),
            )
        )
        .orderBy(F.col("n_common").desc())
        .limit(1)
    )


def theta_sketch_grouped(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    k: int = 4096,
    salt: str = "",
) -> DataFrame:
    """Per-group theta sketch (the grouped form the r9 verdict asked
    for — distinct-intersection per SEGMENT was the one sketch-family
    shape without a grouped tier): bottom-k distinct salted 60-bit
    hashes of ``col`` within each group, ≤ k rows per group. One
    distinct pass + one per-group bottom-k window — per-group state
    bounded at k regardless of group cardinality, and the window's
    rank prune keeps only k rows per group past the sort (the same
    WindowGroupLimit shape as the grouped KMV sketch). Output:
    (*group_cols, h)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        df.where(F.col(col).isNotNull())
        .select(*group_cols, _salted_hash60(F.col(col), salt).alias("h"))
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def theta_intersect_grouped(
    sk_a: DataFrame,
    sk_b: DataFrame,
    group_cols: list[str],
    k: int = 4096,
) -> DataFrame:
    """Per-group distinct-intersection estimates from two GROUPED
    theta sketches: within each group, common hashes below
    θ = min(θ_A, θ_B) are a uniform sample of that group's A∩B
    (θ_side = SPACE when the side's sketch is under-full, so
    fully-exact groups return exact intersection counts). Groups
    present on only one side surface with n_common = 0 (their
    intersection is empty by definition) via the full outer theta
    join. Joins touch only sketch rows — never the base data.
    Output: (*group_cols, n_common, est_intersect), one row per
    group seen on either side."""
    def side_theta(sk: DataFrame, alias: str) -> DataFrame:
        return sk.groupBy(*group_cols).agg(
            F.when(F.count(F.lit(1)) < k, F.lit(_THETA_SPACE))
            .otherwise(F.max("h").cast("double"))
            .alias(alias)
        )

    th = (
        side_theta(sk_a, "__ta")
        .join(side_theta(sk_b, "__tb"), list(group_cols), "full")
        .select(
            *group_cols,
            F.least(
                F.coalesce("__ta", F.lit(_THETA_SPACE)),
                F.coalesce("__tb", F.lit(_THETA_SPACE)),
            ).alias("theta"),
        )
    )
    cnt = (
        sk_a.join(sk_b, [*group_cols, "h"], "inner")
        .join(th, list(group_cols))
        .where(F.col("h") < F.col("theta"))
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("__nc"))
    )
    return th.join(cnt, list(group_cols), "left").select(
        *group_cols,
        F.coalesce("__nc", F.lit(0).cast("long")).alias("n_common"),
        (
            F.coalesce("__nc", F.lit(0)).cast("double")
            * F.lit(_THETA_SPACE)
            / F.col("theta")
        ).alias("est_intersect"),
    )
