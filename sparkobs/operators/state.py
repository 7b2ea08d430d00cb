"""Run-over-run state: snapshots, count deltas, schema drift (OP-38..41).

Rebuild of the reference's Airflow-Variable state machine
(snowflake_table_monitor.py:97-113): a tiny KV store holding last run's
record count and column list, compared against the current run. The
reference version is broken twice over — the stored count comes back as
``str`` so the delta always TypeErrors into 0, and the stored column
list comes back as its string repr so drift compares *characters*
(SURVEY.md §8.3-8.4). The engine implements the intended semantics:

- state lives in an append-only **snapshot table** ``(run_ts,
  table_name, row_count, columns)`` — parquet/Delta append, partitioned
  by run date at scale, no driver-side KV store;
- deltas and drift are **window functions over run history** (lag), so
  one query serves every table and every pair of consecutive runs;
- sign convention: ``delta = current − previous`` (documented intent,
  not the reference's ``previous − current``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import Window as W
from pyspark.sql import types as T

from sparkobs.functions import naive_us


def count_delta(snapshots: DataFrame) -> DataFrame:
    """Delta vs previous run (OP-39): ``lag`` over run history per table.

    First run per table has NULL prev/delta (nothing to compare), the
    honest version of the reference's silent 0 (SURVEY.md §8.3).
    """
    w = W.partitionBy("table_name").orderBy("run_ts")
    return snapshots.select(
        "run_ts",
        "table_name",
        "row_count",
        F.lag("row_count").over(w).alias("prev_count"),
        (F.col("row_count") - F.lag("row_count").over(w)).alias("delta"),
    )


def schema_drift(snapshots: DataFrame) -> DataFrame:
    """Schema drift vs previous run (OP-40): set-difference of column
    lists via ``array_except`` — the distributed form of
    ``set(prev) − set(cur)`` (snowflake_table_monitor.py:104-109, minus
    its chars-vs-names bug)."""
    w = W.partitionBy("table_name").orderBy("run_ts")
    prev = F.lag("columns").over(w)
    return snapshots.select(
        "run_ts",
        "table_name",
        F.size(F.array_except(prev, F.col("columns"))).alias("n_removed"),
        F.size(F.array_except(F.col("columns"), prev)).alias("n_added"),
        (
            F.size(F.array_except(prev, F.col("columns")))
            + F.size(F.array_except(F.col("columns"), prev))
            > 0
        ).alias("columns_changed"),
    )


def metric_anomalies(
    series: DataFrame,
    key_cols: list[str],
    ts_col: str = "run_ts",
    value_col: str = "value",
    trailing: int = 24,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Run-over-run anomaly flags (extension of OP-39's delta): per key,
    z-score of each observation against the TRAILING ``trailing``
    observations (exclusive of the current one — the baseline must not
    contain the point under test), flag |z| > ``z_threshold``.

    One window shuffle on the key; rows whose baseline has < 2 points
    or zero variance emit NULL z (no verdict), not a spurious flag.
    The continuous-monitoring counterpart is the same expression over a
    watermarked sliding window.

    The ROWS frame is ordered by (ts, value): the value tiebreak makes
    the trailing baseline deterministic even when a key carries
    duplicate timestamps (ts alone would leave the frame
    partition-order-dependent). (ts, value) duplicates are identical
    rows, so any frame choice among them yields the same baseline.
    """
    w = (
        W.partitionBy(*key_cols)
        .orderBy(ts_col, value_col)
        .rowsBetween(-trailing, -1)
    )
    mean = F.avg(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    n = F.count(value_col).over(w)
    z = F.when((n >= 2) & (std > 0), (F.col(value_col) - mean) / std)
    return series.select(
        *key_cols,
        F.col(ts_col),
        F.col(value_col),
        F.round(z, 4).alias("zscore"),
        F.when(z.isNotNull(), F.abs(z) > z_threshold).alias("is_anomaly"),
    )


def distribution_drift_psi(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_expr: str = "date_trunc('hour', {ts})",
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 100.0,
) -> DataFrame:
    """Distribution drift between consecutive periods via PSI
    (population stability index) — the monitoring metric for "the
    values still arrive, but their SHAPE changed" that row counts
    (OP-39) and schema drift (OP-40) both miss.

    Per period: histogram ``value_col`` into ``n_bins`` fixed
    data-independent bins over [lo, hi) plus an overflow bin, convert
    to fractions, then PSI against the PREVIOUS period =
    Σ (cur−prev)·ln(cur/prev) over bins, with the standard ε=1e-6
    floor so empty bins don't produce infinities. Fixed bins keep the
    whole thing two hash aggregations + one per-bucket lag window — no
    data-dependent quantile pre-pass, deterministic on any engine.
    Conventional reading: PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25
    shifted.
    """
    eps = 1e-6
    width = (hi - lo) / n_bins
    bucket = F.expr(bucket_expr.format(ts=ts_col))
    bin_id = F.least(
        F.lit(n_bins),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col) - lo) / width).cast("int"),
        ),
    )
    counts = (
        df.select(bucket.alias("period"), bin_id.alias("bin"))
        .groupBy("period", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("period").agg(F.sum("c").alias("n"))
    fracs = counts.join(totals, "period").select(
        "period", "bin", (F.col("c") / F.col("n")).alias("frac")
    )
    # dense (period × bin) grid so a bin that empties out still drifts:
    # cross the distinct periods with the fixed bin ids, left-join fracs
    periods = totals.select("period")
    bins = df.sparkSession.range(0, n_bins + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    grid = periods.crossJoin(F.broadcast(bins))
    dense = grid.join(fracs, ["period", "bin"], "left").select(
        "period", "bin", F.coalesce("frac", F.lit(0.0)).alias("frac")
    )
    w = W.partitionBy("bin").orderBy("period")
    # lag first and filter the NULL (first period) BEFORE flooring:
    # greatest() skips nulls in Spark, so flooring inline would turn
    # "no previous period" into "previous frac = ε" and emit a bogus
    # first-period PSI
    paired = dense.select(
        "period", "bin", "frac", F.lag("frac").over(w).alias("prev_frac")
    ).where(F.col("prev_frac").isNotNull())
    return (
        paired.select(
            "period",
            F.greatest(F.col("frac"), F.lit(eps)).alias("cur"),
            F.greatest(F.col("prev_frac"), F.lit(eps)).alias("prev"),
        )
        .groupBy("period")
        .agg(
            F.round(
                F.sum((F.col("cur") - F.col("prev")) * F.log(F.col("cur") / F.col("prev"))),
                4,
            ).alias("psi")
        )
    )


def ewma_smooth(
    series: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.25,
    trailing: int = 24,
) -> DataFrame:
    """Exponentially weighted moving average per key — the smoothing
    companion to :func:`metric_anomalies`' z-score: EWMA tracks the
    level a noisy metric is settling toward, so level shifts separate
    from one-off spikes. Each row's smoothed value folds the trailing
    ``trailing`` observations (inclusive of the current one, frame
    order = (ts, value) for the same determinism argument as
    metric_anomalies) through the standard recursion
    ``acc ← acc + α·(x − acc)``, seeded with the oldest value in the
    frame — a bounded-window restatement of the infinite EWMA that
    keeps the float operation sequence fixed and finite, so any
    engine reproduces it bit for bit (DuckDB: ``list_reduce`` over
    the same frame list).

    One window shuffle on the key; the fold runs over an in-row array
    of ≤ ``trailing`` elements — no self-join, no recursion, no
    Python.
    """
    w = (
        W.partitionBy(*key_cols)
        .orderBy(ts_col, value_col)
        .rowsBetween(-(trailing - 1), 0)
    )
    lst = F.collect_list(F.col(value_col).cast("double")).over(w)
    ewma = F.aggregate(
        F.slice(lst, 2, F.size(lst) - 1),
        F.element_at(lst, 1),
        lambda acc, x: acc + F.lit(alpha) * (x - acc),
    )
    return series.select(
        *key_cols,
        F.col(ts_col),
        F.col(value_col),
        F.round(ewma, 4).alias("ewma"),
        F.round(F.col(value_col) - ewma, 4).alias("residual"),
    )


def latest_by_key(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] = (),
) -> DataFrame:
    """CDC compaction: collapse an append-only change log to the latest
    row per key — the standard upsert-materialization step between a
    raw ingest log and a queryable table. Deterministic: newest
    ``ts_col`` wins, remaining ties broken by ``tiebreak_cols``
    descending (pass the change-sequence column; without one, equal-ts
    duplicates would be partition-order-dependent).

    One window shuffle on the key; the rank predicate is
    WindowGroupLimit-eligible, so each input partition keeps only its
    per-key newest candidate BEFORE the shuffle sort completes —
    reduce-side volume ∝ distinct keys, not log length (plan-pinned).
    """
    order = [F.desc(ts_col)] + [F.desc(c) for c in tiebreak_cols]
    w = W.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Row-level reconciliation between two versions of a table: which
    keys were ``added``, ``removed``, or ``changed`` — the
    snapshot-delta operator generalized from counts
    (:func:`count_delta`) to row identity.

    Rows are compared by ``md5`` of the stringified struct of all
    non-key columns, computed map-side on each leg — the shuffle moves
    (key, 16-byte hash), never the wide rows. One full outer join on
    the key; at 100 TB both legs pre-partition on the same key so the
    join co-locates, and unchanged keys are dropped, so the output is
    ∝ churn, not table size.
    """
    compare_cols = [c for c in old.columns if c not in key_cols]

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        cols = F.struct(*[F.col(c).cast("string") for c in compare_cols])
        return df.select(
            *key_cols, F.md5(F.to_json(cols)).alias(f"__h_{tag}")
        )
    j = hashed(old, "old").join(hashed(new, "new"), key_cols, "full_outer")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(*key_cols, status.alias("diff_status")).where(
        F.col("diff_status") != "unchanged"
    )


def quantile_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 4,
) -> DataFrame:
    """Equal-frequency discretization: assign every row to one of
    ``n_bins`` quantile buckets of ``value_col`` and report per-bin
    occupancy and value range — the binning step behind monotonic
    feature transforms, drift baselines, and balanced range
    partitioning.

    Interior quantile edges come from the DISTRIBUTED exact two-pass
    quantile (:func:`sparkobs.operators.profile.
    exact_quantiles_twopass`, r11 — previously a single ``percentile``
    aggregate, whose state buffers the column's full value counts in
    one task and dies when the column holds billions of rows; the
    two-pass histogram-bracket form replays Percentile.scala bit for
    bit, so the edge VALUES are unchanged and the same oracle
    certifies both). The edge rows fold back into one array row via
    ``array_sort(collect_list(...))`` — sound because quantile values
    are monotone in q — and broadcast back via cross join, no
    collect; edges are rounded to 4 decimals IN-QUERY so bin
    assignment is engine-reproducible (both engines interpolate with
    the same (n-1)·q rule, but the rounding pins the last bit).
    Assignment is ``size(filter(edges, e -> value > e))`` — row-local,
    no shuffle beyond the final per-bin agg. ``percentile_approx``
    remains the documented sketch swap when even two exact passes are
    too many.

    Degenerate inputs (all-NULL or empty ``value_col``) keep the
    original ``percentile()`` semantics: zero edge rows fold to a
    NULL edges array (not an empty one — an empty array would
    silently assign every row bin 1), so every bin comes out NULL,
    pinned by test_quantile_bins_all_null_values.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    from sparkobs.operators.profile import exact_quantiles_twopass

    qs = [i / n_bins for i in range(1, n_bins)]
    folded = F.array_sort(F.collect_list(F.round(F.col("value"), 4)))
    edges = exact_quantiles_twopass(df, value_col, qs=tuple(qs)).agg(
        F.when(F.size(folded) == 0, F.lit(None)).otherwise(folded).alias("__edges")
    )
    binned = df.crossJoin(F.broadcast(edges)).select(
        F.col(value_col).cast("double").alias("v"), "__edges"
    )
    return (
        binned.select(
            (F.size(F.filter("__edges", lambda e: F.col("v") > e)) + 1).alias("bin"),
            "v",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.min("v"), 4).alias("min_val"),
            F.round(F.max("v"), 4).alias("max_val"),
        )
        .select(F.col("bin").cast("long").alias("bin"), "n_rows", "min_val", "max_val")
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Markov transition matrix of per-key journeys: order each key's
    events by (ts, tiebreak), pair each state with its successor, and
    estimate p(to|from) — the behavioral-analytics view of an event
    stream (funnel leakage, loop detection, next-step prediction).

    One window shuffle on the key (lead()), one hash agg on the
    (from, to) pair; row counts shrink to |states|² immediately, so
    everything after the first agg is negligible at any scale. The
    tiebreak column (a unique id) makes equal-timestamp ordering
    deterministic — the same requirement metric_anomalies documents.
    """
    w = W.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    pairs = (
        df.select(
            F.col(state_col).alias("from_state"),
            F.lead(F.col(state_col)).over(w).alias("to_state"),
        )
        .where(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_state").agg(F.sum("n").alias("__tot"))
    return pairs.join(totals, "from_state").select(
        "from_state",
        "to_state",
        F.col("n").cast("long").alias("n"),
        (F.col("n") / F.col("__tot")).alias("p"),
    )


def stationary_distribution(
    trans: DataFrame, n_iter: int = 5
) -> DataFrame:
    """``n_iter`` power-iteration steps toward the chain's stationary
    distribution, starting uniform — the iterative-algorithm shape
    (PageRank et al.) expressed as repeated join+agg over the
    transition table.

    The state space is |states| rows, so each step is a tiny broadcast
    join; full double precision is carried through the iterations and
    rounded only at the end (engine-reproducible: every step sums the
    same ≤|states| products). Deterministic iteration count, not a
    convergence test, so two engines always run the same plan.

    Absorbing states (no outgoing transitions) get an implicit
    self-loop with p=1 before iterating — without it the inner join
    would silently DROP their probability mass each step (a chain with
    a terminal 'churn' state would converge to an empty frame, not to
    all-mass-on-churn).

    ``trans`` and the augmented transition table are EAGERLY
    CHECKPOINTED before iterating: Catalyst reuses no subtree
    statically, so referencing a lazy ``trans`` from 5 unrolled
    join+agg levels (plus the states/self-loop derivations) re-ran
    the upstream transition-matrix aggregation — a full source-table
    scan — once per reference (measured 58 source scans in one plan,
    3.55 s at sf0.1; 1 scan after). Both frames are |states|- and
    edge-count-sized, far below any memory bound; values are
    unchanged — the iterations consume identical rows either way."""
    trans = trans.select(
        "from_state", "to_state", "p"
    ).localCheckpoint(eager=True)
    states = trans.select(F.col("from_state").alias("state")).union(
        trans.select("to_state")
    ).distinct()
    selfloops = (
        states.join(
            trans.select("from_state").distinct(),
            states["state"] == F.col("from_state"),
            "left_anti",
        )
        .select(
            F.col("state").alias("from_state"),
            F.col("state").alias("to_state"),
            F.lit(1.0).alias("p"),
        )
    )
    taug = trans.unionByName(selfloops).localCheckpoint(eager=True)
    n_states = states.agg(F.count(F.lit(1)).alias("__n"))
    x = states.crossJoin(F.broadcast(n_states)).select(
        "state", (F.lit(1.0) / F.col("__n")).alias("prob")
    )
    for _ in range(n_iter):
        # broadcast: the augmented transition table is |edges|-sized
        # (tiny), so each step is a map-side join + one small agg
        x = (
            x.join(F.broadcast(taug), x["state"] == taug["from_state"])
            .groupBy(F.col("to_state").alias("state"))
            .agg(F.sum(F.col("prob") * F.col("p")).alias("prob"))
        )
    return x.select("state", F.round("prob", 4).alias("prob"))


def cdc_agg_maintain(
    base_agg: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    op_col: str = "op",
) -> DataFrame:
    """Incremental aggregate maintenance: apply a CDC change batch to a
    maintained (key → n_rows, sum_value) aggregate WITHOUT rescanning
    the base table — the materialized-view-maintenance shape that makes
    a 100 TB rollup refreshable from a day's changes.

    ``changes`` rows carry ``op_col`` ∈ {'insert', 'delete', 'update'}
    plus ``value_col`` (the new value; for updates also
    ``__old_value``, the replaced value). Counts move by ±1 for
    insert/delete and 0 for update; sums move by +value, −value, and
    value − old respectively. The change batch collapses to one delta
    row per key (map-side combine over the changes only), then a
    single outer join merges deltas into the base aggregate; groups
    whose maintained count reaches 0 drop out, exactly as a recompute
    would drop them. Maintained result ≡ full recompute (oracle-
    checked query), at the cost of scanning only the changes.
    """
    d_n = (
        F.when(F.col(op_col) == "insert", F.lit(1))
        .when(F.col(op_col) == "delete", F.lit(-1))
        .otherwise(F.lit(0))
    )
    d_sum = (
        F.when(F.col(op_col) == "insert", F.col(value_col))
        .when(F.col(op_col) == "delete", -F.col(value_col))
        .otherwise(F.col(value_col) - F.col("__old_value"))
    )
    deltas = (
        changes.groupBy(*key_cols)
        .agg(
            F.sum(d_n).alias("__dn"),
            F.sum(d_sum).alias("__dsum"),
        )
    )
    merged = base_agg.join(deltas, key_cols, "full_outer").select(
        *key_cols,
        (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))).alias("n_rows"),
        (
            F.coalesce(F.col("sum_value"), F.lit(0.0))
            + F.coalesce(F.col("__dsum"), F.lit(0.0))
        ).alias("sum_value"),
    )
    return merged.where(F.col("n_rows") > 0).select(
        *key_cols,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("sum_value", 2).alias("sum_value"),
    )


def monitor_health(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    user_col: str | None = None,
    trailing: int = 24,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Monitor-of-monitors (the reference's monitor-health DAG shape,
    databand_airflow_monitor.py:102-115, recast as ONE lazy plan): fan
    a fact stream into several per-hour metric series — row count,
    mean value, distinct actors — stack them long-form, and run the
    trailing-window z-score anomaly screen over every (metric, key)
    series at once.

    One aggregation pass builds all metrics (single shuffle on
    (key, hour)); the unpivot is a pure projection; the anomaly screen
    is one window shuffle on (metric, key). Output: (metric_name,
    key, bucket_ts, value, zscore, is_anomaly) — the same long-form
    contract as the metric sink, so monitors' health lands in the same
    stream the monitors themselves write to.
    """
    # mean = round(round(sum, 4) / n, 4), not round(avg, 4): engines
    # sum doubles in different orders, and for low-precision inputs
    # (money-like 2-decimal values) the TRUE mean can sit exactly on a
    # .00005 rounding boundary, where a 1-ulp summation difference
    # flips the rounded digit. The true SUM of such inputs is never on
    # the 4-decimal half-grid, so rounding it first is stable, and the
    # subsequent single IEEE division of identical doubles is exact.
    aggs = [
        F.count(F.lit(1)).cast("double").alias("m_row_count"),
        F.round(
            F.round(F.sum(value_col), 4) / F.count(F.lit(1)), 4
        ).alias("m_mean_value"),
    ]
    if user_col is not None:
        aggs.append(
            F.count_distinct(F.col(user_col)).cast("double").alias("m_distinct_actors")
        )
    hourly = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("hour", F.col(ts_col)).alias("bucket_ts"),
    ).agg(*aggs)
    metric_cols = [c for c in hourly.columns if c.startswith("m_")]
    stack = F.expr(
        "stack({n}, {args}) as (metric_name, value)".format(
            n=len(metric_cols),
            args=", ".join(f"'{c[2:]}', {c}" for c in metric_cols),
        )
    )
    series = hourly.select("key", "bucket_ts", stack)
    return metric_anomalies(
        series,
        ["metric_name", "key"],
        ts_col="bucket_ts",
        value_col="value",
        trailing=trailing,
        z_threshold=z_threshold,
    ).select(
        "metric_name",
        "key",
        "bucket_ts",
        "value",
        "zscore",
        "is_anomaly",
    )


def merkle_bucket_summary(
    df: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    n_buckets: int = 256,
    hash_fn: str = "xx64",
) -> DataFrame:
    """Per-bucket content signature of a table: rows hash into
    ``n_buckets`` by key, each bucket's signature is the XOR of its
    row hashes (order-independent, overflow-free, exactly mergeable) —
    the Merkle-style anti-entropy summary that lets two 100 TB
    replicas find WHERE they differ by exchanging n_buckets rows
    instead of row-diffing everything. Output: (bucket, n_rows,
    sig) with sig = bit_xor of xxhash64(key ++ compared columns).
    """
    if compare_cols is None:
        compare_cols = [c for c in df.columns if c not in key_cols]
    key_str = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    row_str = F.concat_ws(
        "\x1f",
        *[F.col(c).cast("string") for c in key_cols],
        *[F.col(c).cast("string") for c in compare_cols],
    )
    if hash_fn == "xx64":
        # JVM-fast default
        row_h = F.xxhash64(
            *[F.col(c).cast("string") for c in key_cols],
            *[F.col(c).cast("string") for c in compare_cols],
        )
        bucket = F.pmod(F.xxhash64(key_str), F.lit(n_buckets))
    elif hash_fn == "md5":
        # engine-portable mode (15-hex-char base-16 parse, the same
        # convention as the dedup/sampling md5 modes) — what the
        # DuckDB oracle reproduces bit for bit
        def _h15(col):
            return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

        row_h = _h15(row_str)
        bucket = F.pmod(_h15(key_str), F.lit(n_buckets))
    else:
        raise ValueError(f"hash_fn must be xx64|md5, got {hash_fn}")
    return (
        df.select(bucket.alias("bucket"), row_h.alias("__h"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("__h").alias("sig"),
        )
    )


def merkle_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    n_buckets: int = 256,
    hash_fn: str = "xx64",
) -> DataFrame:
    """Anti-entropy reconciliation, stage 1: compare the two tables'
    bucket signatures and report, per differing bucket, the row counts
    on each side. Clean buckets are proven identical (same XOR of the
    same row-hash multiset, same count) WITHOUT any row ever crossing
    — follow up with :func:`table_diff` restricted to the differing
    buckets, so the expensive row-level join touches only the churned
    fraction. One aggregation per side + a 256-row outer join.
    """
    a = merkle_bucket_summary(old, key_cols, compare_cols, n_buckets, hash_fn)
    b = merkle_bucket_summary(new, key_cols, compare_cols, n_buckets, hash_fn)
    j = a.selectExpr("bucket", "n_rows as n_old", "sig as sig_old").join(
        b.selectExpr("bucket", "n_rows as n_new", "sig as sig_new"),
        "bucket",
        "full_outer",
    )
    return (
        j.select(
            F.col("bucket").cast("long").alias("bucket"),
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            (
                F.coalesce(F.col("sig_old") != F.col("sig_new"), F.lit(True))
                | (F.coalesce("n_old", F.lit(0)) != F.coalesce("n_new", F.lit(0)))
            ).alias("differs"),
        )
        .where(F.col("differs"))
        .drop("differs")
    )


def acf_lag1(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """Lag-1 autocorrelation of each key's bucketed count series — the
    self-similarity number behind "is this metric momentum or noise"
    (high ACF ⇒ trends/regimes; ~0 ⇒ white noise; negative ⇒
    oscillation). Per key: bucket counts (one hash agg over the data),
    one lag window over the SERIES (bucket count, not row count), and
    the Pearson statistic computed from exact integer sufficient sums
    — every Σ term is an integer in float64 range, so the final
    single-expression value is bit-identical on any engine (rounded
    4dp). Output: (keys..., n_buckets, n_pairs, acf1)."""
    series = df.groupBy(
        *key_cols, F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.count(F.lit(1)).cast("double").alias("__y"))
    w = W.partitionBy(*key_cols).orderBy("__b")
    pairs = series.select(
        *key_cols,
        F.col("__y"),
        F.lag("__y").over(w).alias("__x"),
    )
    stats = pairs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.count("__x").cast("double").alias("m"),
        F.sum("__x").alias("sx"),
        F.sum(F.when(F.col("__x").isNotNull(), F.col("__y"))).alias("sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(
            F.when(F.col("__x").isNotNull(), F.col("__y") * F.col("__y"))
        ).alias("syy"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den2 = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return stats.select(
        *key_cols,
        "n_buckets",
        F.col("m").cast("long").alias("n_pairs"),
        (
            F.when(den2 > 0, F.round(num / F.sqrt(den2), 4)).otherwise(F.lit(0.0))
            + F.lit(0.0)  # -0.0 -> 0.0: engines round to signed zero differently
        ).alias("acf1"),
    )


def cusum_changepoint(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """CUSUM changepoint score per key: the maximum |running deviation
    from the series mean| over the bucketed count series, and WHERE it
    peaks — level shifts produce a pronounced V/Λ in
    Sᵢ = Σ₁..ᵢ(yₜ − ȳ), with the apex at the shift point; stable
    series keep max|S| near 0.

    Exactness: Sᵢ is computed as cumᵢ − i·(Y/n) — the cumulative sum
    and i are exact integers, Y/n is one division of identical
    doubles, so the whole expression is bit-identical across engines
    (rounded 4dp). The windows run over the bucket SERIES, never the
    raw rows. Output: (keys..., n_buckets, cusum_max,
    changepoint_ts) with the earliest peaking bucket as the
    deterministic tiebreak."""
    series = df.groupBy(
        *key_cols, F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.count(F.lit(1)).cast("double").alias("__y"))
    wk = W.partitionBy(*key_cols)
    wcum = wk.orderBy("__b").rowsBetween(W.unboundedPreceding, 0)
    scored = series.select(
        *key_cols,
        "__b",
        (
            F.sum("__y").over(wcum)
            - F.row_number().over(wk.orderBy("__b"))
            * (F.sum("__y").over(wk) / F.count(F.lit(1)).over(wk))
        ).alias("__s"),
    )
    return (
        scored.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.round(F.max(F.abs(F.col("__s"))), 4).alias("cusum_max"),
            F.min_by("__b", F.struct(-F.abs(F.col("__s")), F.col("__b"))).alias(
                "changepoint_ts"
            ),
        )
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 history build: collapse an
    event stream of attribute observations into validity intervals —
    one row per (key, run of equal values) with valid_from /
    valid_to / is_current — the warehouse dimension-maintenance shape
    (the CDC-compact companion: that keeps the LATEST row, this keeps
    the full lineage).

    Two windows over the key's ordered stream: a lag to drop
    observations that repeat the previous value (no change ⇒ no new
    version), then a lead for the closing timestamp. NULL valid_to =
    open/current version."""
    w = W.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    # null-safe change detection + an explicit first-row test: a lag
    # of NULL is ambiguous between "first observation" and "previous
    # value was NULL", and only the former always opens a version
    changes = (
        df.select(*key_cols, attr_col, ts_col, tiebreak_col)
        .withColumn("__prev", F.lag(attr_col).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .where(
            (F.col("__rn") == 1)
            | ~F.col(attr_col).eqNullSafe(F.col("__prev"))
        )
    )
    w2 = W.partitionBy(*key_cols).orderBy(ts_col, tiebreak_col)
    return changes.select(
        *key_cols,
        F.col(attr_col).alias("attr_value"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def trend_slope(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """Per-key linear trend of the bucketed count series: the OLS
    slope (events per bucket per bucket) — the drift direction number
    behind "is this metric growing". Slope is computed from EXACT
    integer sufficient sums with x re-based to each key's first
    bucket (an NTZ-safe timestampdiff — x values stay tiny, every Σ
    term is an exact integer in float64, and the closed form is a
    single expression over identical doubles: bit-identical on any
    engine, rounded 4dp). One hash agg over the data; the regression
    runs on the series. Output: (keys..., n_buckets, slope)."""
    series = df.groupBy(
        *key_cols, F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.count(F.lit(1)).cast("double").alias("__y"))
    wk = W.partitionBy(*key_cols)
    xs = series.select(
        *key_cols,
        "__y",
        F.expr(f"timestampdiff({bucket.upper()}, min(__b) OVER "
               f"(PARTITION BY {', '.join(key_cols)}), __b)")
        .cast("double")
        .alias("__x"),
    )
    stats = xs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
    )
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    return stats.select(
        *key_cols,
        F.col("m").cast("long").alias("n_buckets"),
        (F.when(den > 0, F.round(num / den, 4)).otherwise(F.lit(0.0)) + F.lit(0.0)).alias("slope"),
    )


def event_disorder_stats(
    df: DataFrame, arrival_col: str = "event_id", ts_col: str = "ts"
) -> DataFrame:
    """Event-time DISORDER diagnostic — the measurement behind
    watermark tuning: how many events arrive with an event time
    earlier than something that already arrived (``ts < max(ts)``
    over strictly earlier arrivals), and by how much. Feed the max /
    mean lateness into ``withWatermark`` to bound state without
    dropping real data.

    Scale shape: the strictly-preceding running max runs on the
    DISTRIBUTED prefix primitive (joins.global_running_max —
    per-partition frame window + broadcast partition offsets), never
    a single-partition window; the verdict is one aggregate. All
    arithmetic is integer microseconds; the two ratios are single
    divisions of identical bigints, left unrounded (NULL mean when
    nothing is late — both engines agree on NULL/0 division only
    through the explicit when-guard, so it is one). Output 1 row:
    (n_events, n_late, late_rate, max_late_us, mean_late_us).
    """
    from sparkobs.operators.joins import global_running_max

    us = naive_us(ts_col)
    base = df.select(F.col(arrival_col).alias("__a"), us.alias("__us"))
    with_prev = global_running_max(base, ["__a"], "__us", out_col="__prev")
    late = F.col("__prev").isNotNull() & (F.col("__us") < F.col("__prev"))
    lateness = F.col("__prev") - F.col("__us")
    return with_prev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        F.max(F.when(late, lateness)).cast("long").alias("max_late_us"),
        F.sum(F.when(late, lateness)).cast("long").alias("__sum_late"),
    ).select(
        "n_events",
        "n_late",
        # same explicit guard as mean_late_us: an empty input yields
        # NULL late_rate on both engines (and never an ANSI 0/0)
        F.when(
            F.col("n_events") > 0, F.col("n_late") / F.col("n_events")
        ).alias("late_rate"),
        "max_late_us",
        F.when(
            F.col("n_late") > 0, F.col("__sum_late") / F.col("n_late")
        ).alias("mean_late_us"),
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    deleted_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics over immutable snapshots — the upsert
    every parquet-lake maintenance job needs: rows from ``updates``
    WIN on matching keys, unmatched update rows INSERT, unmatched
    base rows persist, and (optionally) updates flagged true in
    ``deleted_col`` DELETE their base row instead.

    A change batch may carry several rows per key (two successive
    CDC updates not pre-compacted); real MERGE INTO errors on that.
    Here the batch is COMPACTED first so the output's key-uniqueness
    invariant always holds: the lexicographically greatest row over
    the non-key columns wins (a total, deterministic order — exact
    duplicates pick the same row either way). The compaction window
    runs over the CHANGE batch only, never the base. Deletes
    participate in compaction, so a delete that is the latest change
    deletes the row.

    After compaction one anti join is the whole plan: result =
    surviving updates ∪ (base ANTI JOIN all-update-keys). The base
    side shuffles once on the merge key (broadcast when the change
    batch is small — let AQE pick), no per-column coalesce, no
    full-outer join. Cost scales with base + changes, the minimum a
    snapshot rewrite pays; at cluster scale write the result
    partitioned by the merge key range for the next round's pruning.
    """
    # Unorderable columns (MAP, or composites containing one) are
    # skipped — Spark cannot sort them, and a CDC batch may
    # legitimately carry a MAP payload; ties that differ ONLY in
    # unorderable columns keep an arbitrary one of the tied rows
    # (documented residual nondeterminism, never a crash).
    def _orderable(dt):
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    order_cols = [
        F.col(f.name).desc_nulls_last()
        for f in updates.schema.fields
        if f.name not in key_cols and _orderable(f.dataType)
    ]
    if order_cols:
        w = W.partitionBy(*key_cols).orderBy(*order_cols)
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        updates = updates.dropDuplicates(key_cols)
    # pinned: the compacted batch feeds BOTH the anti-join key side
    # and the survivor side, and Catalyst reuses no subtree
    # statically — lazy, the whole change-batch derivation (source
    # scans included) re-ran once per side. The change batch is the
    # SMALLER side by this operator's premise, so materializing it
    # is the cheap half of the merge — but it is still DATA-sized
    # (a day's CDC at 100 TB is not a sketch), so the pin is a
    # DISK_ONLY persist (recoverable lineage), not a localCheckpoint
    # — see pin_corpus_frame (r13 ADVICE).
    from sparkobs.io import pin_corpus_frame

    updates = pin_corpus_frame(updates)
    upd_keys = updates.select(*key_cols)
    survivors = (
        updates.where(~F.coalesce(F.col(deleted_col), F.lit(False))).drop(
            deleted_col
        )
        if deleted_col is not None
        else updates
    )
    return survivors.unionByName(
        base.join(upd_keys, key_cols, "left_anti")
    )


def lead_lag_corr(
    df: DataFrame,
    ts_col: str,
    part_col: str,
    part_a: str,
    part_b: str,
    max_lag: int = 6,
    bucket: str = "hour",
) -> DataFrame:
    """Lead–lag cross-correlation between two metric series — the
    root-cause question after a drill-down: metric A moved, did B move
    FIRST, and by how many buckets? For every lag k ∈ [−max_lag,
    max_lag], the Pearson correlation of A(t) against B(t−k): a peak
    at k > 0 means B leads A by k buckets (B's past aligns with A's
    present), k < 0 means A leads B, k = 0 is plain co-movement —
    the acf_lag1 machinery generalized from self- to cross-series.

    Plan shape: ONE hash agg buckets both series off a single scan
    (partition filter pushed to the source), the 2·max_lag+1 lag
    spine cross-joins onto the BUCKET table (series-sized, never the
    raw rows), each shifted copy equi-joins back on the bucket key,
    and the per-lag statistic reduces exact integer sufficient sums —
    bit-identical across engines (rounded 4dp, +0.0 signed-zero
    guard), same exactness contract as acf_lag1. Everything after
    the first agg is bounded by time span × lags, independent of row
    count. Output: (lag, n_pairs, xcorr) for every lag with ≥1
    overlapping pair.
    """
    series = (
        df.where(F.col(part_col).isin([part_a, part_b]))
        .groupBy(
            F.col(part_col).alias("__p"),
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("__y"))
        .localCheckpoint()
    )
    sa = series.where(F.col("__p") == part_a).select("__b", F.col("__y").alias("__ya"))
    sb = series.where(F.col("__p") == part_b).select("__b", F.col("__y").alias("__yb"))
    spine = df.sparkSession.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = sb.crossJoin(F.broadcast(spine)).select(
        "lag",
        F.expr(f"timestampadd({bucket.upper()}, lag, __b)").alias("__bs"),
        "__yb",
    )
    pairs = sa.join(shifted, sa["__b"] == shifted["__bs"])
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("__yb").alias("sx"),
        F.sum("__ya").alias("sy"),
        F.sum(F.col("__yb") * F.col("__yb")).alias("sxx"),
        F.sum(F.col("__ya") * F.col("__ya")).alias("syy"),
        F.sum(F.col("__yb") * F.col("__ya")).alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den2 = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return stats.select(
        "lag",
        F.col("m").cast("long").alias("n_pairs"),
        (
            F.when(den2 > 0, F.round(num / F.sqrt(den2), 4)).otherwise(F.lit(0.0))
            + F.lit(0.0)  # -0.0 -> 0.0: engines round to signed zero differently
        ).alias("xcorr"),
    )


def incident_groups(
    flags: DataFrame,
    metric_col: str = "event_type",
    ts_col: str = "bucket_ts",
    gap_seconds: int = 7200,
) -> DataFrame:
    """Alert → incident grouping — the fatigue reducer every paging
    pipeline ends with: simultaneous/cascading anomalies across
    metrics collapse into ONE incident when no quiet period of
    ``gap_seconds`` separates them. Input is the flagged bucket set
    (metric, ts) from metric_anomalies; a new incident starts where
    the gap from the PREVIOUS flagged bucket (any metric) exceeds the
    threshold, incident ids are the running count of such starts, and
    each incident reports its span, alert count, and how many
    distinct metrics fired (the single-metric blip vs systemic-event
    discriminator).

    The windows run over the ALERT set — bounded by flagged buckets ×
    metrics, a table that monitoring keeps small by construction (the
    repo's accepted global-window-over-a-key-table pattern; shard by
    incident domain upstream if alerts are genuinely unbounded). The
    gap is exact integer microseconds on the naive epoch (naive_us),
    and the (ts, metric) window order is total, so grouping is
    deterministic on any engine. Output: (incident_id, started_at,
    ended_at, n_alerts, n_metrics).
    """
    w = W.orderBy(ts_col, metric_col)
    # python-side multiply: lit(7200) * lit(1e6) is an INT constant
    # fold that overflows under ANSI mode
    gap_us = F.lit(gap_seconds * 1_000_000).cast("long")
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_inc = (
        prev_ts.isNull() | (naive_us(ts_col) - naive_us(prev_ts) > gap_us)
    ).cast("long")
    wc = W.orderBy(ts_col, metric_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    tagged = flags.select(
        F.col(metric_col).alias("__m"),
        F.col(ts_col).alias("__t"),
        F.sum(new_inc).over(wc).alias("incident_id"),
    )
    return tagged.groupBy("incident_id").agg(
        F.min("__t").alias("started_at"),
        F.max("__t").alias("ended_at"),
        F.count(F.lit(1)).cast("long").alias("n_alerts"),
        F.count_distinct("__m").cast("long").alias("n_metrics"),
    )


def diff_column_contributions(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Column-level drill-down of :func:`table_diff` — after the row
    diff says N keys changed, the next question is WHICH columns drove
    the churn (a price-restatement reads very differently from a
    status backfill). Inner join on the key (added/removed keys have
    no column-level story), then ONE aggregate of null-safe
    per-column mismatch counts, unpivoted long so every table's
    contributions union into one stream.

    The comparison is ``NOT (old <=> new)`` (null-safe: NULL→value
    and value→NULL both count as a change, NULL→NULL does not —
    DuckDB's IS DISTINCT FROM). One co-located key join + one hash
    agg regardless of column count; output is one row per non-key
    column.
    Output: (column, n_mismatch, n_compared, mismatch_rate — one
    unrounded division of exact integers).
    """
    compare_cols = [c for c in old.columns if c not in key_cols]
    o = old.select(
        *key_cols, *[F.col(c).alias(f"__o_{c}") for c in compare_cols]
    )
    n = new.select(
        *key_cols, *[F.col(c).alias(f"__n_{c}") for c in compare_cols]
    )
    j = o.join(n, key_cols)
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        *[
            F.sum(
                (~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))).cast("long")
            ).alias(f"__m_{c}")
            for c in compare_cols
        ],
    )
    stack = F.expr(
        "stack({}, {}) as (column, n_mismatch)".format(
            len(compare_cols),
            ", ".join(f"'{c}', __m_{c}" for c in compare_cols),
        )
    )
    return agg.select(stack, F.col("__n").alias("n_compared")).select(
        "column",
        "n_mismatch",
        "n_compared",
        (F.col("n_mismatch") / F.col("n_compared")).alias("mismatch_rate"),
    )
