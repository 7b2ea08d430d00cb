"""Behavioral analytics over event streams: funnels, cohort
retention, and time-series resampling — the product-analytics queries
that sit on top of the same events table the monitors watch. All pure
DataFrame composition; companions to the journey Markov chain in
:mod:`sparkobs.operators.state`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkobs.functions import naive_us


def funnel_steps(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: how many keys performed ``steps[0]``, then
    ``steps[1]`` STRICTLY AFTER their first ``steps[0]``, and so on —
    each stage anchored at the earliest qualifying time (the standard
    first-touch funnel, immune to out-of-order repeat events).

    Stage i is one filtered aggregation joined to the stage-(i−1)
    frontier on the key — len(steps) hash aggs + joins, each shrinking
    (the frontier only loses keys). Output per step: entering key
    count and conversion from the previous step.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    # each frontier is materialized (eager localCheckpoint) before the
    # next stage builds on it: the per-stage .count() would otherwise
    # re-execute every earlier stage's scan+agg from scratch — O(n²)
    # full-corpus work for an n-step funnel
    frontier = (
        df.where(F.col(state_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("__t"))
        .localCheckpoint(eager=True)
    )
    counts = [frontier.count()]
    for s in steps[1:]:
        frontier = (
            df.where(F.col(state_col) == s)
            .select(key_col, F.col(ts_col).alias("__ts2"))
            .join(frontier, key_col)
            .where(F.col("__ts2") > F.col("__t"))
            .groupBy(key_col)
            .agg(F.min("__ts2").alias("__t"))
            .localCheckpoint(eager=True)
        )
        counts.append(frontier.count())
    spark = df.sparkSession
    rows = []
    for i, (s, n) in enumerate(zip(steps, counts)):
        conv = round(n / counts[i - 1], 4) if i > 0 and counts[i - 1] else None
        rows.append((i + 1, s, n, conv))
    return spark.createDataFrame(
        rows, "step int, event_type string, n_keys bigint, conversion double"
    )


def cohort_retention(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix: keys are cohorted by the week of
    their FIRST event; each (cohort, offset) cell counts keys active
    ``offset`` weeks later, with retention relative to cohort size.

    Two hash aggs (first-event per key; distinct key per cohort×
    period) and one broadcast-friendly join on the cohort key — the
    matrix is |cohorts| × |offsets| rows no matter the event volume.
    """
    first = df.groupBy(key_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("__cohort")
    )
    active = (
        df.select(key_col, F.date_trunc("week", F.col(ts_col)).alias("__period"))
        .distinct()
        .join(first, key_col)
    )
    offset = (F.datediff(F.col("__period"), F.col("__cohort")) / 7).cast("long")
    cells = (
        active.select("__cohort", offset.alias("offset"), key_col)
        .groupBy("__cohort", "offset")
        .agg(F.count_distinct(key_col).alias("n_active"))
    )
    sizes = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("__cohort_size")
    )
    return cells.join(sizes, "__cohort").select(
        F.col("__cohort").alias("cohort_start"),
        "offset",
        F.col("n_active").cast("long").alias("n_active"),
        F.round(F.col("n_active") / F.col("__cohort_size"), 4).alias("retention"),
    )


def resample_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
) -> DataFrame:
    """Per-key regular time grid with gap filling: bucket events to
    ``step``, build each key's full bucket spine between its first and
    last event, and carry the last observation forward (LOCF) into
    empty buckets — the resampling that turns an irregular event
    stream into a regular series for drift/forecast consumers.

    The spine is ``explode(sequence(min, max, interval))`` per key —
    spine size is time-range/step per key, independent of event
    volume; the fill is one ``last_value(ignoreNulls)`` window per
    key (a single shuffle, already keyed). ``is_gap`` marks filled
    rows so downstream stats can weigh observed vs imputed.
    """
    qty, _, unit_raw = step.partition(" ")
    unit = unit_raw.rstrip("s")
    if qty != "1" or unit not in ("minute", "hour", "day", "week"):
        # a multi-unit step ("2 days") would date_trunc to the base
        # unit but stride the spine by 2 — actual buckets on odd days
        # would never join and read as gaps; only single calendar
        # units keep bucketing and spine aligned
        raise ValueError(
            f"step must be '1 minute|hour|day|week', got {step!r}"
        )
    bucket = F.date_trunc(unit, F.col(ts_col))
    actual = (
        df.select(F.col(key_col).alias("k"), bucket.alias("b"), F.col(value_col).cast("double").alias("v"))
        .groupBy("k", "b")
        .agg(F.round(F.avg("v"), 4).alias("v"))
    )
    spans = actual.groupBy("k").agg(F.min("b").alias("__lo"), F.max("b").alias("__hi"))
    spine = spans.select(
        "k",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {step}"))
        ).alias("b"),
    )
    joined = spine.join(actual, ["k", "b"], "left")
    w = (
        Window.partitionBy("k")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("k").alias(key_col),
        F.col("b").alias("bucket_ts"),
        F.last("v", ignorenulls=True).over(w).alias("value"),
        F.col("v").isNull().alias("is_gap"),
    )


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Gap-rule session assignment: within each key's (ts, tiebreak)
    order, a new session starts whenever the gap to the previous event
    exceeds ``gap_seconds`` — the event-level companion to the
    session-WINDOW aggregates in :mod:`sparkobs.operators.windows`
    (those give per-window rollups; this labels every event with its
    session ordinal so arbitrary per-session analysis can follow).

    One window shuffle on the key; the session ordinal is a running
    sum of session-start flags (lag + cumulative sum — both ride the
    same window). Timestamps compare as exact integer microseconds on
    the NAIVE epoch (``naive_us`` — session-tz-independent, unlike a
    unix_micros cast) so the gap predicate is engine-reproducible.
    Every input column rides along unchanged — the point is labeling
    events, not projecting them away.
    """
    w = Window.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    us = naive_us(ts_col)
    prev = F.lag(us).over(w)
    is_new = (prev.isNull() | ((us - prev) > gap_seconds * 1_000_000)).cast("long")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        "*",
        F.sum(is_new).over(running).alias("session_idx"),
    )


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session rollup over :func:`sessionize`: event count and
    exact duration in microseconds (integer arithmetic end to end)."""
    s = sessionize(df, key_col, ts_col, tiebreak_col, gap_seconds)
    us = naive_us(ts_col)
    return s.groupBy(key_col, "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max(us) - F.min(us)).cast("long").alias("duration_us"),
    ).select(
        key_col,
        F.col("session_idx").cast("long").alias("session_idx"),
        "n_events",
        "duration_us",
    )


def debounce_first_of_burst(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    order_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Debounce: collapse each burst of same-key events to its FIRST
    row — a row survives iff it starts a new session under the gap
    rule (previous same-key event is ≥ ``gap_seconds`` older, or none
    exists). Session-START semantics, not "gap to previous kept row":
    the gap rule is a pure lag window, so it is one shuffle, identical
    in any engine, and exactly the burst definition sessionization
    already uses — debounce(gap) keeps precisely one row per session
    window. ``order_col`` breaks equal-timestamp ties
    deterministically.
    """
    w = Window.partitionBy(*key_cols).orderBy(ts_col, order_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # integer-microsecond gap on the NAIVE epoch (naive_us), the same
    # exactness convention as sessionize — never float seconds
    gap_us = naive_us(ts_col) - naive_us(prev)
    # python-side multiply: lit(gap) * lit(1e6) is an INT constant
    # fold that overflows under ANSI mode at gap_seconds >= 2148
    keep = prev.isNull() | (gap_us >= F.lit(gap_seconds * 1_000_000))
    return (
        df.withColumn("__keep", keep)
        .where(F.col("__keep"))
        .drop("__keep")
    )


def top_event_ngrams(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    state_col: str = "event_type",
    order_col: str = "event_id",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Most common length-``n`` event sequences (journey n-grams): per
    key, events order into a sequence; every window of ``n``
    consecutive states becomes one n-gram; top-k by count. The
    sequence windows come from ``lead`` over the per-key ordering —
    one shuffle on the key, no per-user collect, no explode of whole
    journeys. Deterministic (count desc, then the n-gram lexically).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
    steps = [F.col(state_col)] + [
        F.lead(state_col, i).over(w) for i in range(1, n)
    ]
    gram = F.concat_ws(">", *steps)
    complete = steps[-1].isNotNull()
    return (
        df.select(gram.alias("ngram"), complete.alias("__c"))
        .where(F.col("__c"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
        .select("ngram", F.col("n_occurrences").cast("long").alias("n_occurrences"))
    )


def activity_islands(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """Gaps-and-islands: per key, maximal runs of CONSECUTIVE active
    buckets (the classic streak/uptime shape — "longest continuous
    activity streak", "how fragmented is this feed"). Islands come
    from the textbook bucket_index − row_number constant: consecutive
    buckets share it, any gap starts a new island. One distinct over
    (key, bucket) — volume inside a bucket collapses map-side — then
    one window over the bucket series. Output per key: island count,
    longest/mean island length, active bucket count.

    The bucket index is an NTZ-safe ``timestampdiff`` from a fixed
    literal epoch — never ``unix_timestamp``, whose session-timezone
    interpretation of naive timestamps varies across harnesses."""
    hours = F.expr(
        f"timestampdiff({bucket.upper()}, timestamp'2000-01-01 00:00:00', "
        f"date_trunc('{bucket}', {ts_col}))"
    )
    active = (
        df.select(*key_cols, hours.alias("__h"))
        .distinct()
    )
    w = Window.partitionBy(*key_cols).orderBy("__h")
    grp = active.select(
        *key_cols,
        "__h",
        (F.col("__h") - F.row_number().over(w)).alias("__island"),
    )
    islands = grp.groupBy(*key_cols, "__island").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return islands.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("__len").cast("long").alias("longest_streak"),
        F.round(
            F.round(F.sum("__len"), 4) / F.count(F.lit(1)), 4
        ).alias("mean_streak"),
        F.sum("__len").cast("long").alias("active_buckets"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 10,
) -> DataFrame:
    """Pairwise association rules over (basket, item) observations —
    market-basket support/confidence/lift for ordered item pairs
    a → b: which behaviors co-occur beyond chance. Distributed
    shape: one distinct to basket-item pairs, a self-join keyed on
    the basket to enumerate co-occurrences (bounded by the per-basket
    distinct-item count, not corpus size), and broadcast marginals + a 1-row broadcast basket total (no driver collect).
    All three measures are single expressions over exact integer
    counts, bit-identical on any engine. Output: (item_a, item_b,
    n_both, support, confidence, lift) for pairs with n_both ≥
    ``min_support``."""
    # checkpointed: the distinct basket-item frame feeds FOUR legs
    # (basket total, marginals, both self-join sides) and Catalyst
    # reuses no subtree statically — lazy, the source scan + distinct
    # re-ran per leg. It is also the self-join input, so
    # materializing it once is pure win at any scale.
    pairs = (
        df.select(F.col(basket_col).alias("__k"), F.col(item_col).alias("__i"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nb = pairs.agg(F.count_distinct("__k").cast("double").alias("__nb_total"))
    marg = pairs.groupBy("__i").agg(F.count(F.lit(1)).alias("__ni"))
    co = (
        pairs.alias("l")
        .join(pairs.alias("r"), "__k")
        .where(F.col("l.__i") != F.col("r.__i"))
        .groupBy(
            F.col("l.__i").alias("item_a"), F.col("r.__i").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= min_support)
    )
    ma = marg.select(F.col("__i").alias("item_a"), F.col("__ni").alias("__na"))
    mb = marg.select(F.col("__i").alias("item_b"), F.col("__ni").alias("__nb"))
    return (
        co.join(F.broadcast(ma), "item_a")
        .join(F.broadcast(mb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(F.col("n_both") / F.col("__nb_total"), 4).alias("support"),
            F.round(F.col("n_both") / F.col("__na"), 4).alias("confidence"),
            F.round(
                F.col("n_both") * F.col("__nb_total")
                / (F.col("__na") * F.col("__nb")),
                4,
            ).alias("lift"),
        )
    )


def ab_conversion_ztest(
    df: DataFrame,
    unit_col: str,
    convert_expr,
    variant_expr,
) -> DataFrame:
    """Two-proportion A/B z-test on a DETERMINISTIC unit split: per
    variant, exposed units and converted units (a unit converts if
    ANY of its rows satisfies ``convert_expr``), then the pooled
    two-proportion z statistic between variants 0 and 1 — the
    go/no-go number for any hash-bucketed experiment.

    ``variant_expr`` should be a deterministic expression over the
    unit (e.g. the portable md5 split), so assignment is reproducible
    across engines and runs. Every output is a single arithmetic
    expression over exact integer counts — bit-identical anywhere.
    Output: one row (n_0, conv_0, rate_0, n_1, conv_1, rate_1,
    z_score)."""
    units = (
        df.groupBy(F.col(unit_col).alias("__u"))
        .agg(
            F.max(convert_expr.cast("long")).alias("__c"),
            F.first(variant_expr).alias("__v"),
        )
    )
    wide = units.agg(
        F.sum((F.col("__v") == 0).cast("long")).cast("double").alias("n0"),
        F.sum(((F.col("__v") == 0) & (F.col("__c") == 1)).cast("long"))
        .cast("double")
        .alias("c0"),
        F.sum((F.col("__v") == 1).cast("long")).cast("double").alias("n1"),
        F.sum(((F.col("__v") == 1) & (F.col("__c") == 1)).cast("long"))
        .cast("double")
        .alias("c1"),
    )
    p_pool = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    se = F.sqrt(
        p_pool * (1 - p_pool) * (1 / F.col("n0") + 1 / F.col("n1"))
    )
    return wide.select(
        F.col("n0").cast("long").alias("n_0"),
        F.col("c0").cast("long").alias("conv_0"),
        F.round(F.col("c0") / F.col("n0"), 4).alias("rate_0"),
        F.col("n1").cast("long").alias("n_1"),
        F.col("c1").cast("long").alias("conv_1"),
        F.round(F.col("c1") / F.col("n1"), 4).alias("rate_1"),
        (
            F.when(
                se > 0,
                F.round(
                    (F.col("c0") / F.col("n0") - F.col("c1") / F.col("n1")) / se, 4
                ),
            ).otherwise(F.lit(0.0))
            + F.lit(0.0)  # -0.0 -> 0.0: engines round to signed zero differently
        ).alias("z_score"),
    )


def rfm_scores(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 4,
) -> DataFrame:
    """RFM customer scoring: per key, Recency (latest activity),
    Frequency (row count), Monetary (summed amount), each quartiled
    into 1..n_tiles via ntile with DETERMINISTIC tiebreaks (the key
    itself) — the segmentation backbone behind lifecycle marketing
    and churn screens. One aggregation over the data; the three
    quartile ranks run over the KEY table with the DISTRIBUTED
    global-index primitive (per-partition row_number + broadcast
    offsets — a web-scale customer table never funnels through a
    single-partition ntile window), and each rank maps to its tile
    with ntile's exact equal-division rule (the first n mod t tiles
    take the extra row), so scores stay bit-identical to the engines'
    built-in ntile. Output: (key, last_ts, frequency, monetary,
    r_score, f_score, m_score, rfm_segment)."""
    # One range exchange for ALL THREE rankings (r14, guide §2.4
    # "remove shuffles outright"): the r13 form chained three
    # global_row_index passes — three range-partitioning sample jobs,
    # three full sorts of the key table, two eager localCheckpoints
    # between them to keep re-derivation linear — 31 Spark jobs for
    # one query. Here each key row is exploded into three
    # (kind, __ord) rows and ONE range exchange over
    # (kind, __ord, key) sorts all three orderings at once (kind
    # leads, so each metric occupies a contiguous partition range);
    # per-(pid, kind) row_number + broadcast same-kind
    # earlier-partition offsets reproduce each metric's global rank
    # exactly, and a final per-key aggregation folds the three ranks
    # back into one row. No single-partition window anywhere, one
    # sort of 3N skinny rows instead of three sorts of N.
    #
    # Rank identity: __ord is the negated metric cast to double —
    # exact (order-preserving, injective) because event-time
    # microseconds < 2^53, frequencies are counts, and monetary is
    # already a rounded double — so (__ord, key) induces the same
    # total order as each r13 per-metric index pass, and the DuckDB
    # ntile oracle is unchanged.
    per_key = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.max(ts_col).alias("last_ts"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.round(F.sum(amount_col), 2).alias("monetary"),
        )
        .localCheckpoint(eager=True)
    )

    def ntile_from_rank(rank_col, n_col):
        base = F.floor(n_col / n_tiles)
        rem = n_col % n_tiles
        cut = rem * (base + 1)
        return (
            F.when(rank_col <= cut, F.ceil(rank_col / (base + 1)))
            .otherwise(rem + F.ceil((rank_col - cut) / base))
            .cast("int")
        )

    long3 = per_key.select(
        "key",
        "last_ts",
        "frequency",
        "monetary",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("__kind"),
                    (-naive_us("last_ts")).cast("double").alias("__ord"),
                ),
                F.struct(
                    F.lit(2).alias("__kind"),
                    (-F.col("frequency")).cast("double").alias("__ord"),
                ),
                F.struct(
                    F.lit(3).alias("__kind"),
                    (-F.col("monetary")).cast("double").alias("__ord"),
                ),
            )
        ).alias("__e"),
    ).select(
        "key", "last_ts", "frequency", "monetary", "__e.__kind", "__e.__ord"
    )
    base = (
        long3.repartitionByRange("__kind", "__ord", "key")
        .sortWithinPartitions("__kind", "__ord", "key")
        .withColumn("__pid", F.spark_partition_id())
    )
    sizes = base.groupBy("__pid", "__kind").agg(F.count(F.lit(1)).alias("__n"))
    prev = sizes.select(
        F.col("__pid").alias("__pid2"),
        F.col("__kind").alias("__kind2"),
        F.col("__n").alias("__n2"),
    )
    offsets = (
        sizes.join(
            F.broadcast(prev),
            (F.col("__kind2") == F.col("__kind"))
            & (F.col("__pid2") < F.col("__pid")),
            "left",
        )
        .groupBy("__pid", "__kind")
        .agg(F.coalesce(F.sum("__n2"), F.lit(0)).alias("__off"))
    )
    w = Window.partitionBy("__pid", "__kind").orderBy("__ord", "key")
    ranked = (
        base.join(F.broadcast(offsets), ["__pid", "__kind"])
        .withColumn("__rank", F.row_number().over(w) + F.col("__off"))
    )
    scored = ranked.groupBy("key").agg(
        F.max("last_ts").alias("last_ts"),
        F.max("frequency").alias("frequency"),
        F.max("monetary").alias("monetary"),
        F.max(F.when(F.col("__kind") == 1, F.col("__rank"))).alias("__r_rank"),
        F.max(F.when(F.col("__kind") == 2, F.col("__rank"))).alias("__f_rank"),
        F.max(F.when(F.col("__kind") == 3, F.col("__rank"))).alias("__m_rank"),
    )
    n = per_key.agg(F.count(F.lit(1)).alias("__n"))
    return scored.crossJoin(F.broadcast(n)).select(
        "key",
        "last_ts",
        "frequency",
        "monetary",
        ntile_from_rank(F.col("__r_rank"), F.col("__n")).alias("r_score"),
        ntile_from_rank(F.col("__f_rank"), F.col("__n")).alias("f_score"),
        ntile_from_rank(F.col("__m_rank"), F.col("__n")).alias("m_score"),
    ).withColumn(
        "rfm_segment",
        F.concat_ws(
            "",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def interarrival_stats(
    df: DataFrame,
    partition_cols: list[str],
    group_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Inter-arrival time distribution: within each partition key's
    (ts, tiebreak) order, the gap to the PREVIOUS event, aggregated
    per group (count / mean / median / max seconds) — the cadence
    fingerprint behind rate-limit tuning, bot screening, and session
    gap-rule calibration.

    Exactness: gaps are exact integer MICROSECOND differences; every
    emitted second-valued statistic is a single division chain over
    those integers (sum/n/1e6, interpolated percentile of integers,
    max/1e6), left unrounded — identical doubles on any engine. One
    window shuffle on the partition key, one group agg."""
    # ordering by the micros value is ordering by ts (monotone), so the
    # projected frame can drop the raw timestamp column
    w = Window.partitionBy(*partition_cols).orderBy(
        F.asc("__us"), F.asc(tiebreak_col)
    )
    us = naive_us(ts_col)
    gaps = (
        df.select(*partition_cols, *group_cols, tiebreak_col, us.alias("__us"))
        .withColumn("__gap", F.col("__us") - F.lag("__us").over(w))
        .where(F.col("__gap").isNotNull())
    )
    return gaps.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        (F.sum("__gap") / F.count(F.lit(1)) / F.lit(1e6)).alias("mean_gap_s"),
        (F.percentile(F.col("__gap"), F.lit(0.5)) / F.lit(1e6)).alias(
            "p50_gap_s"
        ),
        (F.max("__gap") / F.lit(1e6)).alias("max_gap_s"),
    )


def conversion_latency(
    df: DataFrame,
    key_col: str,
    from_state: str,
    to_state: str,
    ts_col: str = "ts",
    state_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert distribution: for every key whose first
    ``to_state`` event comes strictly after its first ``from_state``
    event, the latency between those anchors — the "how long from
    first view to first purchase" number product funnels report next
    to their counts. One filtered aggregation per anchor (first-touch,
    as in :func:`funnel_steps`), a broadcast-sized key join, then
    global distribution stats over exact integer microseconds (every
    emitted second value is a division chain over identical integers
    — engine-reproducible, unrounded). Output: one row
    (n_from, n_converted, conversion_rate, mean_latency_s,
    p50_latency_s, p90_latency_s, max_latency_s)."""
    us = naive_us(ts_col)
    first_from = (
        df.where(F.col(state_col) == from_state)
        .groupBy(key_col)
        .agg(F.min(us).alias("__t0"))
    )
    first_to = (
        df.where(F.col(state_col) == to_state)
        .groupBy(key_col)
        .agg(F.min(us).alias("__t1"))
    )
    lat = (
        first_from.join(first_to, key_col, "left")
        .select(
            F.when(
                F.col("__t1") > F.col("__t0"), F.col("__t1") - F.col("__t0")
            ).alias("__lat")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_from"),
        F.count("__lat").cast("long").alias("n_converted"),
        F.round(F.count("__lat") / F.count(F.lit(1)), 4).alias(
            "conversion_rate"
        ),
        (F.sum("__lat") / F.count("__lat") / F.lit(1e6)).alias("mean_latency_s"),
        (F.percentile(F.col("__lat"), F.lit(0.5)) / F.lit(1e6)).alias(
            "p50_latency_s"
        ),
        (F.percentile(F.col("__lat"), F.lit(0.9)) / F.lit(1e6)).alias(
            "p90_latency_s"
        ),
        (F.max("__lat") / F.lit(1e6)).alias("max_latency_s"),
    )


def km_survival(
    durations: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
    duration_grid: int | None = None,
) -> DataFrame:
    """Kaplan–Meier survival curve over right-censored durations —
    the lifetime view behind churn/retention numbers: at each distinct
    event time t with d_t observed events out of n_t subjects still at
    risk, survival multiplies by (n_t − d_t)/n_t; censored subjects
    leave the risk set without an event. One hash agg over subjects;
    every window below runs over the distinct-DURATION step table
    (repo convention), never raw rows.

    Cross-engine exactness: the cumulative product rides log space,
    but summing raw ln() doubles in a window is summation-
    order-dependent (DuckDB's windowed sum is a segment tree, Spark's
    a running fold). Each step's log-term is therefore QUANTIZED to an
    integer 1e-8 grid (``floor(ln((n−d)/n)·1e8)`` — floor of identical
    doubles is engine-stable), the cumulative window sums exact
    integers, and one final ``exp(units/1e8)`` maps back. The ≤1e-8
    per-step quantization bias is deterministic and identical on any
    engine (≤1e-5 drift over 1000 steps — invisible at the 4-dp
    output grid).

    Output per death-time step: (duration, n_at_risk, n_deaths,
    survival).

    State bound: the step table — and therefore the single global
    window below — is sized by DISTINCT duration values, not subjects.
    That is inherent to the KM formulation (every distinct event time
    is a step), but for continuous-valued durations (e.g. raw
    integer-microsecond lifetimes) distinct-count approaches subject
    count, and a 100 TB event table would feed a near-subject-sized
    single-partition window. ``duration_grid`` is the bound: when set,
    durations are floor-snapped to multiples of the grid
    (``floor(d / grid) * grid`` — the bucket's lower edge, same units)
    BEFORE the step aggregation, capping the step table at
    range/grid rows regardless of corpus size — the same
    1 µs→coarser-grid move the sessionize family makes. Quantization
    changes the estimand (steps merge; within-bucket death/censor
    order is coarsened to the standard deaths-before-censors-at-equal-
    times KM convention), so it is OFF by default and the caller picks
    a grid meaningful for the duration unit (e.g. 86_400_000_000 for
    whole-day buckets over microsecond durations).
    """
    if duration_grid is not None:
        # validate the INT value actually used below: int() truncates,
        # so e.g. 0.5 would pass a raw <=0 check and become grid=0
        # (div 0 -> silent NULL durations, a garbage curve with no
        # exception)
        if int(duration_grid) != duration_grid or int(duration_grid) <= 0:
            raise ValueError(
                f"duration_grid must be a positive integer, got {duration_grid}"
            )
        # exact INTEGER division (`div`), not floor(double /): the /
        # operator casts both longs to double, and above 2^53 the
        # quotient is imprecise — a snapped bucket could differ by one
        # grid step from an engine computing t // grid exactly, which
        # is precisely the cross-engine drift the km family's
        # integer-arithmetic convention exists to rule out. Durations
        # are non-negative by construction (t1 >= t0); for a caller
        # feeding signed values note `div` truncates toward zero.
        grid = int(duration_grid)
        durations = durations.withColumn(
            duration_col,
            F.expr(f"`{duration_col}` div {grid}") * F.lit(grid),
        )
    # The step table is checkpointed (distinct-duration-sized) and the
    # subject total derives FROM it (Σ n_t ≡ count of all subjects,
    # exact integers) — previously `total` was a second full pass over
    # the durations frame, and each reference re-ran its upstream
    # derivation (r13 scan audit: 4 source scans in km_survival's
    # plan; 1 after).
    hist = (
        durations.groupBy(F.col(duration_col).alias("t"))
        .agg(
            F.count(F.lit(1)).alias("n_t"),
            F.sum(F.col(observed_col).cast("long")).alias("d_t"),
        )
        .localCheckpoint(eager=True)
    )
    # coalesce: sum over an EMPTY step table is NULL; the subject
    # total's empty-input contract is 0 (what the pre-r13 count(1)
    # over durations returned)
    total = hist.agg(
        F.coalesce(F.sum("n_t"), F.lit(0)).cast("long").alias("n_total")
    )
    w_prev = (
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    steps = (
        hist.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            F.col("n_total") - F.coalesce(F.sum("n_t").over(w_prev), F.lit(0)),
        )
        .withColumn(
            "__log_units",
            # n_at_risk == d_t (everyone remaining dies here) is the
            # curve's terminal zero: ln(0) is kept out of the window
            # (NULL, skipped by sum) and the output pins 0.0 directly
            F.when(
                F.col("n_at_risk") > F.col("d_t"),
                F.floor(
                    F.log(
                        (F.col("n_at_risk") - F.col("d_t"))
                        / F.col("n_at_risk").cast("double")
                    )
                    * F.lit(1e8)
                ),
            ),
        )
        .withColumn("__cum_units", F.sum("__log_units").over(w_run))
    )
    return (
        steps.where(F.col("d_t") > 0)
        .select(
            F.col("t").alias(duration_col),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("d_t").cast("long").alias("n_deaths"),
            F.when(
                F.col("n_at_risk") > F.col("d_t"),
                F.round(F.exp(F.col("__cum_units") / F.lit(1e8)), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("survival"),
        )
    )


def churn_durations(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    horizon_days: int = 7,
    day_quantize: bool = True,
) -> DataFrame:
    """Per-key (duration, observed) for time-to-churn survival:
    duration = whole days between a key's first and last event (or
    the RAW integer-microsecond span when ``day_quantize=False`` —
    the continuous-duration input ``km_survival``'s
    ``duration_grid`` parameter exists to bound); a key is OBSERVED
    churned if its last event predates the global observation end by
    more than ``horizon_days`` (otherwise censored — it may still be
    active). Integer microsecond arithmetic throughout."""
    spans = events.groupBy(key_col).agg(
        F.min(naive_us(ts_col)).alias("__t0"),
        F.max(naive_us(ts_col)).alias("__t1"),
    )
    end = events.agg(
        F.max(naive_us(ts_col)).alias("__end")
    )
    day_us = 86_400_000_000
    return spans.crossJoin(F.broadcast(end)).select(
        key_col,
        (
            F.expr(f"(__t1 - __t0) div {day_us}")
            if day_quantize
            else (F.col("__t1") - F.col("__t0"))
        ).alias("duration"),
        (
            F.col("__t1") < F.col("__end") - F.lit(horizon_days * day_us)
        ).cast("long").alias("observed"),
    )


def _tag_next_conversion(
    df: DataFrame,
    conversion: str,
    touches: tuple,
    key_col: str,
    ts_col: str,
    event_col: str,
    channel_col: str,
) -> DataFrame:
    """Shared conversion tagging for :func:`linear_attribution` and
    :func:`conversion_paths`: ONE window pass tags each touch with
    its next conversion's event id (running ``first(...,
    ignorenulls)`` over the current-row→unbounded-following frame,
    evaluated as a reverse scan — never touches²), keeping only
    touches that convert. Ties at the same timestamp break on the
    event id, so both engines order identically."""
    ev = df.select(key_col, ts_col, event_col, channel_col).where(
        F.col(channel_col).isin([*touches, conversion])
    )
    w_next = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, event_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return ev.withColumn(
        "__conv",
        F.first(
            F.when(F.col(channel_col) == conversion, F.col(event_col)),
            ignorenulls=True,
        ).over(w_next),
    ).where((F.col(channel_col) != conversion) & F.col("__conv").isNotNull())


def linear_attribution(
    df: DataFrame,
    conversion: str,
    touches: tuple = ("view", "click", "signup"),
    key_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_id",
    channel_col: str = "event_type",
    unit: int = 1_000_000,
) -> DataFrame:
    """Linear multi-touch attribution: every conversion's credit is
    split EQUALLY across the touches that precede it (since the prior
    conversion) in the user's journey, then rolled up per channel —
    the marketing-analytics companion to the first-touch
    :func:`conversion_latency`.

    Spark-first shape: ONE window pass tags each touch with its next
    conversion (running ``first(..., ignorenulls)`` over the
    current-row→unbounded-following frame, evaluated as a reverse
    scan — never touches²), then per-(key, conversion) windows split
    the credit. Exactness: credit is INTEGER ``unit div n`` per touch
    with the remainder assigned to the earliest touch, so per-channel
    sums are exact bigints on any engine and any summation order;
    conversions with no preceding touch carry no credit (documented
    non-conservation), touches with no following conversion drop.
    Ties at the same timestamp break on the event id — both engines
    order identically.
    """
    tagged = _tag_next_conversion(
        df, conversion, touches, key_col, ts_col, event_col, channel_col
    )
    w_grp = Window.partitionBy(key_col, "__conv")
    w_rn = Window.partitionBy(key_col, "__conv").orderBy(ts_col, event_col)
    u = F.lit(unit).cast("long")
    credited = tagged.select(
        F.col(channel_col),
        F.col("__conv"),
        F.count(F.lit(1)).over(w_grp).cast("long").alias("__n"),
        F.row_number().over(w_rn).alias("__rn"),
    ).select(
        channel_col,
        "__conv",
        (
            F.expr(f"{unit} div __n")
            + F.when(
                F.col("__rn") == 1, u - F.expr(f"{unit} div __n") * F.col("__n")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("__credit"),
    )
    return credited.groupBy(channel_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.count_distinct("__conv").cast("long").alias("n_conversions"),
        F.sum("__credit").cast("long").alias("credit_units"),
    )


def duration_weighted_mean(
    df: DataFrame,
    state_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Time-in-state metrics: each event's value HOLDS until the
    user's next event, and the per-state mean weights every value by
    how long it held — the ops metric behind "average queue depth
    while degraded" that a plain event-count mean misrepresents
    (frequent short-lived states dominate it).

    One lead() window per user (ordered ts, then event id — both
    engines break ties identically) then one hash agg. Exactness:
    value quantizes to integer cents, durations are integer
    microseconds, and the Σ(cents·dur) accumulator is DECIMAL(38,0)
    (cents·µs products overflow bigint at ~10⁴ user-days; Spark
    BigDecimal and DuckDB HUGEINT both sum it exactly); the final
    mean is a single division of the two exactly-converted doubles,
    left unrounded. Each user's LAST event has no successor and
    carries no weight. Output: (state, total_dur_us,
    twa_value)."""
    us = naive_us(ts_col)
    w = Window.partitionBy(key_col).orderBy(ts_col, event_col)
    base = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("__dur", F.lead(us, 1).over(w) - us)
        .where(F.col("__dur").isNotNull())
    )
    # the DECIMAL cast must wrap an OPERAND, not the product — a
    # bigint·bigint multiply overflows before a post-hoc cast can save
    # it (ANSI mode throws; legacy mode silently wraps)
    cents = F.round(F.col(value_col) * 100, 0).cast("decimal(38,0)")
    return (
        base.groupBy(F.col(state_col).alias("state"))
        .agg(
            F.sum(cents * F.col("__dur")).alias("__cd"),
            F.sum("__dur").cast("long").alias("total_dur_us"),
        )
        .select(
            "state",
            "total_dur_us",
            (
                F.col("__cd").cast("double")
                / F.col("total_dur_us").cast("double")
                / F.lit(100.0)
            ).alias("twa_value"),
        )
    )


def conversion_paths(
    df: DataFrame,
    conversion: str,
    touches: tuple = ("view", "click", "signup"),
    top_k: int = 15,
    key_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_id",
    channel_col: str = "event_type",
) -> DataFrame:
    """Top conversion paths — the journey-mining companion to
    :func:`linear_attribution`: the ordered channel sequence each
    conversion saw (since the prior conversion), rolled up to the
    ``top_k`` most common paths. Same one-window conversion tagging
    as attribution; the path string builds from an array_sort over
    (ts, event id, channel) structs, so tie order is identical on
    any engine, and the global top-k is TakeOrderedAndProject over
    the aggregated path table (count desc, path asc — deterministic),
    never a full sort. Output: (path, n_conversions)."""
    tagged = _tag_next_conversion(
        df, conversion, touches, key_col, ts_col, event_col, channel_col
    )
    paths = tagged.groupBy(key_col, "__conv").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(ts_col).alias("t"),
                            F.col(event_col).alias("e"),
                            F.col(channel_col).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("path")
    )
    agg = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions")
    )
    return agg.orderBy(F.desc("n_conversions"), F.asc("path")).limit(top_k)
