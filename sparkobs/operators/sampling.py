"""Deterministic sampling for reproducible pipelines (extension).

The reference samples tables probabilistically (SAMPLE BLOCK,
snowflake_table_monitor.py:50-54) — fine for ad-hoc profiling, but a
training-data pipeline needs samples that are REPRODUCIBLE across
runs, engines, and partitionings: hash-mod selection on a stable key.
``Dataset.sample`` is seed-dependent per partition split; a hash-mod
predicate is a pure row-local filter — trivially parallel, pushdown-
friendly, and identical on any engine with md5() (the DuckDB oracle
mirrors it exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hash64(key_col: str, salt: str):
    """Engine-portable 63-bit hash of a key: first 15 hex chars of
    md5(salt + key) parsed base-16 — fits a signed 64-bit int in every
    engine (the shared predicate base of all deterministic sampling)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def hash_sample(
    df: DataFrame, key_col: str, one_in: int, salt: str = ""
) -> DataFrame:
    """Keep rows where ``md5(salt + key) mod one_in == 0`` — a ~1/one_in
    deterministic sample keyed by ``key_col``.

    The hash value is the first 15 hex chars of the digest parsed
    base-16 (fits a signed 64-bit int in every engine). ``salt`` picks
    an independent sample from the same keys. All rows with the same
    key land in or out TOGETHER — exactly what makes the sample safe to
    join against other tables sampled on the same key.
    """
    if one_in < 1:
        raise ValueError(f"one_in must be >= 1, got {one_in}")
    h = _hash64(key_col, salt)
    return df.where(h % one_in == 0)


def stratified_hash_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    rates: dict,
    default_one_in: int | None = None,
    salt: str = "",
) -> DataFrame:
    """Per-group deterministic sampling — the data-mixing knob that
    up/down-weights sources in a training corpus reproducibly:
    ``rates`` maps group value → keep 1-in-N for that group;
    ``default_one_in`` applies to unlisted groups (None drops them).

    Same md5-mod predicate as :func:`hash_sample` with the group's
    divisor chosen per row — a pure row-local filter (no shuffle, no
    per-group scans), so it composes with partition pruning and scales
    like the scan itself. ``Dataset.sampleBy`` is the probabilistic
    analog; this one is engine/run/partitioning-reproducible.
    """
    for g, n in rates.items():
        if n < 1:
            raise ValueError(f"rate for {g!r} must be >= 1, got {n}")
    h = _hash64(key_col, salt)
    divisor = F.lit(default_one_in)
    for g, n in rates.items():
        divisor = F.when(F.col(group_col) == g, F.lit(n)).otherwise(divisor)
    return df.where(h % divisor == 0)


def split_assign(
    df: DataFrame,
    key_col: str,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment: the md5-mod
    bucket of a stable key is mapped onto weight ranges, so every
    engine, run, and partitioning assigns the same row to the same
    split — and all rows sharing the key land in the SAME split (key
    by the dedup-group representative and near-duplicates can never
    leak across the train/eval boundary).

    The splits are train/val/test weighted 98/1/1; a key whose bucket
    (mod total weight 100) falls in [0, 98) is train, [98, 99) val,
    [99, 100) test. Pure row-local expression — no shuffle, composes
    with pushdown like the scan itself.

    Rows with a NULL key are DROPPED (same contract as hash_sample):
    a NULL hashes to NULL, every range predicate is unknown, and the
    row would otherwise silently fall through to the LAST split —
    contaminating exactly the eval set with exactly the broken-key
    rows.
    """
    bucket = _hash64(key_col, salt) % 100
    split = (
        F.when(bucket < 98, F.lit("train"))
        .when(bucket < 99, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.where(F.col(key_col).isNotNull()).withColumn(out_col, split)


def upsample_mixture(
    df: DataFrame,
    weights: dict,
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "mix",
) -> DataFrame:
    """Materialize a training mixture with FRACTIONAL per-source
    epochs: weight 2.3 → every doc of that source appears twice, and a
    deterministic 30% (hash-selected on ``id_col``) appears a third
    time; weight 0.4 → a 40% hash-sample. The standard "N epochs of
    Wikipedia, 0.5 epochs of CommonCrawl" mixing step, reproducible
    across runs/engines/partitionings.

    Plan: weights become a tiny broadcast dimension (one row per
    source); the epoch count per row is ``floor(w) + (hash_frac <
    frac(w))`` — row-local arithmetic on the md5 hash — and the copies
    come from ONE narrow ``explode(sequence(1, n))``: no shuffle
    anywhere, output size = Σ n_source·w_source by construction.
    ``epoch`` numbers the copies so downstream packing/shuffling can
    interleave epochs instead of concatenating them.
    """
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {s!r} must be >= 0, got {w}")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, float(w)) for s, w in sorted(weights.items())],
        f"{source_col} string, __w double",
    )
    w = F.coalesce(F.col("__w"), F.lit(float(default_weight)))
    # 4-decimal fixed-point fraction compare: frac(w) and the hash
    # fraction are both exact integers/1e4, so the `<` is engine-exact
    frac_sel = (_hash64(id_col, salt) % 10000) < F.round(
        (w - F.floor(w)) * 10000
    ).cast("long")
    n_epochs = F.floor(w).cast("long") + frac_sel.cast("long")
    return (
        df.join(F.broadcast(wdf), source_col, "left")
        .withColumn("__n", n_epochs)
        .where(F.col("__n") >= 1)
        .select(
            *[c for c in df.columns],
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__n"))).alias("epoch"),
        )
    )


def group_hash_topk_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exactly-k deterministic sample per group: the k rows whose
    salted key hash ranks lowest within the group — reservoir
    sampling's job (fixed-size per-group samples) without reservoir
    sampling's order-dependence. Reproducible across runs, engines,
    and partitionings; ``salt`` picks an independent sample.

    One rank window on the group key; the ``rank <= k`` predicate is
    WindowGroupLimit-eligible, so each map task keeps only its local
    top-k candidates BEFORE the shuffle — reduce-side volume is
    O(groups·k), not group size. Groups smaller than k return whole.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    h = _hash64(key_col, salt)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row draws u ∈ (0,1) from the
    md5 of its key (engine-portable, partition-invariant — the same
    derivation as hash_sample) and keeps score u^(1/w); the k largest
    scores ARE a weighted sample without replacement. One narrow
    projection + TakeOrderedAndProject — no shuffle beyond the top-k
    heaps, reproducible on any engine from (salt, key, weight).
    Non-positive weights never win (score pinned to −1).
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(16**15 + 2))
    w = F.col(weight_col).cast("double")
    score = F.when(w > 0, F.pow(u, 1.0 / w)).otherwise(F.lit(-1.0))
    return (
        df.select(
            F.col(key_col),
            w.alias("weight"),
            F.round(score, 10).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(key_col))
        .limit(k)
    )


def budget_select(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget dataset selection — the curation export shape:
    keep the highest-quality documents whose CUMULATIVE token count
    fits the training budget (greedy by quality, the standard
    data-constrained selection rule). Ordering is (quality DESC, id)
    on the 4-dp-rounded certified quality score, so the order — and
    therefore the integer prefix sums and the cut — is identical on
    any engine; the cumulative sum runs on the DISTRIBUTED
    running-sum primitive (joins.global_running_sum), never a
    single-partition window. Output: (id, n_tokens, quality,
    cum_tokens) for the selected prefix.
    """
    from sparkobs.operators.joins import global_running_sum
    from sparkobs.operators.text import quality_score

    scored = quality_score(df, id_col=id_col, text_col=text_col).select(
        id_col, "n_tokens", "quality"
    )
    ordered = scored.withColumn("__negq", -F.col("quality"))
    cum = global_running_sum(
        ordered, ["__negq", id_col], "n_tokens", out_col="cum_tokens"
    )
    return (
        cum.where(F.col("cum_tokens") <= F.lit(budget_tokens))
        .select(
            id_col,
            "n_tokens",
            "quality",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


def epoch_shuffle_rank(
    df: DataFrame, key_col: str, seed: str = "epoch0"
) -> DataFrame:
    """Deterministic training-order shuffle: rank every row by the
    portable md5 hash of (seed + key) — the epoch shuffle a training
    pipeline must be able to REPLAY (resume mid-epoch, re-derive any
    batch, prove two runs saw the same order). A new seed is a fresh
    independent permutation of the same corpus. The rank is the
    DISTRIBUTED global index over (hash, key) (joins.global_row_index
    — per-partition row_number + broadcast offsets, no
    single-partition sort); the key tiebreak makes md5 collisions
    harmless. Output: every input column plus ``shuffle_rank``
    (1-based)."""
    from sparkobs.operators.joins import global_row_index

    hashed = df.withColumn("__h", _hash64(key_col, seed))
    return global_row_index(
        hashed, ["__h", key_col], index_col="shuffle_rank"
    ).drop("__h")


def sampled_agg_ci(
    df: DataFrame,
    key_col: str,
    group_cols: list,
    value_col: str,
    one_in: int = 10,
    salt: str = "",
    z: float = 1.959964,
) -> DataFrame:
    """Approximate GROUP BY from a deterministic hash sample, with
    error bars (extension: online-aggregation / AQP — the reference
    samples only to PROFILE, snowflake_table_monitor.py:50-54; a
    100 TB engine also needs samples to ANSWER aggregates).

    Keeps the ``md5(salt+key) % one_in == 0`` rows (the
    :func:`hash_sample` predicate — engine/run/partitioning-
    reproducible) and scales per-group COUNT and SUM(value) back up by
    ``one_in``. Under Bernoulli(f) sampling with known f = 1/one_in
    these are the Horvitz–Thompson estimators; their variance
    estimators are ((1-f)/f^2)·n for the count and
    ((1-f)/f^2)·Σx² for the sum, reported as z·sqrt(·) normal
    half-widths (``ci95_*`` at the default z).

    Determinism across engines: the sample predicate is exact integer
    arithmetic on the md5 hex, the value is summed as DECIMAL(18,2)
    (associative — no float-order drift between Spark's and the
    oracle's aggregation trees), and (1-f)/f² = one_in·(one_in-1)
    is computed in exact integers; only the final sqrt/round touch
    doubles, on bit-identical inputs.

    At scale this is one filtered scan + one map-side-combinable agg:
    the shuffle carries ~1/one_in of the rows pre-aggregated to
    |groups| partial states, and the filter is a pure row-local
    predicate that composes with partition pruning. ``one_in=1``
    degenerates to the exact aggregate with zero-width intervals.

    A group with NO sampled rows is absent from the output (its
    estimate is 0 ± unknown); callers needing every group should
    left-join the estimates onto the group domain. Rows with a NULL
    sampling key are DROPPED (the hash_sample contract); a NULL value
    is excluded from est_sum/ci95_sum (SQL SUM semantics) but still
    counts toward n_sample/est_count — the count estimates ROWS, the
    sum estimates the non-null total. A group whose sampled values are
    ALL null gets NULL est_sum/ci95_sum (SUM over zero non-null values
    — identical on any SQL engine): no observation, no estimate.
    """
    if one_in < 1:
        raise ValueError(f"one_in must be >= 1, got {one_in}")
    sample = hash_sample(df, key_col, one_in, salt)
    dec = F.col(value_col).cast("decimal(18,2)")
    grouped = sample.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.sum(dec).alias("_sum_dec"),
        F.sum((dec * dec).cast("decimal(38,4)")).alias("_sumsq_dec"),
    )
    varf = float(one_in * (one_in - 1))  # (1-f)/f^2, exact in integers
    return grouped.select(
        *group_cols,
        "n_sample",
        (F.col("n_sample") * one_in).cast("long").alias("est_count"),
        F.round(
            F.lit(z) * F.sqrt(F.col("n_sample").cast("double") * varf), 4
        ).alias("ci95_count"),
        F.round((F.col("_sum_dec") * one_in).cast("double"), 2).alias("est_sum"),
        F.round(
            F.lit(z) * F.sqrt(F.col("_sumsq_dec").cast("double") * varf), 4
        ).alias("ci95_sum"),
    )


def sampled_join_agg_ci(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    group_cols: list,
    value_col: str,
    one_in: int = 10,
    salt: str = "",
    z: float = 1.959964,
) -> DataFrame:
    """Approximate JOIN aggregate from a coordinated key-universe
    sample, with error bars (extension: the join form of
    :func:`sampled_agg_ci` — AQP over a join is where independent
    per-table samples FAIL, because the probability that both sides
    of a matching pair survive independent 1-in-f samples is 1/f²,
    quadratically starving the join; the classic fix is UNIVERSE /
    key-set sampling: sample the JOIN-KEY SPACE once and keep every
    row whose key is in the sampled universe on BOTH sides).

    Both sides are filtered by the SAME ``md5(salt+key) % one_in``
    predicate (:func:`hash_sample`'s documented same-key-lands-
    together guarantee is exactly this coordination), so for a
    sampled key the join contributes its ENTIRE key-cluster of joined
    rows. The sampling unit is therefore the key, and the estimators
    are Horvitz–Thompson over per-(group, key) cluster totals
    C_{g,k} (joined-row count) and S_{g,k} (DECIMAL value sum):
    est = one_in·Σ totals, variance = one_in·(one_in−1)·Σ totals²
    (the same exact-integer (1-f)/f² factor as sampled_agg_ci),
    reported as z·sqrt(·) normal half-widths. Clusters enter the
    variance WHOLE — a key's joined rows are all-in-or-all-out, so
    per-row variance arithmetic would understate the error; that is
    the substance of the join form.

    Determinism across engines: the predicate is exact integer
    arithmetic on the md5 hex (identically on both sides), cluster
    sums are DECIMAL(18,2) and their squares DECIMAL(38,4) (exact,
    associative — no float-order drift), counts and count-squares are
    exact BIGINTs; only the final sqrt/round touch doubles, on
    bit-identical inputs. ``one_in=1`` degenerates to the exact join
    aggregate with zero-width intervals.

    At scale: each side's filter is a pure row-local predicate pushed
    to its scan (1/one_in of each side read and shuffled — the scan
    savings multiply across BOTH legs of the join), the join carries
    only sampled-universe rows, and both aggregations are map-side
    combinable. Rows with NULL join keys are dropped by the predicate
    on each side (SQL NULL: ``NULL % n == 0`` is NULL — also exactly
    the rows an inner join discards). NULL values follow SQL SUM
    semantics per cluster and per group: a group whose sampled
    clusters are all-NULL gets NULL est_sum/ci95_sum; counts always
    estimate joined ROWS. A group with no sampled keys is absent
    (callers needing the full domain left-join the estimates on).

    Output: group_cols + (n_keys, n_join_sample, est_count,
    ci95_count, est_sum, ci95_sum).
    """
    if one_in < 1:
        raise ValueError(f"one_in must be >= 1, got {one_in}")
    ls = hash_sample(left, left_key, one_in, salt)
    rs = hash_sample(right, right_key, one_in, salt)
    joined = ls.join(rs, ls[left_key] == rs[right_key])
    dec = F.col(value_col).cast("decimal(18,2)")
    per_key = joined.groupBy(
        *group_cols, ls[left_key].alias("__k")
    ).agg(
        F.count(F.lit(1)).alias("__ck"),
        # cluster sums re-narrowed to DECIMAL(18,2): their squares are
        # then DECIMAL(37,4) — exactly representable on every engine
        # (a (28,2)² product would exceed precision 38 and silently
        # lose scale); callers' per-cluster totals must fit 18,2
        F.sum(dec).cast("decimal(18,2)").alias("__sk"),
    )
    varf = float(one_in * (one_in - 1))  # (1-f)/f^2, exact in integers
    grouped = per_key.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("__ck").cast("long").alias("n_join_sample"),
        F.sum(F.col("__ck") * F.col("__ck")).cast("long").alias("_cksq"),
        F.sum("__sk").alias("_sum_dec"),
        F.sum((F.col("__sk") * F.col("__sk")).cast("decimal(38,4)")).alias(
            "_sumsq_dec"
        ),
    )
    return grouped.select(
        *group_cols,
        "n_keys",
        "n_join_sample",
        (F.col("n_join_sample") * one_in).cast("long").alias("est_count"),
        F.round(
            F.lit(z) * F.sqrt(F.col("_cksq").cast("double") * varf), 4
        ).alias("ci95_count"),
        F.round((F.col("_sum_dec") * one_in).cast("double"), 2).alias("est_sum"),
        F.round(
            F.lit(z) * F.sqrt(F.col("_sumsq_dec").cast("double") * varf), 4
        ).alias("ci95_sum"),
    )
