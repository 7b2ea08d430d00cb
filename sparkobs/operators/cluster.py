"""Distributed Lloyd k-means over embedding columns.

The reference templates never cluster, but every capability tier built
on the embeddings table already leans on a coarse quantizer (IVF seed
centroids in :mod:`similarity`, SemDeDup's per-cluster pruning); this
module supplies the real iterative fit those tiers approximate: Lloyd
iterations expressed as DataFrame aggregations — assignment is a
broadcast join against the k-row centroid table, the update step is
one explode + hash aggregation — so every pass is shuffle-parallel and
nothing data-sized ever reaches the driver.

Cross-engine exactness design (what makes an ITERATIVE float algorithm
DuckDB-certifiable at all): floating-point row-set sums are summation-
order-dependent, and in an iterative loop a last-ulp divergence in
round 1 can flip an assignment in round 2. So the fit runs in fixed
point end to end:

- vectors quantize once to a 1e-3 grid (``round(x * 1000)`` → BIGINT;
  round-to-integer of identical doubles is engine-stable — exact .5
  rounds away from zero on both engines, unlike round-to-k-decimals);
- centroids live on a 1e-5 grid: ``floor(sum * 100.0 / n)`` where the
  per-dimension ``sum`` is an exact integer, the division is one
  double op over identical operands, and ``floor`` is exact;
- distances are exact integer sums of squared grid differences
  (|v*100 − c| ≤ ~1.2e5 per dim → ≤ 9.2e11 per row at dim 64, so
  per-cluster inertia stays inside BIGINT up to ~10M members).

Every quantity either IS an integer or is a single double expression
over bit-identical operands, so the full T-iteration trajectory —
assignments, centroids, inertia — is reproducible bit for bit on any
engine, which is exactly what the DuckDB oracle (unrolled iterations,
sparkobs.queries) checks. Ties in assignment break to the lowest
cluster id; seeds are the k lowest-id vectors (no RNG). Empty clusters
drop (both engines aggregate over assigned rows only).

Scale posture: per iteration the corpus is touched exactly once
(assignment scan; the k×dim centroid table is eagerly
``localCheckpoint``-ed after each update so Catalyst never replays the
previous iteration's lineage into the next — the no-exchange-reuse
trap), the update is a posexplode (×dim) into a (k·dim)-group hash
aggregation with map-side partial aggregation, and the only driver
materialization is the k×dim centroid table itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkobs.io import collect_at_most

VQ_SCALE = 1000      # vector grid: 1e-3
C_SUBSCALE = 100     # centroid grid: 1e-5 (vector grid / 100)


def quantize_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, q): the 1e-3-grid BIGINT quantization of ``vec_col``."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * VQ_SCALE).cast("bigint"),
        ).alias("q"),
    )


def _assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k-row centroid table,
    exact integer squared distance per (row, centroid), keep the
    argmin (ties → lowest cluster id)."""
    d = q.crossJoin(F.broadcast(cents)).withColumn(
        "dist",
        F.aggregate(
            F.zip_with(
                "q",
                "cq",
                lambda a, b: (a * C_SUBSCALE - b) * (a * C_SUBSCALE - b),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("id").orderBy("dist", "cluster")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id", "q", "cluster", "dist")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Centroid update: per-dimension exact integer sums (posexplode →
    one hash agg), re-gridded to 1e-5 with the deterministic
    ``floor(sum * 100.0 / n)``."""
    per_dim = assigned.select("cluster", F.posexplode("q").alias("d", "v"))
    s = (
        per_dim.groupBy("cluster", "d")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "c_d", F.floor(F.col("s") * float(C_SUBSCALE) / F.col("n"))
        )
    )
    return s.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "c_d"))),
            lambda x: x["c_d"],
        ).alias("cq")
    )


# dense-dispatch cap for the k-means fit: when rows × dim fits this
# many grid cells (≤ 32 MB of int64), the ITERATION runs as one
# bounded collect of the Spark-quantized grid + numpy int64 rounds
# instead of 2·iters scheduled jobs — the density-dispatch discipline
# (graph.py r10). The grid is collected AFTER Spark quantizes, so
# there is no rounding-mode surface at all; every superstep op
# mirrors the distributed plan exactly (integer distances, argmin
# tie→lowest cluster id, floor(s·100.0/n) on a float64 with the same
# operand order), making the tiers bit-identical (property-tested).
DENSE_KM_MAX_CELLS = 4_000_000


def _fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
) -> tuple[DataFrame, DataFrame, "object"]:
    """Shared fit loop: quantize, seed from the k lowest ids, run
    ``iters`` assign→update rounds. Returns (q, final centroids,
    assign_frame) where ``assign_frame`` is None on the distributed
    tier, or a zero-arg callable producing the FINAL per-row
    (id, cluster, dist) assignment as a local DataFrame on the dense
    tier — the rows the distributed ``_assign(q, cents)`` pass would
    produce, already computed by the numpy superstep mirror, so
    callers that need the final assignment skip that whole
    crossJoin + per-id window subtree (one exchange of n×k rows).
    Lazy (a callable, not a frame) so fit-only callers like the
    streaming scorer pay nothing for it.

    Dense dispatch: ≤ ``DENSE_KM_MAX_CELLS // dim`` rows run the
    rounds in numpy (:func:`sparkobs.io.collect_at_most`)."""
    q = quantize_vectors(df, id_col, vec_col)
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = (first["d"] if first else 0) or 0
    if dim > 0:
        pdf = collect_at_most(q, DENSE_KM_MAX_CELLS // dim)
        if pdf is not None:
            return q, *_dense_kmeans_centroids(pdf, q.sparkSession, k, iters)
    seeds = q.orderBy("id").limit(k)
    # row_number over the k-row seed table only (repo convention:
    # global windows run over key/seed tables, never raw rows)
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("id")) - 1).alias("cluster"),
        F.transform("q", lambda x: x * C_SUBSCALE).alias("cq"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        cents = _update(_assign(q, cents)).localCheckpoint(eager=True)
    return q, cents, None


def _dense_kmeans_centroids(
    pdf, spark, k: int, iters: int
) -> tuple[DataFrame, "object"]:
    """The dense tier of :func:`_fit`: the Lloyd rounds in numpy int64
    over ``pdf``, the collected (id, q) rows of the already
    Spark-quantized grid. Mirrors the distributed loop op for op — seeds = the k lowest-id
    rows (cluster = id rank), distance = Σ(q·100 − cq)² in exact
    int64 (same BIGINT headroom contract as the module docstring),
    argmin ties → lowest cluster id (np.argmin returns the first
    minimum over ascending cluster order), update = floor(s·100.0/n)
    with the identical float64 operand order, empty clusters drop
    with their original ids preserved.

    Returns (centroids frame, assign_frame) where ``assign_frame``
    lazily builds the final per-row (id, cluster, dist) assignment —
    the same numpy distance/argmin kernel the rounds use, run once
    more against the FINAL centroids, which is exactly what the
    distributed ``_assign`` pass computes (bit-identical: integer
    distances, first-minimum tie-break over ascending cluster ids;
    pinned by test_kmeans_dense_and_distributed_tiers_agree)."""
    import numpy as np
    import pandas as pd

    ids = pdf["id"].to_numpy()
    order = np.argsort(ids)
    ids_sorted = ids[order]
    grid = np.stack(pdf["q"].to_numpy()[order]).astype(np.int64)
    g100 = grid * C_SUBSCALE
    c = g100[:k].copy()
    cl_ids = np.arange(min(k, len(grid)), dtype=np.int64)

    def _dists(c):
        # per-cluster distance columns (n×dim temp each) instead of a
        # full n×k×dim broadcast — bounded by the collect cap
        return np.stack(
            [((g100 - c[j]) ** 2).sum(axis=1) for j in range(len(c))],
            axis=1,
        )

    for _ in range(iters):
        a = np.argmin(_dists(c), axis=1)
        keep, new_c = [], []
        for j in range(len(cl_ids)):
            members = a == j
            n_m = int(members.sum())
            if n_m == 0:
                continue  # empty clusters drop, ids of the rest keep
            s = grid[members].sum(axis=0)
            keep.append(int(cl_ids[j]))
            new_c.append(
                np.floor(
                    s.astype(np.float64) * float(C_SUBSCALE) / n_m
                ).astype(np.int64)
            )
        cl_ids = np.array(keep, dtype=np.int64)
        c = np.stack(new_c)
    cents = spark.createDataFrame(
        pd.DataFrame(
            {
                "cluster": cl_ids.astype(int),
                "cq": [[int(x) for x in row] for row in c],
            }
        ),
        "cluster int, cq array<bigint>",
    )

    def assign_frame() -> DataFrame:
        d = _dists(c)
        a = np.argmin(d, axis=1)
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": ids_sorted,
                    "cluster": cl_ids[a].astype(np.int32),
                    "dist": d[np.arange(len(grid)), a],
                }
            ),
            "id bigint, cluster int, dist bigint",
        )

    return cents, assign_frame


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """The fit's final per-row assignment: (id, cluster, dist) —
    the membership view of :func:`kmeans_fit` for downstream
    evaluation (purity, ARI) and per-cluster processing."""
    q, cents, dense_assign = _fit(df, id_col, vec_col, k, iters)
    if dense_assign is not None:
        return dense_assign()
    return _assign(q, cents).select("id", "cluster", "dist")


def adjusted_rand_index(assigned: DataFrame, labeled: DataFrame) -> DataFrame:
    """Adjusted Rand Index between two partitions of one id set —
    clustering-vs-ground-truth agreement, chance-corrected. Inputs:
    ``assigned`` (id, cluster) and ``labeled`` (id, label).

    Pair-counting form with EXACT integer combinatorics: every C(x,2)
    is ``x*(x-1) div 2`` over integer counts, the four sufficient
    statistics reduce over the k x L contingency table (everything
    past the one groupBy is contingency-sized), and the statistic is
    a single double division of bit-identical BIGINTs — cross-engine
    reproducible, like the rest of this module. Degenerate case (both
    partitions trivial → denominator 0) yields NULL by convention.
    Output: (ari, n_rows, n_clusters, n_labels).
    """
    j = assigned.join(labeled, "id")
    # checkpointed: the k×L contingency feeds FOUR reductions below,
    # and Catalyst reuses no subtree statically — lazy cells re-ran
    # the assignment join (two source scans) per reference, 8 scans
    # in one plan. Values unchanged: identical cell rows.
    cells = (
        j.groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("nij"))
        .localCheckpoint(eager=True)
    )
    # two reductions instead of four (r14: each 1-row subtree cost its
    # own aggregation + crossJoin broadcast build over the same tiny
    # cells): sij/n/n_clusters/n_labels share one ungrouped aggregate,
    # and the two marginal sums share one GROUPING SETS pass — all
    # exact integer arithmetic, so the folded form is value-identical
    sij = cells.agg(
        F.sum(F.expr("nij * (nij - 1) div 2")).alias("sij"),
        F.sum("nij").alias("n"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.countDistinct("label").alias("n_labels"),
    )
    marg = cells.groupingSets(
        [[F.col("cluster")], [F.col("label")]], F.col("cluster"), F.col("label")
    ).agg(
        F.sum("nij").alias("m"),
        F.grouping("label").alias("__is_a"),
    )
    c2m = F.expr("m * (m - 1) div 2")
    sab = marg.agg(
        F.sum(F.when(F.col("__is_a") == 1, c2m).otherwise(F.lit(0))).alias("sa"),
        F.sum(F.when(F.col("__is_a") == 0, c2m).otherwise(F.lit(0))).alias("sb"),
    )
    one = sij.crossJoin(sab)
    c2n = F.expr("n * (n - 1) div 2")
    num = F.lit(2).cast("bigint") * (c2n * F.col("sij") - F.col("sa") * F.col("sb"))
    den = c2n * (F.col("sa") + F.col("sb")) - F.lit(2).cast("bigint") * F.col(
        "sa"
    ) * F.col("sb")
    # cast BOTH operands to double before dividing (not integer
    # division-to-double): past 2^53 the two orders round differently,
    # and the oracle mirrors this exact cast order
    return one.select(
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("ari"),
        F.col("n").cast("long").alias("n_rows"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.col("n_labels").cast("long").alias("n_labels"),
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Lloyd k-means: ``iters`` assign→update rounds from the k
    lowest-id seed vectors, then a final assignment pass for the
    report. Returns one row per non-empty cluster:
    (cluster, n_members, inertia, centroid_ss) where ``inertia`` is
    the exact integer sum of squared grid distances rescaled to input
    units (÷ 1e10) and ``centroid_ss`` is the integer sum of squared
    centroid components — a hash-stable centroid fingerprint.
    """
    q, cents, dense_assign = _fit(df, id_col, vec_col, k, iters)
    final = dense_assign() if dense_assign is not None else _assign(q, cents)
    css = cents.select(
        "cluster",
        F.aggregate(
            F.transform("cq", lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("centroid_ss"),
    )
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist").alias("__iu"),
        )
        .join(F.broadcast(css), "cluster")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_members",
            (F.col("__iu").cast("double") / F.lit(1e10)).alias("inertia"),
            "centroid_ss",
        )
    )
