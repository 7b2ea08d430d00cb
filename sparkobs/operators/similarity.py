"""Embedding similarity search (extension): cosine top-k.

Two tiers over ``embeddings(vec_id, embedding array<float>, label)``:

1. **Brute force** — full self-join with JVM-side dot products
   (``zip_with`` + ``aggregate`` fold, no UDF): exact, O(n²), the
   sf0.01 oracle baseline.
2. **LSH-bucketed** — random-hyperplane signatures (deterministic
   xxhash64-derived projections) bucket candidates, exact re-rank on
   candidates only: the 100 TB path (cost ∝ bucket collisions).

All arithmetic in double; dot products fold left-to-right so results
are bit-stable and oracle-comparable after round(…, 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from sparkobs.io import collect_at_most


def _with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("norm"),
    )


def embedding_norms(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-vector L2 norm (the reusable first stage of both tiers)."""
    n = _with_norm(df, id_col, vec_col)
    return n.select(F.col("id").alias(id_col), F.round("norm", 4).alias("l2_norm"))


#: Hard cap on corpus rows for the driver-collect tiers. Past this,
#: the broadcast-matrix contract (corpus fits in driver + executor
#: memory) no longer holds and callers must switch tiers.
DEFAULT_MAX_CORPUS_ROWS = 2_000_000


def _collect_corpus(df: DataFrame, max_rows: int, caller: str):
    """The whole corpus as a pandas frame for the tiers that broadcast
    it from the driver (:func:`sparkobs.io.collect_at_most`). Raises
    past ``max_rows`` with a pointer to the distributed tiers
    (cosine_topk_lsh / cosine_topk_ivf) instead of OOM-ing the driver;
    rejecting a mis-called 100 TB input costs one partial scan."""
    corpus = collect_at_most(df, max_rows)
    if corpus is None:
        raise ValueError(
            f"{caller}: corpus has > max_corpus_rows={max_rows} rows; "
            "this tier broadcasts the full corpus matrix and is only valid "
            "while it fits in memory. Use cosine_topk_lsh or cosine_topk_ivf "
            "(fully distributed) for larger corpora, or raise max_corpus_rows "
            "explicitly if you know the matrix fits."
        )
    return corpus


def cosine_topk_bruteforce(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus_rows: int = DEFAULT_MAX_CORPUS_ROWS,
) -> DataFrame:
    """Exact cosine top-k neighbors per vector (tier 1).

    Ranking is over (rounded cosine DESC, neighbor id ASC) so ties are
    deterministic across engines. Output: (vec_id, neighbor_id, cosine,
    rank).

    Guarded: raises if the corpus exceeds ``max_corpus_rows`` (the
    broadcast-matrix contract); the distributed tiers are
    cosine_topk_lsh and cosine_topk_ivf.
    """
    import numpy as np

    sc = df.sparkSession.sparkContext
    # Arrow-batched mapInPandas with a broadcast corpus matrix: each
    # partition scores its query batch against the whole corpus with one
    # BLAS matmul — the vectorized Pandas-UDF "slow path", ~100× an
    # interpreted per-pair fold. Valid while the corpus fits executor
    # memory (the definition of this tier); beyond that use
    # cosine_topk_lsh (bucketed candidates, no full matrix).
    corpus = _collect_corpus(
        df.select(id_col, vec_col), max_corpus_rows, "cosine_topk_bruteforce"
    )
    c_ids_l = corpus[id_col].to_numpy()
    c_mat_l = np.array(corpus[vec_col].tolist(), dtype=np.float64)
    c_norms_l = np.sqrt((c_mat_l * c_mat_l).sum(axis=1))
    bc = sc.broadcast((c_ids_l, c_mat_l, c_norms_l))
    kk = k

    def score(batches):
        import pandas as pd

        c_ids, c_mat, c_norms = bc.value
        c_index = {int(v): i for i, v in enumerate(c_ids)}
        for pdf in batches:
            q = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            q_ids = pdf[id_col].to_numpy()
            q_norms = np.sqrt((q * q).sum(axis=1))
            sims = np.round((q @ c_mat.T) / np.outer(q_norms, c_norms), 6)
            # self-exclusion, then a batch-wide kth-value threshold: the
            # per-row Python work drops from O(n) to O(k + ties)
            for i, qid in enumerate(q_ids):
                j = c_index.get(int(qid))
                if j is not None:
                    sims[i, j] = -np.inf
            if sims.shape[1] > kk:
                kth = np.partition(sims, -kk, axis=1)[:, -kk]
            else:
                kth = np.full(sims.shape[0], -np.inf)
            out_vec, out_nbr, out_cos, out_rank = [], [], [], []
            for i in range(sims.shape[0]):
                surv = np.nonzero(sims[i] >= kth[i])[0]  # ~k + ties
                # drop self explicitly: when n <= k the kth threshold is
                # -inf and the -inf-masked self row would otherwise pass
                jj = c_index.get(int(q_ids[i]))
                if jj is not None:
                    surv = surv[surv != jj]
                # exact top-k with deterministic id tiebreak on survivors
                order = surv[np.lexsort((c_ids[surv], -sims[i][surv]))][:kk]
                out_vec.extend([q_ids[i]] * len(order))
                out_nbr.extend(c_ids[order])
                out_cos.extend(sims[i][order])
                out_rank.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {
                    "vec_id": out_vec,
                    "neighbor_id": out_nbr,
                    "cosine": out_cos,
                    "rank": out_rank,
                }
            )

    # partition count sized to the corpus: ~256 queries per Python
    # worker amortizes worker spin-up on small inputs while still
    # fanning out fully on large ones
    n_part = max(1, min(sc.defaultParallelism, (len(corpus) + 255) // 256))
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .repartition(n_part)
        .mapInPandas(score, "vec_id bigint, neighbor_id bigint, cosine double, rank bigint")
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: unit-free ±1 components
    derived from a splitmix-style integer mix — reproducible across
    runs and engines, no RNG state."""
    comps = []
    for j in range(dim):
        z = (plane_idx * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z >> 31) ^ z) & 0xFFFFFFFFFFFFFFFF
        comps.append(1.0 if (z & 1) == 1 else -1.0)
    return comps


def auto_plane_params(
    n_rows: int, n_bands: int = 3, target_bucket: int = 256
) -> tuple[int, int]:
    """Corpus-size-aware hyperplane-LSH banding: (num_planes,
    band_planes) such that expected band-bucket occupancy stays
    ~``target_bucket`` regardless of corpus size.

    A band key has ``2^band_planes`` values, so FIXED band_planes means
    bucket occupancy — and with it candidate-pair volume, which is
    quadratic in occupancy — grows linearly with the corpus: measured
    49× wall-clock at 10× data with 4-bit bands (SCALE.md). Scaling
    ``band_planes ≈ log2(n / target_bucket)`` keeps occupancy constant,
    making candidate volume ~3·n·target_bucket/2 — LINEAR in n. The
    price is per-band recall ~p^band_planes (p = per-plane agreement
    probability, (1 - θ/π)); hold recall by raising ``n_bands``
    alongside if the threshold is low. At SemDeDup-style thresholds
    (≥0.95, p ≈ 0.9) three 8-bit bands still catch ≥~80% of true pairs.
    """
    import math

    bp = max(4, math.ceil(math.log2(max(2.0, n_rows / target_bucket))))
    return n_bands * bp, bp


def cosine_topk_lsh(
    df: DataFrame,
    k: int = 5,
    num_planes: int = 12,
    band_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k (tier 2): random-hyperplane LSH.

    Sign-pattern of ``num_planes`` fixed hyperplanes → banded into
    ``num_planes/band_planes`` sub-keys; vectors sharing any band
    bucket become candidates; exact cosine re-rank on candidates.
    Recall is tested against the brute-force tier in unit tests.
    """
    # banded is referenced on BOTH sides of the self-join and Catalyst
    # reuses no subtree statically — without the checkpoint the
    # 12-plane signature pipeline (interpreted zip_with/aggregate
    # lambdas, the expensive leg) evaluates once per side. n stays
    # LAZY: its re-evaluations are one cheap norm scan each, and an
    # eager vector-payload checkpoint measured SLOWER at sf0.1 (the
    # materialization barrier costs more than the recompute saves).
    n = _with_norm(df, id_col, vec_col)
    # candidate generation over (id, band, key) ONLY — the 1 KB vector
    # payloads must not ride through the self-join + distinct (hot band
    # buckets make candidate volume quadratic in the bucket size;
    # carrying vectors there spilled ~80 GB at 20k clustered vectors).
    # Vectors are joined back onto the deduped 16-byte id pairs.
    banded = _banded_keys(n, num_planes, band_planes).localCheckpoint(
        eager=True
    )
    # The shared-bucket relation is SYMMETRIC, so candidates are
    # generated UNORDERED (a.id < b.id) and mirrored after scoring
    # (r12 — the ordered form was the query's dominant leg: the join
    # emitted every pair twice into the dedup shuffle and the cosine
    # evaluated twice per pair; isolated sf0.1 profile 3.2 s join +
    # 1.2 s score → ~half each). The mirror is EXACT: zip_with keeps
    # dimension order, float64 multiply is bit-commutative, and the
    # left-to-right fold order is unchanged, so cosine(a,b) ≡
    # cosine(b,a) bit for bit (the DuckDB oracle certifies the
    # mirrored output).
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("vec_id"), F.col("b.id").alias("neighbor_id"))
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    # eager checkpoint: the half-set is referenced by both union legs
    # and Catalyst reuses no subtree statically — without it the whole
    # join+score pipeline would run twice (once per direction).
    half = _score_pairs(cand, n, "vec_id", "neighbor_id").localCheckpoint(
        eager=True
    )
    scored = half.unionAll(
        half.select(
            F.col("neighbor_id").alias("vec_id"),
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def _banded_keys(n: DataFrame, num_planes: int, band_planes: int) -> DataFrame:
    """(id, band, key) hyperplane band keys — the join-key projection of
    the LSH signature, with no vector payload.

    Computed as an Arrow-batched ``mapInPandas`` kernel (r11 —
    previously ``num_planes`` interpreted zip_with/aggregate lambda
    dots per row, the LSH tiers' dominant fixed cost). Row-local and
    fully distributed; BIT-IDENTICAL to the lambda form for FINITE
    inputs: each plane dot accumulates left-to-right over dims in
    float64 (the same IEEE add sequence as the SQL fold), the sign
    test replays ``dot >= 0 → 1 else 0``, and the band key is the
    same "0"/"1" concatenation. Verified key-for-key against the
    expression form before the swap. Non-finite vectors are OUT OF
    CONTRACT (the module normalizes upstream): there the two forms
    diverge — Spark SQL orders NaN above every numeric, so the old
    expression emitted bit 1 for a NaN dot, while numpy's
    ``dots >= 0`` emits 0."""
    import numpy as np

    bands = num_planes // band_planes
    bp = band_planes
    npl = num_planes

    def keys(batches):
        import pandas as pd

        # planes are a DETERMINISTIC function of (dim, plane_idx), so
        # each task builds them from its own first batch's width
        # (guide §4.5: heavyweight init once per task) — this replaced
        # a driver-side `n.select(size(v)).head()` probe that cost one
        # extra job and one extra upstream evaluation per LSH query
        planes = None
        cols = ["id", "band", "key"]
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=cols)
                continue
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            if planes is None:
                planes = np.array(
                    [_hyperplane(v.shape[1], p) for p in range(npl)],
                    dtype=np.float64,
                )
            dots = np.zeros((len(pdf), planes.shape[0]), dtype=np.float64)
            for d in range(v.shape[1]):
                dots = dots + v[:, d, None] * planes[None, :, d]
            bits = (dots >= 0).astype(np.int8)
            ids = pdf["id"].to_numpy()
            out_id, out_band, out_key = [], [], []
            for bi in range(bands):
                seg = bits[:, bi * bp : (bi + 1) * bp]
                out_id.extend(ids)
                out_band.extend([bi] * len(ids))
                out_key.extend(
                    "".join(str(int(x)) for x in row) for row in seg
                )
            yield pd.DataFrame(
                {"id": out_id, "band": out_band, "key": out_key}
            )

    return n.select("id", "v").mapInPandas(
        keys, "id bigint, band int, key string"
    )


def _score_pairs(pairs: DataFrame, n: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Join the (norm'd) vectors back onto deduped id pairs and compute
    exact rounded cosine — two hash joins on 8-byte keys."""
    va = n.select(F.col("id").alias(a_col), F.col("v").alias("va"), F.col("norm").alias("na"))
    vb = n.select(F.col("id").alias(b_col), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        pairs.join(va, a_col)
        .join(vb, b_col)
        .select(
            a_col,
            b_col,
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )


def ivf_quantize(
    df: DataFrame,
    n_clusters: int,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Shared IVF quantizer: per row compute the ``n_clusters`` centroid
    dot products ONCE (one struct array + one array_sort), and derive
    both the assignment (probes[0] = argmax, first-max tie-break) and
    the ``n_probe`` probe list from that single sorted array. Returns
    ((id, vn, probes array<int>, cluster), centroids)."""
    n = _with_norm(df, id_col, vec_col)
    normed = n.select(
        "id", F.transform("v", lambda x: x / F.col("norm")).alias("vn")
    )
    # ≤ n_clusters rows collected — the "broadcast only the centroids"
    # contract (vs the corpus collect this replaces).
    seed_rows = normed.orderBy("id").limit(n_clusters).collect()
    cents = [list(r["vn"]) for r in seed_rows]

    # Probe computation is an Arrow-batched mapInPandas kernel (r11 —
    # previously ONE giant generated SQL expression, n_clusters × dim
    # unrolled multiply-adds, whose Janino compile cost ~0.5-1 s of
    # fixed wall per run). The kernel is row-local (fully distributed,
    # no collect) and BIT-IDENTICAL to that expression: the dot
    # accumulates left-to-right over dims in float64 (`dots + vn[:,d]
    # ·c[:,d]` — the same IEEE add sequence as the unrolled
    # `vn[0]*c0 + vn[1]*c1 + …`), and probe order replays the SQL
    # comparator (d DESC, centroid index ASC via lexsort). Verified
    # probe-for-probe against the expression form before the swap;
    # the DuckDB oracles certify the same arithmetic. Vectors are
    # assumed norm-finite (the module contract — a zero-norm vector
    # is NaN in every tier); NaN dots are OUT OF CONTRACT and the two
    # forms diverge there (Spark SQL's comparator orders NaN above
    # every numeric, numpy's lexsort on -dots puts NaN last).
    import numpy as np

    cm = np.array(cents, dtype=np.float64)
    np_probe = n_probe

    def quant(batches):
        import pandas as pd

        cols = ["id", "vn", "probes", "cluster"]
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=cols)
                continue
            vn = np.array(pdf["vn"].tolist(), dtype=np.float64)
            dots = np.zeros((len(pdf), cm.shape[0]), dtype=np.float64)
            for d in range(vn.shape[1]):
                dots = dots + vn[:, d, None] * cm[None, :, d]
            cidx = np.arange(cm.shape[0])
            probes_out = [
                [int(x) for x in np.lexsort((cidx, -dots[r]))[:np_probe]]
                for r in range(len(pdf))
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "vn": pdf["vn"],
                    "probes": probes_out,
                    "cluster": [p[0] for p in probes_out],
                }
            )

    quantized = normed.mapInPandas(
        quant, "id bigint, vn array<double>, probes array<int>, cluster int"
    )
    return quantized, cents


def cosine_topk_ivf(
    df: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) partitioning —
    fully distributed (tier 3).

    Coarse quantizer: deterministic seed centroids (lowest-id vectors,
    see ivf_quantize). Each query probes its ``n_probe`` nearest
    centroids; candidates = equi-join of (query, probed cluster) against
    the cluster-assigned corpus — a plain shuffle join on a 1-int key,
    no corpus collect, no n² matrix. Exact cosine re-rank + windowed
    top-k on candidates only. A query therefore scans ~n_probe/
    n_clusters of the corpus — the classic IVF recall/scan trade.
    Recall vs brute force is unit-tested.
    """
    quantized, _cents = ivf_quantize(df, n_clusters, n_probe, id_col, vec_col)
    # shuffle BOTH roles to their cluster: queries to every probed
    # cluster (n_probe copies), corpus members to their one home
    # cluster — then score each bucket with ONE BLAS matmul in an
    # Arrow-batched grouped kernel. Rows shipped ∝ n·n_probe vectors,
    # never n² pairs; per-group work is (queries×dim)@(dim×members).
    # one pass emits all bucket entries per row — n_probe query copies
    # plus the single corpus-home copy — so the quantizer subtree is
    # evaluated once, not once per union branch
    entries = F.concat(
        F.transform(
            "probes",
            lambda p: F.struct(p.alias("g"), F.lit("q").alias("role")),
        ),
        F.array(F.struct(F.col("cluster").alias("g"), F.lit("c").alias("role"))),
    )
    both = quantized.select(
        "id", "vn", F.explode(entries).alias("e")
    ).select("id", "vn", F.col("e.g").alias("g"), F.col("e.role").alias("role"))
    kk = k

    def bucket_topk(pdf):
        import numpy as np
        import pandas as pd

        qs = pdf[pdf["role"] == "q"]
        cs = pdf[pdf["role"] == "c"]
        cols = ["vec_id", "neighbor_id", "cosine"]
        if qs.empty or cs.empty:
            return pd.DataFrame(columns=cols)
        qm = np.array(qs["vn"].tolist(), dtype=np.float64)
        cm = np.array(cs["vn"].tolist(), dtype=np.float64)
        qids = qs["id"].to_numpy()
        cids = cs["id"].to_numpy()
        sims = np.round(qm @ cm.T, 6)
        out = []
        for i in range(len(qids)):
            mask = cids != qids[i]  # self-exclusion
            ids_i, s_i = cids[mask], sims[i][mask]
            if len(s_i) > kk:
                th = np.partition(s_i, -kk)[-kk]
                keep = s_i >= th
                ids_i, s_i = ids_i[keep], s_i[keep]
            order = np.lexsort((ids_i, -s_i))[:kk]
            out.extend(
                (int(qids[i]), int(ids_i[j]), float(s_i[j])) for j in order
            )
        return pd.DataFrame(out, columns=cols)

    # each (query, neighbor) pair lives in exactly one bucket (a corpus
    # vector has one home cluster), so the global top-k is a subset of
    # the per-bucket top-k unions — the final window just merges them
    local = both.groupBy("g").applyInPandas(
        bucket_topk, "vec_id bigint, neighbor_id bigint, cosine double"
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "vec_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
        )
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int | None = 12,
    band_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed embedding near-dup pairs (the 100 TB tier for
    embedding_near_dup_pairs): hyperplane-LSH band buckets generate
    candidates — a plain equi-join, no broadcast matrix, no corpus
    collect — then exact cosine filters at ``threshold``.

    Recall follows the band math (pairs at cosine ≥ 0.95 collide in
    ≥1 of 3 bands with high probability; deterministic planes, so the
    result is reproducible and DuckDB-oracle-checkable). Output:
    (id_a < id_b, cosine).

    ``num_planes=None`` sizes the banding from the corpus
    (:func:`auto_plane_params`, one count job) — REQUIRED past ~10k
    vectors: fixed 4-bit bands have 16 buckets per band, so occupancy
    and with it candidate volume (quadratic in occupancy) grow with
    the corpus (measured 49× wall-clock at 10× data; SCALE.md).
    """
    if num_planes is None:
        num_planes, band_planes = auto_plane_params(df.count())
    # same shape as cosine_topk_lsh — checkpoint banded (signature
    # runs once); n stays lazy (cheap norm scans, see above)
    n = _with_norm(df, id_col, vec_col)
    # same vector-free candidate plumbing as cosine_topk_lsh: the
    # self-join + distinct see only (id, band, key); vectors join back
    # onto the deduped id pairs for the exact threshold filter
    banded = _banded_keys(n, num_planes, band_planes).localCheckpoint(
        eager=True
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _score_pairs(cand, n, "id_a", "id_b").where(
        F.col("cosine") >= threshold
    )


def label_centroid_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label embedding stats: count + mean L2 norm (grouped agg over
    the norm stage — one shuffle on label)."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        df.select(F.col(label_col).alias("label"), norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("norm"), 4).alias("avg_l2_norm"),
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus_rows: int = DEFAULT_MAX_CORPUS_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup by semantic
    similarity): all unordered pairs with cosine ≥ threshold.

    Same broadcast-matrix mapInPandas kernel as the brute top-k tier —
    each partition emits only its rows' above-threshold matches with
    id_a < id_b, so the n² score matrix never materializes. Guarded by
    ``max_corpus_rows`` (broadcast contract); swap in the IVF/LSH
    candidate generators past broadcastable corpus sizes.
    """
    import numpy as np

    sc = df.sparkSession.sparkContext
    corpus = _collect_corpus(
        df.select(id_col, vec_col), max_corpus_rows, "embedding_near_dup_pairs"
    )
    ids_l = corpus[id_col].to_numpy()
    mat_l = np.array(corpus[vec_col].tolist(), dtype=np.float64)
    mat_l = mat_l / np.sqrt((mat_l * mat_l).sum(axis=1, keepdims=True))
    bc = sc.broadcast((ids_l, mat_l))
    thr = threshold

    def pairs(batches):
        import pandas as pd

        c_ids, c_mat = bc.value
        for pdf in batches:
            q = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            q = q / np.sqrt((q * q).sum(axis=1, keepdims=True))
            q_ids = pdf[id_col].to_numpy()
            sims = np.round(q @ c_mat.T, 6)
            out = []
            for i in range(len(q_ids)):
                hit = (sims[i] >= thr) & (c_ids > q_ids[i])
                for j in np.nonzero(hit)[0]:
                    out.append((int(q_ids[i]), int(c_ids[j]), float(sims[i][j])))
            yield pd.DataFrame(out, columns=["id_a", "id_b", "cosine"])

    n_part = max(1, min(sc.defaultParallelism, (len(corpus) + 255) // 256))
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .repartition(n_part)
        .mapInPandas(pairs, "id_a bigint, id_b bigint, cosine double")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int | None = 12,
    band_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tier: str = "lsh",
    n_clusters: int | None = 16,
    n_probe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embedding near-dup pairs at cosine >=
    ``threshold`` -> connected components -> every vector mapped to its
    group representative (lowest id); the representative is kept, the
    rest of the group are the semantic duplicates to drop.

    Output: (vec_id, rep_id, is_kept) for ALL input vectors —
    singletons are their own representatives, so the result is a
    keep/drop verdict for the whole corpus, joinable back onto the
    training table by id.

    Scale shape: the paper's k-means + within-cluster all-pairs step is
    replaced by the hyperplane-LSH pair tier
    (:func:`embedding_near_dup_pairs_lsh`) — the same "compare only
    plausibly-close vectors" pruning as a plain equi-join on band
    buckets, with no centroid fit and no n_cluster² corner
    (``num_planes=None`` auto-sizes the banding to the corpus — the
    setting to use at scale, see :func:`auto_plane_params`). Candidates
    are exact-cosine-verified, then the component closure
    (:func:`sparkobs.operators.dedup.connected_components`) makes
    keep-one-per-group transitive: A≈B and B≈C drop to one doc even
    when A and C never collide in a band. Everything is joins + one
    component loop; no broadcast matrix, nothing quadratic.
    """
    from sparkobs.operators.dedup import connected_components

    if tier == "ivf":
        # clustered-corpus tier (the paper's own shape): quantize +
        # per-bucket BLAS — use when the corpus has cluster structure,
        # where sign-LSH hot buckets go quadratic (SCALE.md)
        pairs = embedding_near_dup_pairs_ivf(
            df, threshold, n_clusters, n_probe, id_col, vec_col
        )
    elif tier == "lsh":
        pairs = embedding_near_dup_pairs_lsh(
            df, threshold, num_planes, band_planes, id_col, vec_col
        )
    else:
        raise ValueError(f"tier must be lsh|ivf, got {tier!r}")
    comp = connected_components(pairs.select("id_a", "id_b"))
    rep = F.coalesce(F.col("component"), F.col("vec_id"))
    return (
        df.select(F.col(id_col).alias("vec_id"))
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            rep.alias("rep_id"),
            (rep == F.col("vec_id")).alias("is_kept"),
        )
    )


def embedding_near_dup_pairs_ivf(
    df: DataFrame,
    threshold: float = 0.95,
    n_clusters: int | None = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs for CLUSTERED corpora — the SemDeDup
    shape itself: coarse-quantize (deterministic IVF centroids), then
    compare within each bucket with ONE dense BLAS matmul per bucket.

    Why a separate tier: sign-LSH candidate volume explodes when the
    corpus has cluster structure — a tight cluster agrees with most
    hyperplanes, so its members pile into one band bucket regardless
    of how many band bits are used (measured: 103M candidates from
    20k label-clustered vectors, 52× wall-clock at 10× data; SCALE.md).
    Real embedding corpora ARE clustered. Here the same within-cluster
    comparison runs at BLAS throughput inside an Arrow-batched grouped
    kernel (~100× the per-pair Catalyst expression cost), and bucket
    occupancy is controlled by ``n_clusters``, not data geometry.

    ``n_probe`` sends each vector to its n_probe nearest centroids so
    pairs straddling a Voronoi boundary still co-bucket (recall knob;
    SemDeDup proper uses 1 and accepts boundary misses).
    ``n_clusters=None`` sizes buckets to ~2k vectors (one count job) —
    per-bucket work is O(bucket²) floats, so occupancy must be capped
    by the cluster count, the same contract as any IVF index.

    Output: (id_a < id_b, cosine ≥ threshold) — same schema as the
    LSH tier; deterministic, DuckDB-oracle-checkable.
    """
    import math

    if n_clusters is None:
        n_clusters = max(16, math.ceil(df.count() / 2048))
    quantized, _cents = ivf_quantize(df, n_clusters, n_probe, id_col, vec_col)
    # explode over transform-to-struct, NOT explode("probes") directly:
    # the bare column gets its (huge, CodegenFallback) quantizer
    # expression collapsed into GenerateExec where it evaluates
    # interpreted — measured 155 s vs 2 s on 500 rows; the transform
    # wrapper keeps the quantizer in the projection below (same shape
    # cosine_topk_ivf uses for its entries explode)
    member = quantized.select(
        "id",
        "vn",
        F.explode(
            F.transform("probes", lambda p: F.struct(p.alias("g")))
        ).alias("e"),
    ).select("id", "vn", F.col("e.g").alias("g"))
    thr = threshold

    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        cols = ["id_a", "id_b", "cosine"]
        if len(pdf) < 2:
            return pd.DataFrame(columns=cols)
        m = np.array(pdf["vn"].tolist(), dtype=np.float64)
        ids = pdf["id"].to_numpy()
        sims = np.round(m @ m.T, 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        s = sims[iu, ju]
        keep = s >= thr
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": s[keep],
            }
        )

    return (
        member.groupBy("g")
        .applyInPandas(bucket_pairs, "id_a bigint, id_b bigint, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x|/127``,
    ``code_i = round(x_i/scale)`` — the 4× memory cut that makes a
    100 TB embedding corpus broadcast/cache-able for ANN, plus the
    reconstruction-error stats that tell you whether recall will
    survive it.

    Pure row-local expression work (transform/aggregate over the
    array — no shuffle, no UDF); codes are emitted as a csv string
    (the driver-hashable form; a production sink would write
    ``array<tinyint>``). Zero vectors get scale 0 and all-zero codes
    rather than NaN.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    codes = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x / (amax / F.lit(127.0))).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    recon_err = F.when(
        amax > 0,
        F.aggregate(
            F.zip_with(
                v,
                codes,
                lambda x, q: (x - q * (amax / F.lit(127.0)))
                * (x - q * (amax / F.lit(127.0))),
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.round(F.sqrt(recon_err / F.size(v)), 6).alias("rms_err"),
        F.concat_ws(",", F.transform(codes, lambda c: c.cast("string"))).alias(
            "codes"
        ),
    )


def hashed_tf_vectors(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashed sparse document vectors, LONG form (id, dim_idx,
    weight): each token hashes to a dimension with a ±1 sign (the
    hashing-trick sign that makes collisions cancel in expectation),
    signed counts are L2-normalized per document. The text→vector
    bridge when no embedding model is in the loop — the output feeds
    the same similarity operators as model embeddings, and the long
    form IS the inverted index for sparse cosine.

    Portable md5 hashing (dimension = hash mod dim, sign = next hash
    bit) and integer signed counts (norm = sqrt of an exact integer
    sum), so the vectors are value-reproducible cross-engine. Signed
    counts that cancel to zero are dropped (they carry no weight and
    their presence would differ from a sparse representation's).
    One explode → one (id, dim) hash agg → one per-id norm join.
    """
    hv = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("token"),
    )
    signed = toks.select(
        "id",
        (hv % dim).alias("dim_idx"),
        F.when(F.shiftright(hv, 32) % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("s"),
    )
    counts = (
        signed.groupBy("id", "dim_idx")
        .agg(F.sum("s").alias("c"))
        .where(F.col("c") != 0)
    )
    norms = counts.groupBy("id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("__norm")
    )
    return counts.join(norms, "id").select(
        F.col("id").alias(id_col),
        F.col("dim_idx").cast("int").alias("dim_idx"),
        (F.col("c") / F.col("__norm")).alias("weight"),
    )


def synth_powerlaw_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_hot: int = 2,
    n_group: int = 8,
    n_unique: int = 6,
    group_size: int = 5,
) -> DataFrame:
    """Deterministic power-law-vocabulary corpus (doc_id, text) — the
    fixture the sparse-cosine PRODUCTION tier needs to demonstrate its
    win (the shipped documents fixture has a 31-token vocabulary, so
    every hashed dimension is dense and a df-prune cannot bite; see
    SCALE.md). Pure function of the id column (the synth-media
    pattern: a DuckDB oracle replays it with string concatenation):

    - ``n_hot`` HEAD tokens (``hot{j}``) shared by EVERY document —
      the Zipf head whose posting lists grow linearly with the corpus
      and whose dim-join cost grows quadratically;
    - ``n_group`` MID tokens (``g{id div group_size}_{j}``) shared by
      the ~``group_size`` documents of the same id-block — the true
      near-duplicate signal, df ≈ group_size regardless of corpus
      size;
    - ``n_unique`` TAIL tokens (``u{id}_{j}``) unique per document —
      df = 1 singletons.

    Within-group cosine ≈ (n_hot+n_group)/T, cross-group ≈ n_hot/T
    (T = total tokens, all count 1): thresholds between the two
    separate signal from head-only overlap with a wide margin. Each
    document's tokens are distinct, so hashed_tf_vectors counts are
    ±1 and cosines are exact rational grid points."""
    gid = F.expr(f"{id_col} div {group_size}").cast("string")
    did = F.col(id_col).cast("string")
    parts = [F.lit(f"hot{j}") for j in range(n_hot)]
    parts += [
        F.concat(F.lit("g"), gid, F.lit(f"_{j}")) for j in range(n_group)
    ]
    parts += [
        F.concat(F.lit("u"), did, F.lit(f"_{j}")) for j in range(n_unique)
    ]
    return docs.select(
        F.col(id_col), F.concat_ws(" ", *parts).alias("text")
    )


def sparse_cosine_pairs(
    vecs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    max_df: float | None = None,
) -> DataFrame:
    """All-pairs cosine similarity over LONG-form normalized sparse
    vectors (:func:`hashed_tf_vectors`): candidate pairs come from an
    equi-join on the dimension index — documents sharing no dimension
    are never compared (the sparse analog of the LSH bucket join) —
    and the dot product of unit vectors IS the cosine.

    Shuffle is keyed by dim_idx; Zipf-hot dimensions behave like hot
    shingles in the n-gram join. With a FIXED hash dimension every
    posting list grows linearly with the corpus, so the plain dim-join
    degenerates toward all-pairs at scale (the sf0.1→sf1 probe showed
    the cliff). ``max_df`` is the production tier: candidate pairs are
    generated only from dimensions whose document frequency is ≤
    ``max_df`` (exactly how PPJoin prefix filtering drops hot
    shingles), then each candidate pair is scored EXACTLY over its
    full vectors — no false positives, exact cosines; the only
    recall loss is pairs sharing *hot dimensions exclusively*. Use an
    ABSOLUTE cap: it bounds candidate volume at dim·cap²/2 regardless
    of corpus size (a relative cap such as the median df does not —
    see SCALE.md; on a degenerate tiny-vocab corpus where every dim
    is hot, densify and use the embedding LSH/IVF tiers instead).
    ``max_df=None`` keeps the exact oracle tier. Output: (id_a,
    id_b, cos ≥ threshold), each pair once.
    """
    a = vecs.select(
        F.col(id_col).alias("ia"), "dim_idx", F.col("weight").alias("wa")
    )
    b = vecs.select(
        F.col(id_col).alias("ib"), "dim_idx", F.col("weight").alias("wb")
    )
    def score(pairs: DataFrame) -> DataFrame:
        # single scoring contract for both tiers: the pruned tier's
        # cosines MUST equal the exact tier's for the pairs it emits
        return (
            pairs.groupBy("ia", "ib")
            .agg(F.round(F.sum(F.col("wa") * F.col("wb")), 4).alias("cos"))
            .where(F.col("cos") >= threshold)
            .select(
                F.col("ia").alias("id_a"), F.col("ib").alias("id_b"), "cos"
            )
        )

    if max_df is None:
        return score(a.join(b, "dim_idx").where(F.col("ia") < F.col("ib")))
    # production tier: rare-dim candidate generation + exact rescore.
    # vecs is pinned first: it feeds FIVE legs (df table, both
    # candidate sides, both rescore sides) and Catalyst reuses no
    # subtree statically — lazy, the upstream vectorization
    # (tokenize + explode + agg over the corpus) re-ran per leg, 12
    # source scans in one plan. The long-form vector table is the
    # frame a production pipeline materializes anyway; values
    # unchanged. CORPUS-SCALE, so the pin is a DISK_ONLY persist
    # (recoverable lineage), not a localCheckpoint — see
    # pin_corpus_frame (r13 ADVICE: executor loss must not strand
    # the job at the 100 TB design point).
    from sparkobs.io import pin_corpus_frame

    vecs = pin_corpus_frame(vecs)
    a = vecs.select(
        F.col(id_col).alias("ia"), "dim_idx", F.col("weight").alias("wa")
    )
    b = vecs.select(
        F.col(id_col).alias("ib"), "dim_idx", F.col("weight").alias("wb")
    )
    # The dim-frequency table has at most `dim` rows — broadcast it.
    rare = (
        vecs.groupBy("dim_idx")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") <= max_df)
        .select("dim_idx")
    )
    pa = a.join(F.broadcast(rare), "dim_idx").select("dim_idx", "ia")
    pb = b.join(F.broadcast(rare), "dim_idx").select("dim_idx", "ib")
    cand = (
        pa.join(pb, "dim_idx")
        .where(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
        .distinct()
    )
    return score(
        cand.join(a.select("ia", "dim_idx", "wa"), "ia").join(
            b.select("ib", "dim_idx", "wb"), ["ib", "dim_idx"]
        )
    )


def gram_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exact Gram (scatter) matrix of the embedding column: G[i][j] =
    Σ over rows of v[i]·v[j] — the one-pass sufficient statistic for
    PCA / whitening / covariance over a 100 TB embedding corpus.

    Shape: each partition folds its rows into ONE dim×dim float64
    partial via BLAS (``X.T @ X`` per Arrow batch), emits
    dim·(dim+1)/2 upper-triangle cells, and a single hash agg sums
    partials — shuffle volume is O(partitions · dim²), independent of
    row count (the classic tree-aggregated gramian, re-expressed as
    mapInPandas + groupBy so Catalyst schedules it).

    Output: (i, j, dot) with 1-based i ≤ j.
    """
    import numpy as np
    import pandas as pd

    def partial(batches):
        acc = None
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if X.size == 0:
                continue
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is not None:
            iu, ju = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "part": acc[iu, ju]}
            )

    cells = df.select(vec_col).mapInPandas(partial, "i int, j int, part double")
    return cells.groupBy("i", "j").agg(F.round(F.sum("part"), 4).alias("dot"))


def principal_axes(
    df: DataFrame, n_components: int, vec_col: str = "embedding"
):
    """Top principal axes of the uncentered Gram matrix: collect the
    dim×dim gramian (the only driver data), eigendecompose, order by
    eigenvalue descending, and fix each eigenvector's sign by making
    its largest-magnitude coordinate positive. Returns ``(components
    [dim × k], eigenvalues [k])`` as numpy arrays."""
    import numpy as np

    rows = gram_matrix(df, vec_col).collect()
    dim = max(r["j"] for r in rows)
    G = np.zeros((dim, dim))
    for r in rows:
        G[r["i"] - 1, r["j"] - 1] = r["dot"]
        G[r["j"] - 1, r["i"] - 1] = r["dot"]
    vals, vecs = np.linalg.eigh(G)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order]
    for k in range(comps.shape[1]):
        m = np.argmax(np.abs(comps[:, k]))
        if comps[m, k] < 0:
            comps[:, k] = -comps[:, k]
    return comps, vals[order]


def pca_variance_check(
    df: DataFrame,
    n_components: int = 2,
    vec_col: str = "embedding",
    rel_tol: float = 1e-3,
) -> DataFrame:
    """Certification invariant for :func:`pca_project`: for the
    uncentered gramian G = XᵀX with eigenpairs (λ_k, u_k), the
    projected sum of squares Σ_rows (x·u_k)² equals u_kᵀGu_k = λ_k
    EXACTLY in real arithmetic — so recomputing the projections
    distributed (unrounded) and summing their squares must reproduce
    the driver-side eigenvalues to within floating-point noise. This
    turns the eigendecomposition (which has no SQL twin) into a
    scalar cross-engine contract: (n_components, n_mismatch=0).

    A mismatch means the distributed projection disagrees with the
    collected gramian — a partition-fold or broadcast bug, exactly
    what a rows-only check cannot see."""
    import numpy as np
    import pandas as pd

    comps, eigvals = principal_axes(df, n_components, vec_col)
    spark = df.sparkSession
    bcomp = spark.sparkContext.broadcast(comps)
    k = comps.shape[1]

    def partial_ss(batches):
        C = bcomp.value
        acc = np.zeros(C.shape[1])
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if X.size:
                acc += ((X @ C) ** 2).sum(axis=0)
        yield pd.DataFrame(
            {"component": np.arange(1, C.shape[1] + 1), "ss_part": acc}
        )

    ss = (
        df.select(vec_col)
        .mapInPandas(partial_ss, "component int, ss_part double")
        .groupBy("component")
        .agg(F.sum("ss_part").alias("proj_ss"))
    )
    eig = spark.createDataFrame(
        [(i + 1, float(v)) for i, v in enumerate(eigvals)],
        "component int, eigenvalue double",
    )
    bad = F.abs(F.col("proj_ss") - F.col("eigenvalue")) / F.greatest(
        F.abs(F.col("eigenvalue")), F.lit(1.0)
    ) > F.lit(rel_tol)
    return (
        ss.join(F.broadcast(eig), "component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum(bad.cast("long")).cast("long").alias("n_mismatch"),
        )
        .select(
            F.coalesce("n_components", F.lit(0)).alias("n_components"),
            F.coalesce("n_mismatch", F.lit(0)).alias("n_mismatch"),
            F.lit(int(k)).cast("long").alias("n_requested"),
        )
    )


def pca_project(
    df: DataFrame,
    n_components: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the top principal axes of the
    (uncentered) Gram matrix — the distributed PCA shape: the dim×dim
    gramian is the ONLY thing collected (tiny at any corpus size), the
    eigendecomposition is driver-side numpy, and the projection is a
    broadcast matrix multiply per Arrow batch. No row ever leaves its
    executor.

    Deterministic: eigenvector sign is fixed by making each
    component's largest-magnitude coordinate positive (numpy's eigh
    sign is otherwise arbitrary) and components are ordered by
    eigenvalue descending. Output: (id, pc1..pcK, all round 4).
    """
    import numpy as np
    import pandas as pd

    comps, _ = principal_axes(df, n_components, vec_col)
    spark = df.sparkSession
    bcomp = spark.sparkContext.broadcast(comps)
    out_cols = [f"pc{k + 1}" for k in range(n_components)]

    def project(batches):
        C = bcomp.value
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            P = X @ C if X.size else np.zeros((0, C.shape[1]))
            out = {"id": pdf[id_col].to_numpy()}
            for k, c in enumerate(out_cols):
                out[c] = np.round(P[:, k], 4)
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id {id_type}, " + ", ".join(f"{c} double" for c in out_cols)
    return (
        df.select(id_col, vec_col)
        .mapInPandas(project, schema)
        .select(F.col("id").alias(id_col), *out_cols)
    )
