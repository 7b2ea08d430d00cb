"""Deduplication operators for training-data pipelines (extension).

Four tiers, trading exactness for scale:

1. **Exact** — hash-groupBy on content (or md5 fingerprint): one
   shuffle keyed by content hash; at 100 TB group by ``md5(text)``
   instead of raw text so shuffle keys are 16 bytes, not documents.
2. **Exact n-gram Jaccard** — set-similarity self-join on word
   shingles: the ground truth for near-dup, O(pairs sharing a shingle).
   Correct but quadratic against hot shingles — the sf0.01 oracle
   and the verifier for the approximate tiers.
3. **MinHash + LSH banding** — deterministic xxhash64 signatures,
   banded bucket join: candidates only collide within a band bucket,
   then exact-Jaccard verification on candidates. Linear-ish at scale;
   recall tested against tier 2 in unit tests.
4. **SimHash** — 64-bit bit-vote fingerprint + band join on 16-bit
   sub-keys for near-dup at hamming distance ≤ 3ish.

Catalyst expressions (explode/groupBy/join), no UDFs. Two kernels
also have a driver-side tier below a size cap, decided by one bounded
collect (:func:`sparkobs.io.collect_at_most`): the union-find of
:func:`connected_components` and the portable (md5) MinHash-LSH of
:func:`minhash_lsh_pairs`. Past the caps every stage is a
shuffle-parallel DataFrame op.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from sparkobs.io import collect_at_most


def unpersist_candidates() -> int:
    """Release candidate caches of the LSH tier. :func:`minhash_lsh_pairs`
    persists nothing, so there is nothing to release: always returns 0.
    Kept so session-release code written against the earlier cached
    tier keeps working."""
    return 0


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Exact dedup summary: one output row per duplicate group with the
    lowest ``id_col`` in the group as its representative id plus the
    group size. Output columns are (id_col, *key_cols, group_size) —
    non-key payload columns are NOT carried; join the result back on
    ``id_col`` to recover the representative row.

    A single hash aggregation keyed by ``key_cols`` — no window sort,
    no second join.
    """
    return (
        df.groupBy(*key_cols)
        .agg(
            F.min(F.col(id_col)).alias(id_col),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select(id_col, *key_cols, "group_size")
    )


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __toks) projection with the whitespace split materialized
    ONCE — shingle_expr then references the token array column, so the
    split doesn't get re-evaluated per branch of the shingle CASE
    (Catalyst does not reliably CSE across lambda boundaries)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), r"\s+").alias("__toks"),
    )


def shingle_expr(tokens_col: str, n: int):
    """Word n-gram shingles as an array column (pure Catalyst lambda)
    over an already-split token-array column (see :func:`tokenize`).

    Documents shorter than ``n`` tokens contribute their full text as a
    single shingle.
    """
    t = F.col(tokens_col)
    return F.when(
        F.size(t) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", t)))


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Round-robin fan-out for under-split sources feeding the heavy
    shingle/hash stages (guide §2.5 input skew, §1.2 per-task work).

    When a source's natural split count is below the session's core
    count — the extreme being one single-row-group parquet file, whose
    scan parallelism is 1 no matter how it is sliced — every core but
    one idles through the tokenize → shingle-explode → per-shingle-hash
    compute that follows. One narrow round-robin repartition to the
    default parallelism spreads that compute; the exchange carries only
    the (id, text) projection, i.e. at most the scan's own bytes, paid
    once. Scale-adaptive by construction: when the scan already has at
    least core-count natural splits (any real multi-file table, any
    100 TB layout) the frame is returned unchanged and NO exchange is
    added.

    ``df`` must be scan-rooted (no exchange): the split count comes
    from ``.rdd.getNumPartitions()``, a driver-side split planning step
    that would trigger partial execution on a plan with exchanges.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - unknown layout: do nothing
        return df
    if parts >= target:
        return df
    return df.repartition(target)


#: Hard cap on corpus rows for the EXACT all-pairs-by-shingle tiers.
#: Their candidate stage is a self-join keyed on the shingle, so work
#: is Σ df(shingle)² over distinct shingles — fine as a ground-truth /
#: small-corpus tier, quadratic-in-the-hot-key at web scale. Past the
#: cap callers must switch to the banded MinHash-LSH tier, whose
#: candidate count is collision-bounded, not pair-bounded.
DEFAULT_MAX_EXACT_DOCS = 100_000


def _bounded_fan_out(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unconditional fan-out for the GUARDED exact tiers (guide §2.5):
    ``_guard_exact_tier`` caps their corpus at max_corpus_docs rows, so
    one round-robin exchange of the (id, text) projection is always
    cheap — while the shingle explode + per-shingle hashing it feeds is
    the tier's heavy per-row compute, and single-file sources (or
    AQE-coalesced caches, which collapse kB-sized upstream frames to
    one partition) would otherwise run it on one core. No probing, so
    plan construction stays lazy on any input shape; the 100 TB path is
    the LSH tier, which uses the conditional :func:`fan_out_scan`."""
    return df.select(F.col(id_col), F.col(text_col)).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )


def _guard_exact_tier(df: DataFrame, max_rows: int, caller: str) -> None:
    """Corpus-size guard for the exact shingle-self-join tiers (the
    dedup twin of the brute-force corpus cap in
    :mod:`sparkobs.operators.similarity`): raise with a pointer
    to the LSH tier instead of launching a shuffle that is
    Σ df(shingle)²-bound under hot-shingle skew. The probe itself is
    bounded: ``limit(max_rows+1)`` means a mis-called 100 TB input
    costs one partial scan to reject, not a full count."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{caller}: corpus has > max_corpus_docs={max_rows} rows; "
            "the exact tier self-joins on raw shingles (work grows with "
            "the square of each shingle's document frequency) and is only "
            "intended for ground-truth / small-corpus runs. Use "
            "minhash_lsh_pairs (banded candidates + exact verify) for "
            "larger corpora, or raise max_corpus_docs explicitly if the "
            "shingle frequency profile is known to be flat."
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_corpus_docs: int = DEFAULT_MAX_EXACT_DOCS,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (tier 2).

    Set-similarity join: explode distinct shingles → self-join on
    shingle → per-pair intersection count → Jaccard =
    |∩| / (|A| + |B| − |∩|), keep pairs ≥ threshold, a < b.

    Scale note: the self-join key is the shingle, so skew concentrates
    on hot shingles; at 100 TB run tier 3 (MinHash LSH) for candidate
    generation and this only on candidates. AQE skew-join splitting is
    on for the hot-key case.

    Guarded: raises if the corpus exceeds ``max_corpus_docs`` (the
    exact-tier contract); the scale tier is minhash_lsh_pairs.
    """
    _guard_exact_tier(df, max_corpus_docs, "ngram_jaccard_pairs")
    src = _bounded_fan_out(df, id_col, text_col)
    # the set size rides along with every exploded shingle row, so the
    # per-pair Jaccard needs NO size-lookup joins after the self-join —
    # sizes become grouping keys (constant per id, free in the hash agg)
    shingled = tokenize(src, id_col, text_col).select(
        "id", shingle_expr("__toks", n).alias("shs")
    ).select(
        "id",
        F.size("shs").alias("sz"),
        # 8-byte hash join keys instead of shingle strings: cheaper to
        # shuffle and hash-compare; 64-bit collisions are ~(n_distinct)^2
        # /2^65 — immaterial to intersection counts at any realistic n
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("sh"),
    ).localCheckpoint(eager=True)
    # ^ both self-join legs read the materialized shingles instead of
    # re-tokenizing the corpus twice (~25% measured at sf0.1); the
    # materialization is bounded by the corpus guard above — this is
    # the ground-truth tier, never the 100 TB path
    a, b = shingled.alias("a"), shingled.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_corpus_docs: int = DEFAULT_MAX_EXACT_DOCS,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs with PPJoin-style prefix filtering —
    the high-threshold exact tier.

    For Jaccard ≥ t, two sets must share a shingle within each other's
    first ``⌊(1−t)·|S|⌋+1`` shingles under a global rarity order — so
    only those *prefix* shingles act as join keys (candidate generation
    shrinks by ~t), plus a length filter (``t·|A| ≤ |B| ≤ |A|/t``).
    Candidates are then verified with the full intersection join.
    Same result as :func:`ngram_jaccard_pairs` (tested); far fewer
    candidate pairs when t is high.

    Guarded: raises if the corpus exceeds ``max_corpus_docs`` (prefix
    filtering shrinks candidates ~t but the join is still keyed on raw
    prefix shingles); the scale tier is minhash_lsh_pairs.
    """
    _guard_exact_tier(df, max_corpus_docs, "ngram_jaccard_pairs_prefix")
    # NO fan-out here, unlike the plain exact tier: this tier
    # references the shingle frame four times through one
    # ReusedExchange, and an extra round-robin exchange below them
    # measured SLOWER at sf0.1 (A/B p50 2.13 s → 2.46 s, r14) — the
    # same reason the materialize-first variant lost (comment below)
    shingled = tokenize(df, id_col, text_col).select(
        "id", shingle_expr("__toks", n).alias("shs")
    ).select(
        "id",
        F.size("shs").alias("sz"),
        # 8-byte hash join keys instead of shingle strings: cheaper to
        # shuffle and hash-compare; 64-bit collisions are ~(n_distinct)^2
        # /2^65 — immaterial to intersection counts at any realistic n
        F.explode(F.transform("shs", lambda s: F.xxhash64(s))).alias("sh"),
    )
    # (no checkpoint here, unlike the plain tier: the four references
    # below already share one ReusedExchange, and materializing first
    # measured SLOWER at sf0.1 — 1.66 s → 1.91 s)
    freq = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        shingled.join(freq, "sh")
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("id").orderBy(F.asc("df"), F.asc("sh"))
            ),
        )
    )
    prefix = ranked.where(
        F.col("rn") <= F.floor((1 - F.lit(threshold)) * F.col("sz")) + 1
    ).select("id", "sz", "sh")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.sz") >= F.col("a.sz") * threshold)
            & (F.col("b.sz") <= F.col("a.sz") / threshold),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    left = cand.join(
        shingled.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "sh"),
        "id_a",
    )
    inter = left.join(
        shingled.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "sh"),
        ["id_b", "sh"],
    )
    return (
        inter.groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


#: both 15-hex-char halves of an md5 digest are reduced below 1e17,
#: so a + j·b (the md5 MinHash slots and Bloom positions) stays far
#: under 2^63 for any practical j: no overflow in any engine
_MD5_HALF_MOD = 10**17


def _signature_frame(
    df: DataFrame,
    n: int,
    num_hashes: int,
    id_col: str,
    text_col: str,
    hash_fn: str,
    fan_out: bool,
) -> DataFrame:
    """(id, signature, hs) per document from one tokenize/shingle
    explode and one ``groupBy(id)``: ``signature`` is the MinHash
    signature (``num_hashes`` seeded hashes over the distinct
    shingles, min per seed), ``hs`` the document's distinct shingles
    as 8-byte ``xxhash64`` keys — the set the exact verify of
    :func:`minhash_lsh_pairs` intersects. ``id_col`` must be unique.
    A caller that reads only ``signature`` (or only bands) pays
    nothing for ``hs``: column pruning drops the unused aggregate.

    ``hash_fn="xx64"`` uses xxhash64 per seed. ``hash_fn="md5"``
    derives every seed from ONE md5 digest per shingle by
    Kirsch-Mitzenmacher double hashing ``h_s = a + s·b`` (a, b = the
    digest's two 15-hex-char halves, reduced mod 1e17 so every h_s
    fits a signed 64-bit int): exactly reproducible wherever md5()
    and BIGINT arithmetic exist, the mode the DuckDB oracle checks."""
    # project to the two needed columns BEFORE the fan-out exchange
    # (guide §2.3), then spread the shingle/hash compute across cores
    # when the source is under-split (no-op on well-split sources).
    # ``fan_out=False`` is for per-micro-batch callers: batches are
    # small and deliberately narrow, and the exchange per batch
    # measured SLOWER (streaming twins A/B: 6.3→7.7 s, 3.3→3.7 s).
    src = df.select(F.col(id_col), F.col(text_col))
    if fan_out:
        src = fan_out_scan(src)
    sh = tokenize(src, id_col, text_col).select(
        "id", F.explode(shingle_expr("__toks", n)).alias("sh")
    )
    # the per-seed min aggregates ship as ONE generated SQL array expr —
    # node-by-node Column construction costs a py4j round-trip per node
    # (the repo-wide pattern: see ivf_quantize / simhash)
    if hash_fn == "xx64":
        sig_sql = "array(" + ", ".join(
            f"min(xxhash64(sh, {seed}))" for seed in range(num_hashes)
        ) + ")"
    elif hash_fn == "md5":
        mod = _MD5_HALF_MOD
        # one digest; Catalyst subexpression elimination computes
        # md5(sh) once for both halves
        sh = sh.selectExpr(
            "id",
            "sh",
            f"CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT) % {mod} AS __a",
            f"CAST(conv(substring(md5(sh), 16, 15), 16, 10) AS BIGINT) % {mod} AS __b",
        )
        sig_sql = "array(" + ", ".join(
            f"min(__a + {seed} * __b)" for seed in range(num_hashes)
        ) + ")"
    else:
        raise ValueError(f"hash_fn must be xx64|md5, got {hash_fn}")
    # shingle_expr's array is already distinct per document, so the
    # collected hashes are the set (ids are unique: one group per doc);
    # 64-bit collisions are ~(n_distinct)^2/2^65 — immaterial to
    # intersection counts at any realistic n
    return sh.groupBy("id").agg(
        F.expr(sig_sql).alias("signature"),
        F.collect_list(F.xxhash64("sh")).alias("hs"),
    )


def _band(sig: DataFrame, num_hashes: int, bands: int, hash_fn: str) -> DataFrame:
    """(id, band, bucket) rows of a frame carrying ``signature``: band
    ``bi`` hashes signature slots ``[bi·r, (bi+1)·r)``, r = rows per
    band. Band bucket key: any deterministic combiner works; the
    portable (md5) mode derives an 8-byte key from md5 of the
    '|'-joined members (15 hex chars parsed base-16) — reproducible
    across engines AND as cheap to shuffle/compare as the xxhash64
    key."""
    rows_per_band = num_hashes // bands

    def _bucket_sql(cols: list[str]) -> str:
        joined = ", ".join(cols)
        if hash_fn == "md5":
            return (
                "CAST(conv(substring(md5(concat_ws('|', "
                + joined
                + ")), 1, 15), 16, 10) AS BIGINT)"
            )
        return f"xxhash64({joined})"

    band_structs = ", ".join(
        f"struct({bi} AS band, "
        + _bucket_sql(
            [f"signature[{bi * rows_per_band + r}]" for r in range(rows_per_band)]
        )
        + " AS bucket)"
        for bi in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({band_structs}))").alias("bb")
    ).select("id", "bb.band", "bb.bucket")


def minhash_banded(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xx64",
    fan_out: bool = True,
) -> DataFrame:
    """(id, band, bucket) LSH band-bucket rows for a corpus — the
    joinable INDEX form of the MinHash signatures (bucket keys: see
    :func:`_band`). Used by stream-vs-index candidate generation; the
    batch pair join bands the same frame inside
    :func:`minhash_lsh_pairs`."""
    return _band(
        _signature_frame(df, n, num_hashes, id_col, text_col, hash_fn, fan_out),
        num_hashes,
        bands,
        hash_fn,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xx64",
) -> DataFrame:
    """MinHash-LSH near-dup pairs (tier 3), exact-verified.

    Band the signature (bands × rows-per-band), bucket-join on
    (band_idx, band_hash) to get candidates, then exact-Jaccard verify
    candidates only. At 100 TB the candidate join replaces the full
    shingle self-join — cost scales with collisions, not pairs.

    One shingle aggregate feeds both stages: the signature aggregate also
    collects each document's shingle-hash set ``hs``
    (:func:`_signature_frame`), and a candidate pair is verified by
    joining it to ``hs`` on both ids — ``|∩| =
    size(array_intersect(hs_a, hs_b))``, Jaccard = |∩| / (|A| + |B| −
    |∩|) rounded to 4 places, kept if ≥ ``threshold``. Nothing is
    persisted and no candidate is re-shingled. Column pruning splits
    the aggregate into its signature half (read by both band sides)
    and its ``hs`` half (read by both verify sides); each half's
    shuffle is reused by its two sides, and both halves read one
    reused fan-out exchange. Forcing one physical aggregate, or
    persisting it, measured no faster. The trade-off: the shingle
    explode runs over the whole corpus once per half, and every
    document's hash set (8 bytes per distinct shingle) crosses a
    shuffle, not only the candidates'. Its cost depends on candidate
    density, the share of documents in at least one candidate pair
    (4 vCPUs): on a 10×-near-duplicate mirror of sf0.005 in md5 mode
    (86%) shuffle writes grew from 2.44 to 2.70 MB per pass (+11%)
    while the query's CPU time fell by about 30%; on the sf0.1
    documents in xx64 mode (9.5%) CPU time stayed level (median 2.63
    → 2.68 s) and wall time fell by 19%, against a verify that
    re-shingled candidates only. Semi-joining ``hs`` to the candidate
    ids does not prune the explode (Catalyst keeps the semi-join
    above the aggregate) and measured slower in both modes.

    ``id_col`` must be unique: one signature (and one hash set) per
    id; rows with a NULL id never pair. ``hash_fn`` picks the signature
    hash (see :func:`_signature_frame`); the verify sets always use
    xxhash64 shingle keys — they only test shingle equality within
    Spark, so portability doesn't apply there.

    Two tiers in md5 mode. A corpus of at most ``DENSE_LSH_MAX_DOCS``
    documents is fetched by one bounded collect
    (:func:`sparkobs.io.collect_at_most`) and paired driver-side by
    :func:`_dense_lsh_pairs`, which returns the same ``(id_a, id_b,
    jaccard)`` rows as the Spark plan: the portable hash is
    reproducible by any engine with md5 and 64-bit integers, and
    ``hashlib`` with numpy int64 is one. The only difference is the
    verify set: exact shingle strings instead of xxhash64 keys, which
    can change a Jaccard value only on a 64-bit hash collision. One job
    instead of six. The dense tier is single-threaded, so the cap sits
    below the measured wall-time crossover (4 vCPUs, wall p50: 0.95 →
    0.41 s at 5 k documents, 1.6 → 1.2 s at 15 k, 1.3–1.5 → 1.6 s at
    20 k; SCALE.md); its CPU time is lower at every size. xx64 mode
    always runs the Spark plan: seeded ``xxhash64`` has no
    standard-library twin.
    """
    if hash_fn == "md5":
        pdf = collect_at_most(
            df.select(id_col, text_col).where(F.col(id_col).isNotNull()),
            DENSE_LSH_MAX_DOCS,
        )
        if pdf is not None:
            return _dense_lsh_pairs(
                pdf,
                df.sparkSession,
                df.schema[id_col].dataType,
                n,
                num_hashes,
                bands,
                threshold,
            )
    sig = _signature_frame(
        df, n, num_hashes, id_col, text_col, hash_fn, fan_out=True
    )
    banded = _band(sig, num_hashes, bands, hash_fn)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    hs = sig.select("id", "hs")
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    return (
        cand.join(hs.toDF("id_a", "hs_a"), "id_a")
        .join(hs.toDF("id_b", "hs_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.size("hs_a") + F.size("hs_b") - inter), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


#: Java's ``\s``, the class of Spark's ``split(text, '\s+')``. Python's
#: ``\s`` and ``str.split()`` also match U+00A0, U+0085, U+2003 and
#: ``\x1c``–``\x1f``, which Spark keeps inside tokens.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")

#: dense-dispatch bound for md5-mode :func:`minhash_lsh_pairs`: at or
#: below this many documents (non-NULL ids) the pair pipeline runs
#: driver-side. The dense tier is single-threaded, so the bound sits
#: below the measured wall-time crossover against the Spark plan
#: (between 15 k and 20 k documents on 4 vCPUs, SCALE.md), with room
#: for hosts whose extra cores speed up only the Spark plan.
DENSE_LSH_MAX_DOCS = 10_000


def _dense_lsh_pairs(
    pdf, spark, id_type, n: int, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    r"""The dense tier of :func:`minhash_lsh_pairs` in md5 mode: the
    Spark plan's shingles, signatures, band buckets, candidates and
    rounded Jaccard, over the collected (id, text) frame ``pdf``
    (NULL ids already dropped), in ``hashlib`` and numpy int64.

    Step by step, as Spark computes it:

    - tokens: ``split(text, '\s+')`` with Java's whitespace class and
      limit −1, so leading and trailing empty tokens stay
      (``_JAVA_WS``);
    - shingles: the distinct space-joined n-token windows, or the
      whole space-joined token list when a document has fewer than n
      tokens; a NULL text has the single shingle ``""``
      (``concat_ws`` skips NULL);
    - signature slot s: min over shingles of a + s·b, a and b the
      md5 hex digest's chars [0, 15) and [15, 30) parsed base-16,
      each mod 1e17;
    - band bucket: md5 of the band's '|'-joined slots, first 15 hex
      chars parsed base-16 (:func:`_band`), so a bucket collision
      yields the same extra candidate Spark verifies;
    - verify: |A∩B| / (|A| + |B| − |A∩B|) over exact shingle-string
      sets, rounded half-up to 4 places on the double's decimal
      string (Spark's ``round``), kept if ≥ ``threshold``.

    Spark's verify sets hold xxhash64 keys of the same shingles, so
    the two tiers' Jaccard values can differ only on a 64-bit hash
    collision inside one candidate pair."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal
    from itertools import chain, combinations

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("jaccard", DoubleType()),
        ]
    )
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    # documents in id order, so a bucket's members list in id order and
    # a candidate (x, y) with x < y has id_a <= id_b
    docs = sorted(
        zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()), key=lambda d: d[0]
    )
    ids = [d[0] for d in docs]
    vocab: dict = {}
    sets = []
    for _, text in docs:
        toks = [] if text is None else _JAVA_WS.split(text)
        if text is not None and len(toks) >= n:
            sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        else:
            sh = {" ".join(toks)}
        sets.append({vocab.setdefault(x, len(vocab)) for x in sh})

    def md5_hex(x: str) -> str:
        return hashlib.md5(x.encode()).hexdigest()

    halves = np.array(
        [(int(h[:15], 16), int(h[15:30], 16)) for h in map(md5_hex, vocab)],
        dtype=np.int64,
    ) % _MD5_HALF_MOD
    idx = np.fromiter(chain.from_iterable(sets), dtype=np.int64)
    starts = np.cumsum([0] + [len(s) for s in sets[:-1]])
    a, b = halves[idx, 0], halves[idx, 1]
    sig = np.stack(
        [np.minimum.reduceat(a + s * b, starts) for s in range(num_hashes)], axis=1
    )
    rows_per_band = num_hashes // bands
    buckets: dict = {}
    for d, slots in enumerate(sig.tolist()):
        for bi in range(bands):
            band = slots[bi * rows_per_band : (bi + 1) * rows_per_band]
            key = int(md5_hex("|".join(map(str, band)))[:15], 16)
            buckets.setdefault((bi, key), []).append(d)
    cand = {
        (x, y)
        for members in buckets.values()
        for x, y in combinations(members, 2)
        if ids[x] < ids[y]
    }
    quantum = Decimal("0.0001")
    rows = []
    for x, y in sorted(cand):
        inter = len(sets[x] & sets[y])
        j = inter / (len(sets[x]) + len(sets[y]) - inter)
        j = float(Decimal(repr(j)).quantize(quantum, ROUND_HALF_UP))
        if j >= threshold:
            rows.append((ids[x], ids[y], j))
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


def _union_find_local(pdf, spark, id_type) -> DataFrame:
    """Driver-side union-find over the collected (u, v) edges — the
    small-graph fast path of :func:`connected_components` (same
    adaptive-threshold idea as broadcast joins: below the bound,
    shipping the problem to one node beats 2·diameter shuffle jobs)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    if not parent:
        return spark.createDataFrame([], schema)
    import pandas as pd

    # one Arrow batch instead of a list of row tuples: the row path
    # pickles every tuple through py4j (measured ~1.3 s just to count
    # the resulting ~100k-row frame at sf0.1); the session enables
    # arrow.pyspark, so a pandas input ships columnar (guide §6)
    nodes = list(parent)
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "component": [find(x) for x in nodes]}),
        schema,
    )


#: Edge cap of :func:`connected_components`' driver-side union-find:
#: 250k edges ≈ tens of MB of int tuples, sized so the driver copy
#: cannot itself become the memory problem the distributed loop avoids.
UNION_FIND_MAX_EDGES = 250_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair list — the step that
    turns near-dup PAIRS into dedup GROUPS (one canonical doc per
    component). Returns (node, component) where component = the
    smallest node id in the component; only nodes appearing in an edge
    are returned (singletons are their own trivial groups).

    Min-label propagation as a DataFrame loop: each round every node
    takes the min of its own label and its neighbors' labels (one
    shuffle per round), converging in O(graph diameter) rounds —
    duplicate clusters are shallow (near-cliques), so 2-4 rounds in
    practice. Each round the new labels are **eagerly
    localCheckpoint-ed**: persist() alone only short-circuits
    *recomputation* while the logical plan tree still deepens every
    iteration, until plan processing itself OOMs the driver (observed
    at graph diameter ≳ 10) — localCheckpoint truncates the lineage so
    round N's plan is O(1) regardless of N. Convergence is an exact
    changed-count == 0 check. At extreme diameters switch to
    alternating star contraction (Kiveris et al.); for dedup graphs
    this loop is the right cost shape.

    Cache discipline: the edge caches are released before returning;
    the returned fixpoint is a localCheckpoint whose blocks are
    reclaimed by Spark's ContextCleaner once the caller drops the
    DataFrame (it never enters the CacheManager, so
    ``spark.catalog.clearCache()`` bookkeeping stays clean).

    Adaptive fast path: ≤ ``UNION_FIND_MAX_EDGES`` edges are solved
    by driver-side union-find (:func:`sparkobs.io.collect_at_most`).
    """
    # persist the RAW edges first: the symmetrizing union references
    # them twice, and without this cache the (possibly expensive)
    # upstream pair pipeline would run once per union branch — then
    # persist the symmetrized list every iteration joins against
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    pdf = collect_at_most(raw, UNION_FIND_MAX_EDGES)
    if pdf is not None:
        raw.unpersist()
        return _union_find_local(
            pdf, edges.sparkSession, edges.schema[src].dataType
        )
    sym = (
        raw.unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("component"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iterations):
            msgs = sym.join(
                labels, sym["u"] == labels["node"]
            ).select(F.col("v").alias("node"), "component")
            # eager=True: fully materialized here, so the plan handed to
            # the changed-count job (and to the next round) starts from
            # a leaf scan of checkpointed blocks, not the whole history
            new_labels = (
                labels.unionByName(msgs)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.component") != F.col("o.component"))
                .count()
            )
            # new_labels is already materialized, so dropping the prior
            # round's blocks (and eventually the edge caches) is safe
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "iterations; the graph diameter exceeds the bound — raise "
                "max_iterations or use star-contraction for long chains"
            )
        return labels
    finally:
        # the fixpoint (or the last round before an error) is
        # checkpointed, so the edge caches are no longer needed
        sym.unpersist()
        raw.unpersist()


def near_dup_groups(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    tier: str = "exact",
    hash_fn: str = "xx64",
) -> DataFrame:
    """Near-duplicate GROUPS: pair generation → connected components →
    (doc_id, component) with component = lowest doc_id in the group
    (the canonical representative to keep). The end-to-end "which docs
    do I drop" operator.

    ``tier="exact"`` uses the n-gram-Jaccard self-join — ground truth,
    but quadratic against hot shingles: at high duplicate density or
    100 TB use ``tier="lsh"`` (MinHash-LSH candidates, exact-verified,
    cost ∝ band collisions — measured: the exact tier spilled out of
    disk at 50 k docs ×10 copy density where the LSH tier finishes in
    seconds).

    Leaves nothing in the CacheManager: the LSH pair tier persists
    nothing, and the component loop releases its edge caches before
    returning. The LSH tier verifies candidates from per-document
    shingle-hash sets built by the signature aggregate (see
    :func:`minhash_lsh_pairs` for the shuffle trade-off); ``id_col``
    must be unique."""
    if tier == "exact":
        pairs = ngram_jaccard_pairs(df, n, threshold, id_col, text_col)
    elif tier == "lsh":
        pairs = minhash_lsh_pairs(
            df, n=n, threshold=threshold, id_col=id_col, text_col=text_col,
            hash_fn=hash_fn,
        )
    else:
        raise ValueError(f"tier must be exact|lsh, got {tier}")
    comps = connected_components(pairs)
    return comps.select(
        F.col("node").alias(id_col), F.col("component").alias("component")
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xx64",
) -> DataFrame:
    """SimHash fingerprint (tier 4): one hash per token, per-bit
    majority vote, reassembled with shiftleft/bitwise-or — one explode +
    one groupBy, all JVM-side.

    ``hash_fn="xx64"`` (default): 64-bit xxhash64 token hashes → 64-bit
    fingerprint, the 100 TB path. ``hash_fn="md5"``: 60-bit token hash
    (first 15 hex chars of md5, parsed base-16) → 60-bit fingerprint
    that any engine with md5() reproduces bit-for-bit — the
    cross-engine-verifiable mode (15 hex chars so the value fits a
    signed 64-bit int on every engine). Same vote/assembly either way.
    """
    if hash_fn == "xx64":
        nbits = 64
        hash_col = F.xxhash64("t")
    elif hash_fn == "md5":
        nbits = 60
        hash_col = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be xx64|md5, got {hash_fn}")
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("t"),
    ).select("id", hash_col.alias("h"))
    # the vote/assembly trees are generated as TWO SQL strings: built
    # node-by-node from Column objects they cost a py4j round-trip per
    # node (~1.7 s for 64 bits — 5× the actual execution); F.expr
    # ships each tree in one call and parses JVM-side
    votes_sql = "array(" + ", ".join(
        f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        for b in range(nbits)
    ) + ")"
    votes = tok.groupBy("id").agg(F.expr(votes_sql).alias("vs"))
    fp_sql = " | ".join(
        f"shiftleft(CAST((CASE WHEN vs[{b}] > 0 THEN 1 ELSE 0 END) AS BIGINT), {b})"
        for b in range(nbits)
    )
    return votes.select(F.col("id").alias("doc_id"), F.expr(fp_sql).alias("simhash"))


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    min_shared: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: training docs sharing at least
    ``min_shared`` distinct word n-grams with an evaluation corpus.

    Plan: shingle both sides (split once via tokenize), key shingles by
    md5 (hex — comparable across engines; swap in xxhash64 for 8-byte
    shuffle keys at scale, same plan shape), BROADCAST the eval side
    (benchmark suites are tiny next to training corpora), hash-join,
    per-doc distinct-overlap count. Output: (id_col,
    n_shared_shingles) for flagged docs.
    """
    tr = (
        tokenize(train, id_col, text_col)
        .select("id", F.explode(shingle_expr("__toks", n)).alias("sh"))
        .select("id", F.md5("sh").alias("k"))
        .distinct()
    )
    ev = (
        tokenize(eval_df, id_col, text_col)
        .select(F.explode(shingle_expr("__toks", n)).alias("sh"))
        .select(F.md5("sh").alias("k"))
        .distinct()
    )
    return (
        tr.join(F.broadcast(ev), "k")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .where(F.col("n_shared_shingles") >= min_shared)
        .select(F.col("id").alias(id_col), "n_shared_shingles")
    )


def duplicated_ngram_spans(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-span coverage — the per-token signal
    behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    a token position is *duplicated* when some word ``n``-gram covering
    it also occurs in ≥ ``min_docs`` distinct documents. Per doc:
    how many tokens sit inside such shared spans, and the fraction.

    Output: (doc_id, n_tokens, dup_tokens, dup_span_frac) for every
    document; docs shorter than ``n`` tokens have no spans (0 / 0.0).

    Scale shape: positional shingle explode → n-gram document frequency
    (map-side combine on 16-byte ``md5`` keys — never the raw n-gram
    string through the shuffle) → only duplicated shingles (bounded by
    true duplication volume, a tiny fraction of a deduped corpus) join
    back and re-explode their ``n`` covered positions for the distinct
    count. The suffix-array pass of the paper is replaced by the
    fixed-``n`` approximation, which is one explode + two shuffles —
    no global sort, no suffix automaton.
    """
    from sparkobs.operators.text import tokens_nonempty

    # shared legs with the removal half (one definition of shingle
    # hashing / windowing / min_docs — see _tokens_and_covered_positions);
    # the covered frame is already position-distinct, so a plain count
    # equals the old count_distinct
    toks, covered_pos = _tokens_and_covered_positions(
        df, n, min_docs, id_col, text_col
    )
    covered = covered_pos.groupBy("id").agg(
        F.count(F.lit(1)).alias("dup_tokens")
    )
    base = toks.select("id", F.size("t").alias("n_tokens"))
    return (
        base.join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 4),
            ).otherwise(F.lit(0.0)).alias("dup_span_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-run incremental dedup: portable Bloom filter
# ---------------------------------------------------------------------------
#
# The continuous-ingest shape: yesterday's corpus is 100 TB and today's
# delta must be checked against it WITHOUT joining 100 TB. A Bloom
# filter over the historical content hashes is a few GB of bitmap that
# broadcasts to every executor; probes are pure expression work. False
# positives (at the configured rate) go to an exact re-check against
# the (partition-pruned) historical table; false negatives are
# impossible, so nothing is ever wrongly dropped as "seen".
#
# Hashing is the repo's portable md5 convention (Kirsch-Mitzenmacher
# ``pos_j = a + j·b`` from the two 15-hex-char halves of one digest),
# so the SAME bitmap — bit for bit — can be built and probed by any
# engine with md5() and 64-bit integers, which is what lets the DuckDB
# oracle certify the whole pipeline by value (halves mod
# ``_MD5_HALF_MOD``, as in the MinHash md5 mode).


def _bloom_words(
    df: DataFrame, key_col: str, id_cols: list[str], n_hashes: int, m_bits: int
) -> DataFrame:
    """One row per (row, hash function): ``id_cols`` + (widx, mask).
    32-bit words: ``1 << 31`` fits any signed integer type,
    sidestepping engine-specific 64-bit shift overflow rules. The
    shifts are SQL expressions (pyspark's ``shiftleft`` only takes a
    literal shift amount)."""
    a = F.conv(F.substring(F.md5(key_col), 1, 15), 16, 10).cast("long") % _MD5_HALF_MOD
    b = F.conv(F.substring(F.md5(key_col), 16, 15), 16, 10).cast("long") % _MD5_HALF_MOD
    pos = F.explode(
        F.array(*[(a + F.lit(j) * b) % m_bits for j in range(n_hashes)])
    ).alias("__pos")
    return df.select(*id_cols, pos).select(
        *id_cols,
        F.expr("int(__pos >> 5)").alias("widx"),
        F.expr("shiftleft(1L, int(__pos & 31))").alias("mask"),
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_words: int = 256,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom bitmap over ``key_col`` as a (widx, word_bits) DataFrame
    of at most ``m_words`` rows (32-bit words packed in longs).

    One narrow k-way explode per key → one hash agg (``bit_or`` keyed
    by word index — m_words partials per input partition regardless of
    corpus size, so the shuffle is O(m_words), not O(rows)). The
    result is small by construction and broadcasts to probes. Size m
    for the historical key count: FP rate ≈ (1 − e^(−k·n/m))^k.
    """
    return (
        _bloom_words(df, key_col, [], n_hashes, m_words * 32)
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("word_bits"))
        # parameters ride along so a probe with mismatched m/k fails
        # loudly instead of silently false-negating (cf. cms_estimate)
        .withColumn("__m_words", F.lit(m_words))
        .withColumn("__n_hashes", F.lit(n_hashes))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    m_words: int = 256,
    n_hashes: int = 4,
) -> DataFrame:
    """Probe every row's ``key_col`` against a :func:`bloom_build`
    bitmap: ``maybe_seen`` = all k bits set (false positives possible
    at the configured rate, false negatives impossible).

    The bitmap side is explicitly broadcast — probing never shuffles
    the probe corpus; a missing word row (no historical key touched
    that word) reads as all-zero via the left join + coalesce.
    ``m_words``/``n_hashes`` must match the build; a bitmap carrying
    its build parameters (any :func:`bloom_build` output) is checked
    and a mismatch raises — probing with the wrong geometry would
    silently produce false NEGATIVES, the one error class a Bloom
    filter must never make.
    """
    if "__m_words" in bloom.columns:
        meta = bloom.select("__m_words", "__n_hashes").limit(1).collect()
        if meta and (
            meta[0]["__m_words"] != m_words or meta[0]["__n_hashes"] != n_hashes
        ):
            raise ValueError(
                f"bloom bitmap was built with m_words={meta[0]['__m_words']}, "
                f"n_hashes={meta[0]['__n_hashes']} but probe uses "
                f"m_words={m_words}, n_hashes={n_hashes} — mismatched "
                "geometry produces false negatives"
            )
        bloom = bloom.drop("__m_words", "__n_hashes")
    probes = _bloom_words(
        df.select(F.col(id_col).alias("id"), F.col(key_col)),
        key_col,
        ["id", key_col],
        n_hashes,
        m_words * 32,
    )
    hit = (
        F.coalesce(F.col("word_bits"), F.lit(0)).bitwiseAND(F.col("mask"))
        == F.col("mask")
    ).cast("int")
    # Per-(id, key) first: if id_col is not unique, summing hits by id
    # alone mixes partial hits from different keys (two keys each
    # setting 2 of 4 bits would spuriously read maybe_seen). min(hit)
    # per (id, key) is 1 iff every hash bit is set, and is immune to
    # duplicated probe rows; the second grouping collapses a repeated
    # id to "any of its keys maybe seen" — one output row per id.
    return (
        probes.join(F.broadcast(bloom), "widx", "left")
        .select("id", F.col(key_col).alias("__key"), hit.alias("hit"))
        .groupBy("id", "__key")
        .agg((F.min("hit") == 1).alias("key_seen"))
        .groupBy("id")
        .agg(F.max("key_seen").alias("maybe_seen"))
        .select(F.col("id").alias(id_col), "maybe_seen")
    )


def bloom_member_expr(
    bloom: DataFrame,
    key_col: str,
    m_words: int = 256,
    n_hashes: int = 4,
) -> Column:
    """Boolean Column: "``key_col`` is probably in the bloomed key
    set" — the bitmap is collected (≤ ``m_words`` rows, tiny by
    construction) and inlined as a LITERAL array, so the membership
    test is a pure JVM expression evaluated inside the fact table's
    scan stage: zero shuffle, zero join, survives whole-stage codegen
    and rides predicate order with the other filters. This — not
    :func:`bloom_probe`'s join (which exists for per-row audit
    output) — is the 100 TB shape for pruning a huge fact scan by a
    dimension key set before any join is attempted.

    False positives pass (remove them with the exact join that
    follows); false negatives are impossible, so no matching row is
    ever lost. Hashing is the same portable md5 double-hash as
    :func:`bloom_build`, so any engine can reproduce the decision
    bit for bit.
    """
    # ONE collect: the geometry check reads the metadata columns off
    # the collected rows instead of running the bitmap-build job a
    # second time via a separate limit(1) probe
    rows = bloom.collect()
    if rows and "__m_words" in rows[0].__fields__:
        if rows[0]["__m_words"] != m_words or rows[0]["__n_hashes"] != n_hashes:
            raise ValueError(
                f"bloom bitmap was built with m_words={rows[0]['__m_words']}, "
                f"n_hashes={rows[0]['__n_hashes']} but the membership "
                f"expression uses m_words={m_words}, n_hashes={n_hashes}"
            )
    words = [0] * m_words
    for r in rows:
        if not 0 <= r["widx"] < m_words:
            # a foreign bitmap (no __m_words metadata) built with a
            # LARGER geometry shows up here as an out-of-range word
            # index — raise the same descriptive error as the metadata
            # path instead of an opaque IndexError. (A SMALLER foreign
            # bitmap is undetectable from sparse word rows alone:
            # metadata-less bitmaps MUST share this expression's
            # geometry or membership tests silently false-negate.)
            raise ValueError(
                f"bloom bitmap word index {r['widx']} is outside "
                f"m_words={m_words} — the bitmap was built with a "
                "different geometry; mismatched geometry produces "
                "false negatives"
            )
        words[r["widx"]] = r["word_bits"]
    # NOT F.lit(words): a python-list literal ships element-by-element
    # through py4j (~3.5 s measured for 8192 longs, dominating the
    # whole operator). A from_json over one string constant-folds to
    # the identical array Literal before execution at ~0 cost.
    import json as _json

    arr = F.from_json(F.lit(_json.dumps(words)), "array<bigint>")
    pow2 = F.lit([1 << i for i in range(32)])
    m_bits = m_words * 32
    key = F.col(key_col).cast("string")
    a = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long") % _MD5_HALF_MOD
    b = F.conv(F.substring(F.md5(key), 16, 15), 16, 10).cast("long") % _MD5_HALF_MOD
    cond = None
    for j in range(n_hashes):
        p = (a + F.lit(j) * b) % m_bits
        word = F.element_at(arr, F.shiftright(p, 5).cast("int") + 1)
        bit = F.element_at(pow2, p.bitwiseAND(F.lit(31)).cast("int") + 1)
        t = word.bitwiseAND(bit) == bit
        cond = t if cond is None else cond & t
    return cond


def keep_best_canonical(
    df: DataFrame,
    groups: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-survivor selection — the step AFTER near-dup
    clustering in a curation pipeline: within each duplicate group
    keep the highest-``score_col`` document (ties broken by lowest
    id, so the choice is deterministic); documents in no group are
    their own canonical. Output: (id, component, is_canonical) for
    EVERY input document — filter ``is_canonical`` for the deduped
    corpus, or keep the full frame as the curation audit trail.

    ``groups`` is any (id, component) assignment, e.g.
    :func:`near_dup_groups`. Cost: one broadcast-or-shuffle join to
    attach scores, one window shuffle partitioned by component (group
    count « corpus count), one anti join for singletons — no step
    touches more than the corpus once.
    """
    scored = groups.join(df.select(id_col, score_col), id_col)
    w = W.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    grouped = (
        scored.withColumn("__rn", F.row_number().over(w))
        .select(id_col, "component", (F.col("__rn") == 1).alias("is_canonical"))
    )
    singles = (
        df.join(groups.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col),
            F.col(id_col).alias("component"),
            F.lit(True).alias("is_canonical"),
        )
    )
    return grouped.unionByName(singles)


def _tokens_and_covered_positions(
    df: DataFrame, n: int, min_docs: int, id_col: str, text_col: str
):
    """Shared legs of the exact-substring dedup pair
    (:func:`duplicated_ngram_spans` measures, :func:`remove_duplicated_spans`
    rewrites): tokenized docs and the DISTINCT (id, cp) set of 1-based
    token positions covered by an ``n``-gram occurring in ≥
    ``min_docs`` documents. One definition so the two halves of the
    same paper's algorithm can never diverge on shingle hashing,
    windowing, or min_docs semantics."""
    from sparkobs.operators.text import tokens_nonempty

    toks = df.select(
        F.col(id_col).alias("id"), tokens_nonempty(text_col).alias("t")
    )
    occ = toks.where(F.size("t") >= n).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - n + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, n))),
            )
        ).alias("pos0", "k"),
    )
    dup = (
        occ.groupBy("k")
        .agg(F.count_distinct("id").alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("k")
    )
    covered = (
        occ.join(dup, "k")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos0") + 1, F.col("pos0") + n)
            ).alias("cp"),
        )
        .distinct()
    )
    return toks, covered


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup, the REMOVAL half (Lee et al. 2022,
    arXiv:2107.06499 §4.2 — :func:`duplicated_ngram_spans` is the
    measurement half): rewrite every document with the tokens cut
    whose position is covered by a word ``n``-gram occurring in ≥
    ``min_docs`` distinct documents. The paper shows models memorize
    exactly these cross-document repeated spans (licenses, navbars,
    quoted boilerplate); dropping the spans instead of whole docs
    keeps the surrounding novel text.

    Scale shape: the shingle/df/coverage legs are the measurement
    op's (explode → md5-keyed DF agg with map-side combine → only
    genuinely duplicated shingles re-explode their n positions); the
    rewrite adds one positional anti join and one per-doc ordered
    reassembly (collect positions+tokens, array_sort, join — the
    drop_boilerplate_lines pattern, bounded by document length).
    Reassembly normalizes inter-token whitespace to single spaces
    (tokens are the unit of the operation on both engines).

    Output: (doc_id, n_tokens, kept_tokens, removed_tokens,
    clean_text); a fully-covered doc survives with empty text, not
    vanishes."""
    toks, covered = _tokens_and_covered_positions(
        df, n, min_docs, id_col, text_col
    )
    pos = toks.select(
        "id", F.posexplode("t").alias("__p0", "tok")
    ).select("id", (F.col("__p0") + 1).alias("p"), "tok")
    # rename the covered frame's columns before the anti join: pos and
    # covered share lineage (both descend from toks), so id == id would
    # be the "trivially true equals predicate" Spark warns about —
    # correct today only via dataset-id disambiguation, a silent
    # cross-document over-delete if that resolution ever degrades
    cov = covered.select(
        F.col("id").alias("__cid"), F.col("cp").alias("__ccp")
    )
    kept = pos.join(
        cov,
        (F.col("id") == F.col("__cid")) & (F.col("p") == F.col("__ccp")),
        "left_anti",
    )
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = toks.select("id", F.size("t").alias("n_tokens"))
    return (
        base.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("kept_tokens"), F.lit(0))
            .cast("long")
            .alias("kept_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0)))
            .cast("long")
            .alias("removed_tokens"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
