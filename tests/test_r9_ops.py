"""Hand-value unit tests for the round-9 sparse-cosine production-tier
fixture (the r8 verdict's one `weak`): the queue's oracle tests pin
cross-engine parity of both power-law tiers; these pin the corpus
geometry, the prune's selectivity (head dims OUT, group dims IN), and
the tier-equivalence contract (pruned ≡ exact row for row) on inputs
small enough to reason about."""

import pytest
from pyspark.sql import functions as F

from sparkobs.operators.similarity import (
    hashed_tf_vectors,
    sparse_cosine_pairs,
    synth_powerlaw_corpus,
)

N_DOCS = 60  # 12 groups of 5
DIM = 65536
CAP = 32
THRESH = 0.5


@pytest.fixture(scope="module")
def corpus(spark):
    ids = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    return synth_powerlaw_corpus(ids)


def test_powerlaw_corpus_geometry(corpus):
    """Every doc carries 2 head + 8 group + 6 unique = 16 distinct
    tokens; group tokens are shared by exactly the 5 docs of the same
    id-block; head tokens by all docs; unique tokens by one."""
    toks = corpus.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.count_distinct("tok").alias("nd")
    )
    assert per_doc.where(
        (F.col("n") != 16) | (F.col("nd") != 16)
    ).count() == 0
    df_per_tok = toks.groupBy("tok").agg(F.count("*").alias("df"))
    hot = {r["tok"]: r["df"] for r in df_per_tok.where(
        F.col("tok").startswith("hot")).collect()}
    assert hot == {"hot0": N_DOCS, "hot1": N_DOCS}
    grp = df_per_tok.where(F.col("tok").startswith("g"))
    assert grp.where(F.col("df") != 5).count() == 0
    uniq = df_per_tok.where(F.col("tok").startswith("u"))
    assert uniq.where(F.col("df") != 1).count() == 0


def test_absolute_cap_prunes_head_dims_only(spark, corpus):
    """The df table splits exactly as designed: the dims carrying the
    two head tokens have df = N (pruned by the absolute cap); every
    other dim sits at df ≤ cap — so the prune removes the quadratic
    posting lists and nothing else."""
    vecs = hashed_tf_vectors(corpus, dim=DIM)
    dfreq = vecs.groupBy("dim_idx").agg(F.count("*").alias("df"))
    hot = dfreq.where(F.col("df") > CAP).collect()
    # 2 head tokens -> (at most) 2 hot dims; each df == N_DOCS exactly
    # (no other token can push a dim past the cap at this scale)
    assert len(hot) == 2 and all(r["df"] == N_DOCS for r in hot)
    assert dfreq.where(
        (F.col("df") > 5 + 3) & (F.col("df") <= CAP)
    ).count() == 0  # nothing between group-df(+collision slack) and cap


def test_near_pairs_width_derivation_catches_wide_hash_pair(spark):
    """r8 verdict item 6: image_ahash defaults to 63-bit hashes but the
    banding tier defaulted to bits=32 — a silent selectivity loss for
    wide callers. With width now derived from the input, a planted
    63-pixel near-dup pair (one pixel bumped) surfaces through the
    DEFAULT banding, and the derived width is provably the wide one:
    two far 63-bit hashes that agree on their low 32 bits must NOT
    become a pair (under the old 32-bit default their four bands all
    collided and only the hamming verify separated them — here they
    never meet)."""
    from sparkobs.operators.multimodal import (
        image_ahash,
        image_ahash_near_pairs,
        perturb_media,
    )

    # 63x1 PGM: pixels 0..62, then its one-pixel perturbation
    raster = bytes(range(63))
    pgm = b"P5\n63 1\n255\n" + raster
    media = spark.createDataFrame([(1, pgm)], "id long, content binary")
    imgs = media.unionByName(
        perturb_media(media, delta=40).select("id", "content")
    )
    hashes = image_ahash(imgs).where(F.col("ahash").isNotNull())
    assert {r["n_pixels"] for r in hashes.collect()} == {63}
    got = image_ahash_near_pairs(hashes).collect()  # derives bits=63
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 1_000_000_001)]
    # width derivation without n_pixels falls back to set-bit length:
    # a hamming-3 pair differing ONLY in bits 60-62 (above every band
    # of the derived 63-bit split) still surfaces — uncovered-bit
    # diffs leave all bands agreeing, the recall-safe direction
    wide = spark.createDataFrame(
        [(1, (0b101 << 60) | 0xFFFF), (2, (0b010 << 60) | 0xFFFF)],
        "id long, ahash long",
    )
    assert [
        (r["id_a"], r["id_b"], r["hamming"])
        for r in image_ahash_near_pairs(wide).collect()
    ] == [(1, 2, 3)]
    # and a genuinely far pair (hamming 19) stays out
    far = spark.createDataFrame(
        [(1, (0b101 << 60) | 0xFFFF), (2, 0b010 << 60)],
        "id long, ahash long",
    )
    assert image_ahash_near_pairs(far).collect() == []


def test_pruned_tier_never_false_positives_on_random_corpora(spark):
    """General contract beyond the fixture (any corpus, any cap): the
    pruned tier's output is a SUBSET of the exact tier's with
    identical cosines pair for pair — candidates can only be lost to
    the cap (hot-dim-exclusive pairs), never invented, and the exact
    rescore makes every emitted cosine the true one. Random corpora
    with colliding dims (dim=16 forces heavy collisions) across two
    caps."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choices(vocab, k=rng.randint(3, 12))))
            for i in range(80)
        ],
        "doc_id long, text string",
    )
    vecs = hashed_tf_vectors(docs, dim=16).localCheckpoint()
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in sparse_cosine_pairs(vecs, threshold=0.3).collect()
    }
    for cap in (5, 20, 10_000):
        pruned = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in sparse_cosine_pairs(
                vecs, threshold=0.3, max_df=cap
            ).collect()
        }
        assert set(pruned) <= set(exact), f"cap={cap} invented pairs"
        for k, v in pruned.items():
            assert v == exact[k], f"cap={cap} cosine drift on {k}"
    # an effectively-unbounded cap loses nothing
    assert pruned == exact


def test_pruned_tier_plan_broadcasts_the_dim_frequency_table(spark, corpus):
    """The 100 TB shape promise in the operator docstring: the rare-dim
    table (≤ dim rows) reaches the candidate join as a BROADCAST, and
    neither tier plans a cartesian product."""
    from sparkobs.plans import physical_plan

    vecs = hashed_tf_vectors(corpus, dim=DIM)
    plan = physical_plan(sparse_cosine_pairs(vecs, threshold=THRESH, max_df=CAP))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    exact_plan = physical_plan(sparse_cosine_pairs(vecs, threshold=THRESH))
    assert "CartesianProduct" not in exact_plan


def test_monitor_suite_percentile_slo_rows(spark):
    """r8 verdict stretch: percentile SLO contracts fold into
    monitor_suite as a check type. Hand table of values 1..100: the
    under-full KMV sketch holds every row, so p95 is Spark's exact
    percentile (95.05) — one passing contract (ceiling 96), one
    failing (ceiling 90) — next to the ordinary freshness/contract
    rows, all in the same 5-column verdict frame; a percentile-only
    table needs neither ts_col nor checks."""
    from sparkobs.monitors import monitor_suite

    df = spark.range(1, 101).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v",
        "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP_NTZ '2024-01-01 00:00:00') AS ts",
    )
    out = monitor_suite(
        [("t", df, "ts", [("not_null", "v")])],
        as_of="2024-01-10 00:00:00",
        percentiles={"t": [("id", "v", 0.95, 96.0), ("id", "v", 0.95, 90.0)]},
    )
    rows = out.collect()
    assert out.columns == [
        "table_name", "check_type", "column", "metric_value", "passed",
    ]
    by_type = {}
    for r in rows:
        by_type.setdefault(r["check_type"], []).append(r)
    assert set(by_type) == {"freshness", "not_null", "percentile_slo_p0.95"}
    slo = by_type["percentile_slo_p0.95"]
    assert [(r["column"], r["metric_value"], r["passed"]) for r in slo] == [
        ("v", 95.05, True),
        ("v", 95.05, False),
    ]
    # percentile-only config: no ts_col, no checks — still valid
    only = monitor_suite(
        [("t", df, None, [])],
        as_of="2024-01-10 00:00:00",
        percentiles={"t": [("id", "v", 0.5, 51.0)]},
    ).collect()
    assert len(only) == 1 and only[0]["passed"] is True


def test_arrival_ordered_stage_handles_empty_events(spark, tmp_path):
    """r8 ADVICE: an empty events table used to TypeError on the
    min/max span arithmetic. The stage must publish (atomically) a
    schema-bearing directory the file stream can drain as zero rows,
    and re-entry must be idempotent."""
    import os

    from sparkobs.queries import _stage_events_arrival_ordered
    from sparkobs.streaming.monitors import EVENTS_SCHEMA

    sf = os.path.join(str(tmp_path), "sf_empty")
    os.makedirs(sf)
    spark.createDataFrame([], EVENTS_SCHEMA).write.parquet(
        os.path.join(sf, "events.parquet")
    )
    stage = _stage_events_arrival_ordered(spark, sf)
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))
    assert spark.read.schema(EVENTS_SCHEMA).parquet(stage).count() == 0
    assert _stage_events_arrival_ordered(spark, sf) == stage
    # no build/aside leftovers next to the published stage
    import glob as _glob

    leftovers = [
        p
        for p in _glob.glob(stage + ".*")
        if ".tmp" in p or ".aside" in p
    ]
    assert leftovers == [], leftovers


def test_pruned_tier_equals_exact_tier_row_for_row(corpus):
    """The tier-equivalence contract the queue oracle relies on: every
    ≥-threshold pair shares a group dim (df ≤ cap), so the pruned
    output is IDENTICAL to the exact tier's — same pairs, same
    cosines — while skipping the head-dim join entirely."""
    vecs = hashed_tf_vectors(corpus, dim=DIM)
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in sparse_cosine_pairs(vecs, threshold=THRESH).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in sparse_cosine_pairs(
            vecs, threshold=THRESH, max_df=CAP
        ).collect()
    }
    assert pruned == exact
    # the output is exactly the within-group pair set: C(5,2) per group
    assert len(exact) == 12 * 10
    assert all(a // 5 == b // 5 for a, b in exact)
    # all-distinct token counts make within-group cosine the exact
    # rational 10/16 wherever no hash collision perturbs a vector
    assert abs(sorted(exact.values())[len(exact) // 2] - 0.625) < 0.02
