"""Plan-shape regression pins for the r13 redundant-scan audit.

A registry-wide audit (r13) counted same-table `Scan parquet` nodes in
every query's FINAL plan and found 13 operators whose plans re-ran a
small derived frame's full source-scanning derivation once per
downstream reference — Catalyst reuses no subtree statically, and the
final adaptive plans were verified to carry ZERO ReusedExchange for
these shapes, so every counted scan executes. (Locally invisible: the
sf0.1 tables are ~2 MB. At 100 TB each redundant scan is a full table
pass.) The fixes checkpoint the small frame; these tests pin the
resulting scan ceilings so a refactor cannot silently regrow the
redundancy.

Documented exceptions, NOT pinned low (each with a reason at the
operator): spearman (engineered range-exchange reuse),
ngram_jaccard_pairs_prefix (recorded measured negative for
materialization), hll_distinct (by-design per-column certification
legs).
"""

import pytest

import plan_helpers as P
from sparkobs.queries import SPARK_QUERIES

SF = "/root/testdata/sf0.001"

# name -> max Scan-parquet nodes allowed in the FINAL plan. The
# budget is the post-fix count (source scans now happen inside the
# eager checkpoint jobs, before the final plan) plus any intended
# exact-certification legs that still read the source lazily.
SCAN_BUDGETS = {
    "markov_stationary_events": 0,   # was 58 (per-iteration re-derivation)
    "chi_square_events_type_hour": 0,        # was 4
    "mutual_info_events_type_hour": 0,       # was 8
    "cramers_v_events_type_hour": 0,         # was 5
    "kmeans_ari_embeddings": 0,              # was 8
    "rfm_scores_orders": 0,                  # was 16
    "merge_upsert_orders": 1,                # was 7 (base side stays lazy)
    "assoc_rules_event_types": 0,            # was 5
    "bigram_pmi_documents": 2,               # was 5 (bi + n_bi legs)
    "sparse_cosine_powerlaw_pruned": 0,      # was 12
    "hll_intersection_users_events": 2,      # was 6 (exact twin legs)
    "theta_intersection_cells_events": 2,    # was 12 (exact legs)
    "theta_intersection_grouped_events": 2,  # was 8 (exact legs)
    # batch 2 (same audit, small-frame double-references)
    "ks_drift_events_halves": 0,             # was 4
    "emd_drift_events_halves": 0,            # was 4
    "vocab_jsd_documents": 0,                # was 4
    "km_survival_events": 0,                 # was 4
    "hll_sliding_users_events": 1,           # was 4 (exact twin leg)
    "related_suppliers_jaccard": 0,          # was 4
    "vocab_segments_documents": 0,           # was 4
    "line_dedup_documents": 2,               # was 4 (single-pass rewrite)
    "bigram_ppl_documents": 1,               # was 4 (score pass stays lazy)
    "image_near_dup_media": 0,               # was 4
}


@pytest.mark.parametrize("name", sorted(SCAN_BUDGETS))
def test_final_plan_scan_budget(spark, name):
    df = SPARK_QUERIES[name](spark, SF)
    n = len(P.scans(df))
    assert n <= SCAN_BUDGETS[name], (
        f"{name}: {n} parquet scans in the final plan, budget "
        f"{SCAN_BUDGETS[name]} — a multi-referenced derived frame has "
        f"lost its checkpoint (r13 audit: Catalyst reuses no subtree "
        f"statically, so every extra scan is a full source pass at "
        f"scale)"
    )


def test_persisted_lineage_scans_excluded_but_visible(spark):
    """The two corpus-scale pins (`sparse_cosine_pairs` vecs,
    `merge_upsert` updates — r13 ADVICE) ride a DISK_ONLY persist so
    executor loss recomputes from lineage instead of stranding the
    job. The recoverable lineage prints inside the InMemoryRelation:
    scans() excludes it by default (it executes at most once, the
    moral equivalent of a checkpoint job's scans, so the budgets
    above keep their meaning) but include_cached=True must still see
    it — losing sight of it entirely would hide a regression where a
    pinned derivation grows redundant internal scans."""
    df = SPARK_QUERIES["merge_upsert_orders"](spark, SF)
    live = len(P.scans(df))
    everything = len(P.scans(df, include_cached=True))
    assert live == 1  # the lazy base side only
    assert everything > live  # cached lineage is visible on request


# --- r14: per-batch plans of the foreachBatch streaming twins -------
#
# The r13 audit covered the batch registry; the foreachBatch twins
# build PER-BATCH partials whose derivations were never scan-counted
# (r13 verdict item 7). Each twin's derivation is now a named
# module-level function (called verbatim by the foreachBatch closure),
# so the per-batch plan can be pinned on a static micro-batch
# stand-in: the budget is scans of the batch input + any static-side
# reads, per micro-batch. Headline finding of this audit: the two
# theta twins scanned every micro-batch ONCE PER SIDE (a/b sketch
# legs) — at 100 TB streaming that is 2x ingest I/O; both now ride a
# side-tagged single-scan grouped sketch (`_stheta_partial`,
# `_stg_partial`).
EVENTS_BATCH_PARTIALS = {
    "_scms_partial": 1,
    "_skmv_partial": 1,
    "_shll_partial": 1,
    "_stheta_partial": 1,  # was 2 (per-side sketch legs)
    "_stg_partial": 1,     # was 2 (per-side sketch legs)
}


@pytest.mark.parametrize("fn_name", sorted(EVENTS_BATCH_PARTIALS))
def test_streaming_per_batch_scan_budget_events(spark, fn_name):
    import sparkobs.queries as Q
    from sparkobs.io import load_table

    batch = load_table(spark, SF, "events")
    df = getattr(Q, fn_name)(batch)
    n = len(P.scans(df))
    assert n <= EVENTS_BATCH_PARTIALS[fn_name], (
        f"{fn_name}: {n} scans of the micro-batch per trigger, budget "
        f"{EVENTS_BATCH_PARTIALS[fn_name]} — a per-batch partial has "
        f"regrown a redundant batch pass"
    )


def test_streaming_per_batch_scan_budget_dedup_twins(spark):
    """The two dedup twins join per-batch candidates against a static
    or on-disk index: the batch side must contribute exactly ONE scan
    per trigger, the persisted index side ZERO live scans (its
    recoverable lineage re-scans only on partition loss)."""
    from pyspark.sql import functions as F

    import sparkobs.queries as Q
    from sparkobs.io import load_table
    from sparkobs.operators.dedup import minhash_banded

    docs = load_table(spark, SF, "documents")
    index = (
        minhash_banded(docs.where(F.col("doc_id") % 2 == 0), hash_fn="md5")
        .withColumnRenamed("id", "index_id")
        .persist()
    )
    index.count()
    try:
        cands = Q._snd_batch_cands(docs, index)
        assert len(P.scans(cands)) <= 1  # the batch signature pipeline
    finally:
        index.unpersist()

    banded = minhash_banded(docs, hash_fn="md5").persist()
    banded.count()
    try:
        disk_index = spark.createDataFrame(
            [], "id bigint, band int, bucket bigint"
        )
        cands = Q._sibi_cands(banded, disk_index)
        # the production index read adds 1 parquet scan per trigger;
        # the empty-frame stand-in has none, so the pin is: the
        # persisted band table contributes ZERO live scans
        assert len(P.scans(cands)) == 0
    finally:
        banded.unpersist()


def test_theta_side_filters_push_down(spark):
    """r14 review finding: routing the BATCH theta side-split through
    the CASE-tagged frame silently dropped parquet filter pushdown
    (side=='a' over a CASE column is not pushable) — every side leg
    read every event type. Pin both shapes: the batch sides push
    their event_type equality to the scan; the streaming tagged frame
    pushes the In(click, purchase) prefilter."""
    import sparkobs.queries as Q
    from sparkobs.io import load_table

    ev = load_table(spark, SF, "events")
    a, b = Q._theta_cell_sides(ev)
    for leg, val in ((a, "click"), (b, "purchase")):
        pushed = [s["pushed"] for s in P.scans(leg)]
        assert any("event_type" in p and val in p for p in pushed), (
            f"side leg lost its pushed event_type={val} filter: {pushed}"
        )
    ga, gb = Q._tig_sides(ev)
    assert any("click" in s["pushed"] for s in P.scans(ga))
    tagged = Q._theta_cell_tagged(ev)
    pushed = [s["pushed"] for s in P.scans(tagged)]
    assert any(
        "In(event_type" in p or ("click" in p and "purchase" in p)
        for p in pushed
    ), f"tagged frame lost its pushed In prefilter: {pushed}"
    gt = Q._tig_tagged(ev)
    assert any("event_type" in s["pushed"] for s in P.scans(gt))
