"""Round-4 wave-2 corpus operators: boilerplate line dedup, bigram-LM
scoring, Bloom-filter incremental dedup, TF-IDF, mixture upsampling,
inverted index / search."""

import math

from pyspark.sql import functions as F

import sparkobs.queries as Q
from sparkobs.operators.dedup import bloom_build, bloom_probe
from sparkobs.operators.lm import bigram_perplexity
from sparkobs.operators.sampling import upsample_mixture
from sparkobs.operators.text import (
    drop_boilerplate_lines,
    search_all_terms,
    tfidf_top_terms,
)
from plan_helpers import assert_broadcast_join, assert_no_cartesian, physical_plan

SF = "/root/testdata/sf0.001"


def test_boilerplate_lines_dropped_and_order_kept(spark):
    df = spark.createDataFrame(
        [
            (1, "keep me\ncookie banner\nunique tail"),
            (2, "cookie banner\nanother keeper"),
            (3, "cookie banner"),
            (4, "cookie banner\ncookie banner"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in drop_boilerplate_lines(df, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == "keep me\nunique tail"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == "another keeper"
    # all-boilerplate docs survive with empty text, not vanish
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_lines"] == 2


def test_boilerplate_threshold_counts_docs_not_occurrences(spark):
    # 3 occurrences inside ONE doc must not cross a min_docs=2 bar
    df = spark.createDataFrame(
        [(1, "x\nx\nx"), (2, "y")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in drop_boilerplate_lines(df, min_docs=2).collect()}
    assert out[1]["clean_text"] == "x\nx\nx"


def test_bigram_perplexity_matches_hand_computation(spark):
    # corpus: "a b a b" — bigrams ab, ba, ab; contexts a->2, b->1;
    # vocab (contexts) = 2, alpha = 0.5
    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    row = bigram_perplexity(df).collect()[0]
    p_ab = (2 + 0.5) / (2 + 0.5 * 2)
    p_ba = (1 + 0.5) / (1 + 0.5 * 2)
    nll = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert row["n_bigrams"] == 3
    assert row["avg_nll"] == round(nll, 4)
    assert row["ppl"] == round(math.exp(nll), 4)


def test_bigram_perplexity_skips_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "only"), (2, ""), (3, "two tokens")], "doc_id long, text string"
    )
    ids = {r["doc_id"] for r in bigram_perplexity(df).collect()}
    assert ids == {3}


def test_bloom_no_false_negatives(spark):
    df = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(200)], "doc_id long, text string"
    )
    seen = df.where(F.col("doc_id") % 2 == 0)
    bloom = bloom_build(seen, "text")
    out = {r["doc_id"]: r["maybe_seen"] for r in bloom_probe(df, bloom, "text").collect()}
    for i in range(0, 200, 2):
        assert out[i], f"false negative for seen key {i}"
    # at 200 keys in 8192 bits the FP rate is ~1e-4: odd keys are new
    fps = sum(1 for i in range(1, 200, 2) if out[i])
    assert fps <= 2


def test_bloom_probe_non_unique_id_no_spurious_hit(spark):
    """ADVICE r4: two DIFFERENT keys sharing an id must not pool their
    partial bit hits into a spurious maybe_seen=true. With a tiny
    bitmap the per-key partial hits are near-guaranteed; the (id, key)
    grouping keeps them separate, and a duplicated (id, key) probe row
    must not break the all-bits test either."""
    seen = spark.createDataFrame([(f"seen-{i}",) for i in range(4)], "text string")
    bloom = bloom_build(seen, "text", m_words=64)
    # id 1: two distinct unseen keys (partial hits may overlap bits);
    # id 2: one seen key probed twice (duplicate rows); id 3: unseen
    probe = spark.createDataFrame(
        [(1, "novel-a"), (1, "novel-b"), (2, "seen-0"), (2, "seen-0"), (3, "novel-c")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["maybe_seen"]
        for r in bloom_probe(probe, bloom, "text", m_words=64).collect()
    }
    assert out[2] is True  # seen key stays seen even duplicated
    # unseen keys: with 4 keys in 2048 bits FP odds are ~1e-8 per key
    assert out[1] is False and out[3] is False
    assert len(out) == 3  # one row per id


def test_bloom_member_expr_foreign_larger_bitmap_raises(spark):
    """ADVICE r4: a metadata-less bitmap built with LARGER geometry
    must raise the descriptive geometry ValueError, not IndexError."""
    import pytest

    from sparkobs.operators.dedup import bloom_member_expr

    keys = spark.createDataFrame([(f"k-{i}",) for i in range(200)], "__k string")
    foreign = bloom_build(keys, "__k", m_words=256).drop("__m_words", "__n_hashes")
    with pytest.raises(ValueError, match="geometry"):
        bloom_member_expr(foreign, "__k", m_words=8)


def test_bloom_probe_broadcasts_bitmap(spark):
    df = Q.SPARK_QUERIES["bloom_probe_documents"](spark, SF)
    assert_broadcast_join(df)
    assert "BatchEvalPython" not in physical_plan(df)


def test_bloom_semi_join_matches_exact_semi_join(spark):
    """The Bloom-pruned semi join of ``bloom_semi_join_lineitem_orders``
    (member filter on the fact scan, then the exact semi join) keeps
    exactly the plain semi join's rows: Bloom never drops a match."""
    from sparkobs.operators.dedup import bloom_member_expr

    fact = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    dim = spark.range(0, 1000, 9).select(F.col("id").alias("dk"))
    keys = dim.select(F.col("dk").cast("string").alias("__k")).distinct()
    bl = bloom_build(keys, "__k", m_words=64)
    pruned = fact.where(bloom_member_expr(bl, "k", m_words=64))
    got = sorted(
        r["k"]
        for r in pruned.join(
            keys, pruned["k"].cast("string") == keys["__k"], "left_semi"
        ).collect()
    )
    want = sorted(
        r["k"] for r in fact.join(dim, fact["k"] == dim["dk"], "left_semi").collect()
    )
    assert got == want
    # the membership expression is a pure filter: no join, no shuffle,
    # no Python on the fact side
    plan = physical_plan(pruned)
    assert "Join" not in plan and "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_member_expr_geometry_mismatch_raises(spark):
    import pytest

    from sparkobs.operators.dedup import bloom_member_expr

    keys = spark.range(5).select(F.col("id").cast("string").alias("__k"))
    bl = bloom_build(keys, "__k", m_words=64)
    with pytest.raises(ValueError, match="m_words"):
        bloom_member_expr(bl, "__k", m_words=128)
    # default-to-default composition must NOT raise (geometries align)
    df = spark.range(10).select(F.col("id").cast("string").alias("__k"))
    n = df.where(bloom_member_expr(bloom_build(keys, "__k"), "__k")).count()
    assert n >= 5  # all built keys pass; FPs allowed, never FNs


def test_keep_best_canonical_picks_highest_score(spark):
    from sparkobs.operators.dedup import keep_best_canonical

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7)],
        "doc_id long, n_chars long",
    )
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, component long"
    )
    out = {r["doc_id"]: (r["component"], r["is_canonical"]) for r in
           keep_best_canonical(docs, groups, "n_chars").collect()}
    # 2 and 3 tie on score — lowest id wins deterministically
    assert out[2] == (1, True)
    assert out[1] == (1, False) and out[3] == (1, False)
    # ungrouped doc is its own canonical
    assert out[4] == (4, True)


def test_tfidf_ranks_distinctive_terms_first(spark):
    df = spark.createDataFrame(
        [
            (1, "shared shared rare rare rare"),
            (2, "shared shared other"),
            (3, "shared zebra"),
        ],
        "doc_id long, text string",
    )
    top = {
        r["doc_id"]: r["term"]
        for r in tfidf_top_terms(df, k=1).collect()
    }
    # 'shared' is in every doc (idf = ln(4/4) = 0) — never the top term
    assert top[1] == "rare" and top[2] == "other" and top[3] == "zebra"


def test_tfidf_uses_window_group_limit(spark):
    df = Q.SPARK_QUERIES["tfidf_topk_documents"](spark, SF)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert_no_cartesian(df)


def test_upsample_mixture_epoch_counts(spark):
    df = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(400)], "doc_id long, source string"
    )
    out = (
        upsample_mixture(
            df, {"s0": 2.0, "s1": 0.5, "s2": 0.0}, id_col="doc_id"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("epoch").alias("max_epoch"),
        )
        .collect()
    )
    by_src = {r["source"]: r for r in out}
    assert by_src["s0"]["n"] == 200 and by_src["s0"]["max_epoch"] == 2
    assert "s2" not in by_src  # weight 0 drops the source
    assert by_src["s3"]["n"] == 100  # default weight 1.0
    assert 25 <= by_src["s1"]["n"] <= 75  # ~50% hash-selected


def test_upsample_mixture_is_shuffle_free(spark):
    df = Q.SPARK_QUERIES["upsample_mixture_documents"](spark, SF)
    plan = physical_plan(df)
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_search_requires_all_terms(spark):
    df = spark.createDataFrame(
        [(1, "table hash join"), (2, "table scan"), (3, "hash hash table")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_hits"] for r in search_all_terms(df, ("table", "hash")).collect()}
    assert set(out) == {1, 3}
    assert out[3] == 3  # two 'hash' + one 'table'


def test_search_has_no_joins(spark):
    df = Q.SPARK_QUERIES["search_and_documents"](spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan


def test_line_dedup_query_no_python_no_cartesian(spark):
    df = Q.SPARK_QUERIES["line_dedup_documents"](spark, SF)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert_no_cartesian(df)


def test_table_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "k long, v string"
    )
    from sparkobs.operators.state import table_diff

    out = {r["k"]: r["diff_status"] for r in table_diff(old, new, ["k"]).collect()}
    assert out == {1: "removed", 3: "changed", 4: "added"}


def test_table_diff_null_vs_value_is_changed(spark):
    old = spark.createDataFrame([(1, None)], "k long, v string")
    new = spark.createDataFrame([(1, "x")], "k long, v string")
    from sparkobs.operators.state import table_diff

    assert table_diff(old, new, ["k"]).collect()[0]["diff_status"] == "changed"


def test_quantile_bins_equal_frequency(spark):
    from sparkobs.operators.state import quantile_bins

    df = spark.range(1000).select((F.col("id") + 1).alias("v"))
    out = {r["bin"]: r for r in quantile_bins(df, "v", 4).collect()}
    assert set(out) == {1, 2, 3, 4}
    for b in out.values():
        assert 240 <= b["n_rows"] <= 260
    assert out[1]["min_val"] == 1.0 and out[4]["max_val"] == 1000.0


def test_quantile_bins_all_null_values(spark):
    """Degenerate-input pin (r11 review): an all-NULL value column
    yields ZERO quantile edge rows — those must fold to a NULL edges
    array (the original percentile() semantics: every bin NULL), not
    an empty array that would silently assign every row bin 1."""
    from sparkobs.operators.state import quantile_bins

    df = spark.createDataFrame([(None,), (None,), (None,)], "v double")
    rows = quantile_bins(df, "v", 4).collect()
    assert len(rows) == 1
    assert rows[0]["bin"] is None
    assert rows[0]["n_rows"] == 3
    assert rows[0]["min_val"] is None and rows[0]["max_val"] is None


def test_quantize_embeddings_roundtrip(spark):
    from sparkobs.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # scale = 1/127; codes = round(x*127)
    assert out[1]["codes"] == "127,-64,32"
    assert abs(out[1]["scale"] - 1 / 127) < 1e-6
    assert out[1]["rms_err"] < 0.005
    assert out[2]["codes"] == "0,0,0" and out[2]["scale"] == 0.0


def test_cms_estimates_are_upper_bounds(spark):
    from sparkobs.operators.profile import cms_build, cms_estimate

    df = spark.createDataFrame(
        [(f"k{i % 50}",) for i in range(1000)], "key string"
    )
    cms = cms_build(df, "key", depth=4, width=64)
    est = {
        r["key"]: r["est_count"]
        for r in cms_estimate(df, cms, "key", depth=4, width=64).collect()
    }
    assert len(est) == 50
    for k, e in est.items():
        assert e >= 20, f"{k} underestimated: {e}"  # true count per key = 20
    # sketch is bounded regardless of input size
    assert cms.count() <= 4 * 64


def test_z_order_key_locality_and_bounds(spark):
    from sparkobs.functions import z_order_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (511, 511)], "x long, y long"
    )
    out = [
        r["z"]
        for r in df.select(z_order_key("x", "y", bits=9).alias("z")).collect()
    ]
    assert out[0] == 0 and out[1] == 1 and out[2] == 2
    # interleave(3,5) = x bits 1,1 at 0,2 -> 5; y bits 1,0,1 at 1,3,5 -> 2+32 -> 39
    assert out[3] == 39
    assert out[4] == 2**18 - 1  # all 18 bits set


def test_zorder_query_no_shuffle_before_agg(spark):
    df = Q.SPARK_QUERIES["zorder_tiles_events"](spark, SF)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1  # only the agg


def test_cms_build_bounded_shuffle(spark):
    df = Q.SPARK_QUERIES["cms_vocab_estimates"](spark, SF)
    assert_broadcast_join(df)
    assert "BatchEvalPython" not in physical_plan(df)


def test_bpe_train_hand_verified_merges(spark):
    from sparkobs.operators.bpe import bpe_train

    # corpus: 'aaab' x3, 'ab' x2
    # round 1 pairs: (a,a)=6, (a,b)=5 -> merge aa
    # round 2: aaab=[aa,a,b] -> (aa,a)=3, (a,b)=5 -> merge ab
    # round 3: aaab=[aa,ab], ab=[ab] -> (aa,ab)=3 -> merge aaab
    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_freq"])
        for r in bpe_train(df, n_merges=3).orderBy("step").collect()
    ]
    assert got == [
        (1, "a", "a", "aa", 6),
        (2, "a", "b", "ab", 5),
        (3, "aa", "ab", "aaab", 3),
    ]


def test_bpe_train_stops_when_fully_merged(spark):
    from sparkobs.operators.bpe import bpe_train

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    out = bpe_train(df, n_merges=5).collect()
    assert len(out) == 1  # one merge fuses everything; loop stops


def test_bpe_train_batched_disjoint_pairs_match_sequential(spark):
    """When the hot pairs are symbol-disjoint, batched training (one
    driver round) must learn exactly the merges sequential training
    learns in n rounds — and in ~B× fewer driver rounds."""
    from sparkobs.operators import bpe

    # three disjoint hot pairs: (a,b), (c,d), (e,f) — no shared symbol
    df = spark.createDataFrame(
        [(1, "ab ab ab ab cd cd cd ef ef")], "doc_id long, text string"
    )
    seq = [
        (r["lhs"], r["rhs"], r["pair_freq"])
        for r in bpe.bpe_train(df, n_merges=3).orderBy("step").collect()
    ]
    seq_rounds = bpe.LAST_TRAIN_ROUNDS
    bat = [
        (r["lhs"], r["rhs"], r["pair_freq"])
        for r in bpe.bpe_train(df, n_merges=3, batch_size=8).orderBy("step").collect()
    ]
    bat_rounds = bpe.LAST_TRAIN_ROUNDS
    assert seq == bat == [("a", "b", 4), ("c", "d", 3), ("e", "f", 2)]
    assert seq_rounds == 3 and bat_rounds == 1


def test_bpe_train_precomputed_words_identical(spark):
    """r14 optimization: a caller-shared word-frequency frame (the
    batched-parity query builds it once for BOTH trainings) must
    yield the bit-identical merge table in both modes — the merge
    table is a pure function of the word table."""
    from sparkobs.operators.bpe import bpe_train, word_frequencies

    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab"), (2, "cd cd ab")],
        "doc_id long, text string",
    )
    wf = word_frequencies(df).localCheckpoint(eager=True)
    for bs in (1, 3):
        base = [tuple(r) for r in bpe_train(df, n_merges=4, batch_size=bs).orderBy("step").collect()]
        shared = [
            tuple(r)
            for r in bpe_train(df, n_merges=4, batch_size=bs, words=wf).orderBy("step").collect()
        ]
        assert base == shared


def test_bpe_train_batched_skips_overlapping_pairs_in_round(spark):
    """A candidate sharing a symbol with an already-selected pair must
    wait for the next round (its count would be stale): corpus 'aaab'
    — (a,a) wins, (a,b) shares 'a' so round 1 takes ONLY (a,a); the
    batch mode still converges to the sequential merge table."""
    from sparkobs.operators import bpe

    df = spark.createDataFrame(
        [(1, "aaab aaab aaab ab ab")], "doc_id long, text string"
    )
    got = [
        (r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_freq"])
        for r in bpe.bpe_train(df, n_merges=3, batch_size=4).orderBy("step").collect()
    ]
    # same merges as the sequential hand-verified test above — every
    # round's candidates overlap on 'a'/'aa', so batching degrades to
    # one merge per round with EXACT counts, never a stale count
    assert got == [
        (1, "a", "a", "aa", 6),
        (2, "a", "b", "ab", 5),
        (3, "aa", "ab", "aaab", 3),
    ]
    assert bpe.LAST_TRAIN_ROUNDS == 3


def test_bpe_apply_counts(spark):
    from sparkobs.operators.bpe import bpe_apply

    df = spark.createDataFrame([(1, "aaab ab")], "doc_id long, text string")
    row = bpe_apply(df, [("a", "a"), ("a", "b")]).collect()[0]
    # aaab -> [aa,a,b] -> [aa,ab] = 2 tokens; ab -> [ab] = 1
    assert row["n_char_symbols"] == 6
    assert row["n_bpe_tokens"] == 3
    assert row["compression"] == 0.5


def test_bpe_merge_is_greedy_left_to_right(spark):
    from sparkobs.operators.bpe import bpe_apply

    # 'aaa' with merge (a,a): greedy -> [aa, a], NOT [a, aa] or [aa, aa]
    df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    row = bpe_apply(df, [("a", "a")]).collect()[0]
    assert row["n_bpe_tokens"] == 2


def test_hll_accuracy_and_bounded_registers(spark):
    from sparkobs.operators.profile import hll_distinct, hll_registers

    df = spark.range(10000).select(F.col("id").alias("k"))
    regs = hll_registers(df, "k")
    assert regs.count() <= 256
    row = hll_distinct(df, ["k"]).collect()[0]
    assert row["exact_distinct"] == 10000
    assert row["rel_err"] < 0.2  # std error ~6.5% at m=256


def test_hll_registers_merge_by_max(spark):
    from sparkobs.operators.profile import hll_estimate, hll_registers

    df = spark.range(5000).select(F.col("id").alias("k"))
    a = hll_registers(df.where(F.col("k") < 2500), "k")
    b = hll_registers(df.where(F.col("k") >= 2500), "k")
    merged = (
        a.unionByName(b).groupBy("bucket").agg(F.max("reg").alias("reg"))
    )
    whole = hll_estimate(hll_registers(df, "k")).collect()[0]["est_distinct"]
    assert hll_estimate(merged).collect()[0]["est_distinct"] == whole


def test_group_zscore_moments(spark):
    from sparkobs.operators.features import group_zscore

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(100)] + [("b", 7.0), ("b", 7.0)],
        "g string, v double",
    )
    z = group_zscore(df, ["g"], "v")
    a_stats = (
        z.where(F.col("g") == "a")
        .agg(F.round(F.avg("zscore"), 3).alias("m"), F.round(F.stddev("zscore"), 2).alias("s"))
        .collect()[0]
    )
    assert a_stats["m"] == 0.0 and abs(a_stats["s"] - 1.0) < 0.01
    # constant group: z = 0, not NULL/inf
    assert all(r["zscore"] == 0.0 for r in z.where(F.col("g") == "b").collect())


def test_winsorize_clips_tails(spark):
    from sparkobs.operators.features import winsorize_summary

    # asymmetric tail: one huge outlier so clipping provably LOWERS
    # the mean (1..99 uniform + 10000)
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 100)] + [("a", 10000.0)],
        "g string, v double",
    )
    row = winsorize_summary(df, ["g"], "v", lo=0.05, hi=0.95).collect()[0]
    assert row["n_rows"] == 100
    assert 3 <= row["n_clipped_lo"] <= 6 and 3 <= row["n_clipped_hi"] <= 6
    assert row["mean_winsorized"] < row["mean_raw"] - 50
    assert row["p_lo"] < row["p_hi"]


def test_transition_matrix_probabilities(spark):
    from sparkobs.operators.state import transition_matrix

    df = spark.createDataFrame(
        [(1, 1, "a", 1), (1, 2, "b", 2), (1, 3, "a", 3), (1, 4, "c", 4)],
        "user_id long, ts long, state string, event_id long",
    )
    t = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in transition_matrix(df, "user_id", "ts", "state", "event_id").collect()
    }
    # journey a->b->a->c: from 'a' goes b once, c once
    assert t[("a", "b")] == (1, 0.5) and t[("a", "c")] == (1, 0.5)
    assert t[("b", "a")] == (1, 1.0)


def test_stationary_distribution_two_state_chain(spark):
    from sparkobs.operators.state import stationary_distribution

    # p(a->b)=1, p(b->a)=1: period-2 chain; from uniform start the
    # distribution stays (0.5, 0.5) at every step
    trans = spark.createDataFrame(
        [("a", "b", 1, 1.0), ("b", "a", 1, 1.0)],
        "from_state string, to_state string, n long, p double",
    )
    out = {r["state"]: r["prob"] for r in stationary_distribution(trans, 4).collect()}
    assert out == {"a": 0.5, "b": 0.5}


def test_markov_query_single_window_shuffle(spark):
    df = Q.SPARK_QUERIES["markov_transitions_events"](spark, SF)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert_no_cartesian(df)


def test_funnel_strict_ordering(spark):
    from sparkobs.operators.behavior import funnel_steps

    df = spark.createDataFrame(
        [
            (1, 1, "signup"), (1, 2, "click"), (1, 3, "purchase"),
            (2, 1, "signup"), (2, 2, "click"),
            (3, 5, "click"), (3, 6, "signup"),  # click BEFORE signup: no stage 2
        ],
        "user_id long, ts long, event_type string",
    )
    out = {r["step"]: r for r in funnel_steps(df, ["signup", "click", "purchase"]).collect()}
    assert out[1]["n_keys"] == 3
    assert out[2]["n_keys"] == 2 and out[2]["conversion"] == round(2 / 3, 4)
    assert out[3]["n_keys"] == 1 and out[3]["conversion"] == 0.5


def test_cohort_retention_matrix(spark):
    import datetime

    from sparkobs.operators.behavior import cohort_retention

    d = datetime.datetime
    df = spark.createDataFrame(
        [
            (1, d(2024, 1, 1)), (1, d(2024, 1, 8)),   # week0 cohort, active wk0+wk1
            (2, d(2024, 1, 2)),                        # week0 cohort, wk0 only
            (3, d(2024, 1, 9)),                        # week1 cohort
        ],
        "user_id long, ts timestamp",
    )
    cells = {
        (r["cohort_start"].day, r["offset"]): (r["n_active"], r["retention"])
        for r in cohort_retention(df).collect()
    }
    assert cells[(1, 0)] == (2, 1.0)
    assert cells[(1, 1)] == (1, 0.5)
    assert cells[(8, 0)] == (1, 1.0)


def test_resample_fills_gaps_with_locf(spark):
    import datetime

    from sparkobs.operators.behavior import resample_fill

    d = datetime.datetime
    df = spark.createDataFrame(
        [("a", d(2024, 1, 1, 0, 10), 10.0), ("a", d(2024, 1, 1, 3, 5), 40.0)],
        "k string, ts timestamp, v double",
    )
    rows = sorted(
        resample_fill(df, "k", "ts", "v").collect(), key=lambda r: r["bucket_ts"]
    )
    assert len(rows) == 4  # hours 0..3
    assert [r["value"] for r in rows] == [10.0, 10.0, 10.0, 40.0]
    assert [r["is_gap"] for r in rows] == [False, True, True, False]


def test_fuzzy_match_prefers_lowest_distance(spark):
    from sparkobs.operators.joins import fuzzy_best_match

    left = spark.createDataFrame([("abcdef1",)], "name string")
    right = spark.createDataFrame(
        [("abcdef1",), ("abcdef2",), ("zzzzzz1",)], "name string"
    )
    out = fuzzy_best_match(left, right, "name", "name", block_len=6, max_dist=1).collect()
    assert len(out) == 1
    assert out[0]["right_value"] == "abcdef1" and out[0]["dist"] == 0


def test_fuzzy_match_blocking_prunes_candidates(spark):
    df = Q.SPARK_QUERIES["fuzzy_match_supplier_customer"](spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_sessionize_gap_rule(spark):
    import datetime

    from sparkobs.operators.behavior import session_stats

    d = datetime.datetime
    df = spark.createDataFrame(
        [
            (1, 1, d(2024, 1, 1, 0, 0)),
            (1, 2, d(2024, 1, 1, 0, 10)),   # same session (10 min gap)
            (1, 3, d(2024, 1, 1, 2, 0)),    # new session (110 min gap)
            (2, 4, d(2024, 1, 1, 5, 0)),
        ],
        "user_id long, event_id long, ts timestamp",
    )
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in session_stats(df).collect()
    }
    assert out[(1, 1)]["n_events"] == 2
    assert out[(1, 1)]["duration_us"] == 600_000_000
    assert out[(1, 2)]["n_events"] == 1 and out[(1, 2)]["duration_us"] == 0
    assert out[(2, 1)]["n_events"] == 1


def test_stationary_absorbing_state_keeps_mass(spark):
    from sparkobs.operators.state import stationary_distribution

    # a -> b, b absorbing: all mass must end up on b, not vanish
    trans = spark.createDataFrame(
        [("a", "b", 1, 1.0)], "from_state string, to_state string, n long, p double"
    )
    out = {r["state"]: r["prob"] for r in stationary_distribution(trans, 5).collect()}
    assert out == {"b": 1.0}


def test_boilerplate_regex_metachar_delimiter(spark):
    df = spark.createDataFrame(
        [(1, "a|b"), (2, "c|b"), (3, "d|b")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in drop_boilerplate_lines(df, min_docs=3, delim="|").collect()
    }
    assert out[1]["clean_text"] == "a" and out[1]["n_lines"] == 2


def test_bloom_geometry_mismatch_raises(spark):
    import pytest

    df = spark.createDataFrame([(1, "k")], "doc_id long, text string")
    bloom = bloom_build(df, "text", m_words=512)
    with pytest.raises(ValueError, match="geometry"):
        bloom_probe(df, bloom, "text", m_words=256)


def test_z_order_rejects_out_of_range(spark):
    import pytest

    from sparkobs.functions import z_order_key

    df = spark.createDataFrame([(513, 0)], "x long, y long")
    with pytest.raises(Exception, match="quantize"):
        df.select(z_order_key("x", "y", bits=9)).collect()


def test_search_with_duplicate_terms(spark):
    df = spark.createDataFrame([(1, "table scan")], "doc_id long, text string")
    out = search_all_terms(df, ("table", "table")).collect()
    assert len(out) == 1 and out[0]["n_hits"] == 1


def test_sessionize_keeps_payload_columns(spark):
    import datetime

    from sparkobs.operators.behavior import sessionize

    df = spark.createDataFrame(
        [(1, 1, datetime.datetime(2024, 1, 1), "click", 5.0)],
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )
    row = sessionize(df).collect()[0]
    assert row["event_type"] == "click" and row["value"] == 5.0
    assert row["session_idx"] == 1


def test_hll_ignores_nulls(spark):
    from sparkobs.operators.profile import hll_distinct, hll_registers

    df = spark.createDataFrame(
        [(None,)] * 50 + [(float(i),) for i in range(100)], "k double"
    )
    assert hll_registers(df, "k").count() <= 256
    row = hll_distinct(df, ["k"]).collect()[0]
    assert row["exact_distinct"] == 100
    assert row["rel_err"] < 0.25


def test_hll_grouped_rollup_equals_direct(spark):
    # per-day register tables merged by cellwise max must equal the
    # registers computed over the union — the time-partition rollup
    from sparkobs.operators.profile import hll_grouped

    df = spark.createDataFrame(
        [("a", i) for i in range(500)] + [("b", i) for i in range(250, 600)],
        "g string, k long",
    )
    out = {r["g"]: r for r in hll_grouped(df, ["g"], "k").collect()}
    assert out["a"]["exact_distinct"] == 500
    assert out["b"]["exact_distinct"] == 350
    for r in out.values():
        assert r["rel_err"] < 0.25


def test_hist_quantiles_near_exact(spark):
    from sparkobs.operators.profile import histogram_quantiles

    df = spark.range(10000).select((F.col("id") + 1).cast("double").alias("v"))
    out = {r["quantile"]: r["est_value"] for r in
           histogram_quantiles(df, "v", 0.0, 10000.0, 100, (0.25, 0.5, 0.75)).collect()}
    # bin width 100 bounds the error
    assert abs(out[0.25] - 2500) <= 100
    assert abs(out[0.5] - 5000) <= 100
    assert abs(out[0.75] - 7500) <= 100


def test_group_hash_sample_exact_k_and_invariant(spark):
    from sparkobs.operators.sampling import group_hash_topk_sample

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(300)], "k long, g string"
    )
    out = group_hash_topk_sample(df, "g", "k", 10)
    sizes = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {"g0": 10, "g1": 10, "g2": 10}
    # partitioning-invariant: same rows regardless of layout
    a = sorted((r["g"], r["k"]) for r in out.collect())
    b = sorted(
        (r["g"], r["k"])
        for r in group_hash_topk_sample(df.repartition(7), "g", "k", 10).collect()
    )
    assert a == b
    # small groups return whole
    tiny = spark.createDataFrame([(1, "x")], "k long, g string")
    assert group_hash_topk_sample(tiny, "g", "k", 10).count() == 1


def test_audio_frame_rms_hand_computed(spark):
    import struct

    from sparkobs.operators.multimodal import audio_frame_features

    # 32 u8 samples: first frame all 128 (silence -> rms 0), second
    # frame alternating 0/255 -> rms sqrt((128^2 + 127^2)/2)
    pcm = bytes([128] * 16 + [0, 255] * 8)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    df = spark.createDataFrame([(1, bytearray(wav))], "id long, content binary")
    out = {r["frame_idx"]: r["rms"] for r in audio_frame_features(df).collect()}
    assert out[0] == 0.0
    assert out[1] == round((((-128.0) ** 2 + 127.0**2) / 2) ** 0.5, 4)


def test_audio_frame_skips_undecodable(spark):
    from sparkobs.operators.multimodal import audio_frame_features

    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav"))], "id long, content binary"
    )
    assert audio_frame_features(df).count() == 0


def test_vocab_jsd_bounds(spark):
    from sparkobs.operators.text import vocab_jsd

    same = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    r = vocab_jsd(same, same).collect()[0]
    assert r["jsd_nats"] == 0.0 and r["vocab_shared"] == 3
    import math

    disjoint = vocab_jsd(
        spark.createDataFrame([(1, "a a")], "doc_id long, text string"),
        spark.createDataFrame([(2, "b b")], "doc_id long, text string"),
    ).collect()[0]
    assert disjoint["vocab_shared"] == 0
    assert abs(disjoint["jsd_nats"] - math.log(2)) < 1e-6


def test_corr_matrix_pairs(spark):
    from sparkobs.operators.profile import corr_matrix

    df = spark.createDataFrame(
        [(float(i), float(2 * i), float(-i)) for i in range(50)],
        "a double, b double, c double",
    )
    out = {(r["col_a"], r["col_b"]): r["pearson"] for r in corr_matrix(df, ["a", "b", "c"]).collect()}
    assert out[("a", "b")] == 1.0
    assert out[("a", "c")] == -1.0
    assert len(out) == 3


def test_hashed_vectors_unit_norm_and_determinism(spark):
    from sparkobs.operators.similarity import hashed_tf_vectors

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha")], "doc_id long, text string"
    )
    v = hashed_tf_vectors(df)
    norm = v.agg(F.round(F.sum(F.col("weight") * F.col("weight")), 6)).collect()[0][0]
    assert norm == 1.0
    a = sorted(map(tuple, v.collect()))
    b = sorted(map(tuple, hashed_tf_vectors(df.repartition(4)).collect()))
    assert a == b


def test_sparse_cosine_identical_docs(spark):
    from sparkobs.operators.similarity import hashed_tf_vectors, sparse_cosine_pairs

    df = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z"), (3, "totally different words here")],
        "doc_id long, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["cos"] for r in
           sparse_cosine_pairs(hashed_tf_vectors(df), 0.9).collect()}
    assert out[(1, 2)] == 1.0
    assert (1, 3) not in out


def test_sparse_cosine_pruned_exact_rescore(spark):
    """The df-pruned tier must rescore candidates over FULL vectors:
    pairs it emits carry the exact cosine (same value as the exact
    tier), and with a cap admitting every dim it matches exactly."""
    from sparkobs.operators.similarity import hashed_tf_vectors, sparse_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "x y z common"),
            (2, "x y z common"),
            (3, "other words common entirely"),
            (4, "other words common entirely"),
        ],
        "doc_id long, text string",
    )
    vecs = hashed_tf_vectors(df)
    exact = {(r["id_a"], r["id_b"]): r["cos"] for r in
             sparse_cosine_pairs(vecs, 0.5).collect()}
    pruned_all = {(r["id_a"], r["id_b"]): r["cos"] for r in
                  sparse_cosine_pairs(vecs, 0.5, max_df=10).collect()}
    assert pruned_all == exact
    # cap=3 drops the dim of "common" (df=4); emitted pairs keep exact
    # cosines (subset, never different values)
    pruned = {(r["id_a"], r["id_b"]): r["cos"] for r in
              sparse_cosine_pairs(vecs, 0.5, max_df=3).collect()}
    assert set(pruned) <= set(exact)
    assert all(exact[k] == v for k, v in pruned.items())
    assert pruned[(1, 2)] == 1.0 and pruned[(3, 4)] == 1.0


def test_retention_purge_kept_and_audit(spark):
    from datetime import datetime

    from sparkobs.operators.checks import retention_purge

    rows = [
        (1, datetime(2024, 1, 10)),   # kept
        (7, datetime(2024, 1, 10)),   # tombstoned
        (2, datetime(2023, 12, 1)),   # expired
        (7, datetime(2023, 12, 1)),   # tombstoned AND old -> counts erased
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    tombs = spark.createDataFrame([(7,)], "user_id long")
    kept, audit = retention_purge(
        ev, "user_id", tombstones=tombs, ts_col="ts", cutoff="2024-01-01 00:00:00"
    )
    assert [(r.user_id, r.ts.day) for r in kept.collect()] == [(1, 10)]
    assert set(kept.columns) == {"user_id", "ts"}  # no helper cols leak
    a = audit.collect()[0]
    assert (a.n_input, a.n_erased_key, a.n_expired, a.n_kept) == (4, 2, 1, 1)
    # tombstones-only and cutoff-only modes
    k2, a2 = retention_purge(ev, "user_id", tombstones=tombs)
    assert a2.collect()[0].n_kept == 2 and k2.count() == 2
    _, a3 = retention_purge(ev, "user_id", ts_col="ts", cutoff="2024-01-01 00:00:00")
    assert a3.collect()[0].n_expired == 2


def test_retention_purge_null_timestamp_is_kept_not_lost(spark):
    """ADVICE r4: a NULL ts must read as "not expired" — the row is
    KEPT and the audit invariant n_erased+n_expired+n_kept == n_input
    holds (previously the NULL predicate dropped the row from BOTH
    the kept frame and every audit bucket)."""
    from datetime import datetime

    from sparkobs.operators.checks import retention_purge

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 10)), (2, None), (3, datetime(2023, 1, 1))],
        "user_id long, ts timestamp",
    )
    kept, audit = retention_purge(
        ev, "user_id", ts_col="ts", cutoff="2024-01-01 00:00:00"
    )
    assert sorted(r.user_id for r in kept.collect()) == [1, 2]
    a = audit.collect()[0]
    assert (a.n_input, a.n_erased_key, a.n_expired, a.n_kept) == (3, 0, 1, 2)
    assert a.n_erased_key + a.n_expired + a.n_kept == a.n_input


def test_run_checks_violation_counts(spark):
    from sparkobs.operators.checks import run_checks

    df = spark.createDataFrame(
        [(1, "ok", 5.0), (2, "ok", 50.0), (2, "bad", -1.0), (None, "ok", 5.0)],
        "k long, status string, v double",
    )
    out = {r["check_idx"]: r for r in run_checks(df, [
        ("not_null", "k"),
        ("unique", "k"),
        ("accepted_values", "status", ("ok",)),
        ("range", "v", 0, 10),
        ("row_count_between", 1, 3),
    ]).collect()}
    assert out[0]["violations"] == 1 and not out[0]["passed"]
    assert out[1]["violations"] == 1  # k=2 twice -> one extra row
    assert out[2]["violations"] == 1  # 'bad'
    assert out[3]["violations"] == 2  # 50.0 and -1.0
    assert out[4]["violations"] == 1 and not out[4]["passed"]  # 4 rows > 3


def test_run_checks_all_green(spark):
    from sparkobs.operators.checks import run_checks

    df = spark.createDataFrame([(1,), (2,)], "k long")
    out = run_checks(df, [("not_null", "k"), ("unique", "k")]).collect()
    assert all(r["passed"] and r["violations"] == 0 for r in out)


def test_join_size_diagnostic_exact(spark):
    from sparkobs.operators.joins import join_size_diagnostic

    left = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k long")
    right = spark.createDataFrame([(1,), (1,), (1,), (2,)], "k long")
    row = join_size_diagnostic(left, right, "k", "k", top_n=1).collect()[0]
    # key 1: 2*3=6 rows; key 2: 1*1=1; key 3 unmatched
    assert row["est_join_rows"] == 7
    assert row["n_shared_keys"] == 2
    assert row["top_keys"] == "1"
    assert row["top_key_share"] == round(6 / 7, 4)
    exact = left.join(right, "k").count()
    assert exact == row["est_join_rows"]


def test_token_entropy_hand_values(spark):
    from sparkobs.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in token_entropy(df).collect()}
    assert out[1]["entropy_bits"] == 0.0       # one symbol: H = 0
    assert out[2]["entropy_bits"] == 2.0       # uniform over 4: H = 2
    assert out[3]["entropy_bits"] == 1.0       # uniform over 2: H = 1
    assert out[2]["n_tokens"] == 4 and out[2]["n_unique_tokens"] == 4


def test_gopher_flags_rules(spark):
    from sparkobs.operators.text import gopher_quality_flags

    long_ok = "the a " + " ".join(f"word{i}" for i in range(60))
    short = "the a tiny doc"
    repetitive = "the a " + "spam " * 80
    no_stop = " ".join(f"tok{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, long_ok), (2, short), (3, repetitive), (4, no_stop)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert out[1]["passes_gopher"] is True
    assert out[2]["ok_n_words"] is False and out[2]["passes_gopher"] is False
    assert out[3]["ok_unique_frac"] is False and out[3]["passes_gopher"] is False
    assert out[4]["ok_stopwords"] is False and out[4]["passes_gopher"] is False
    # bounds are overridable
    loose = gopher_quality_flags(df, min_words=2).collect()
    assert {r["doc_id"]: r["ok_n_words"] for r in loose}[2] is True


def test_gram_matrix_exact_small(spark):
    import numpy as np

    from sparkobs.operators.similarity import gram_matrix

    vecs = [(1, [1.0, 2.0, 0.0]), (2, [0.0, 1.0, 3.0]), (3, [2.0, 0.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>").repartition(3)
    X = np.array([v for _, v in vecs])
    G = X.T @ X
    out = {(r["i"], r["j"]): r["dot"] for r in gram_matrix(df).collect()}
    assert len(out) == 6  # the upper triangle, diagonal included
    for i in range(3):
        for j in range(i, 3):
            assert abs(out[(i + 1, j + 1)] - G[i, j]) < 1e-9


def test_pca_project_recovers_dominant_axis(spark):
    from sparkobs.operators.similarity import pca_project

    # points spread along axis 0 with tiny noise on axis 1: pc1 must
    # align with axis 0 (sign-fixed → positive direction)
    rows = [(i, [float(i - 50), 0.01 * ((i * 7) % 5 - 2), 0.0]) for i in range(101)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in pca_project(df, 2).collect()}
    assert len(out) == 101
    # pc1 ordering mirrors the dominant coordinate (monotone in i)
    pc1 = [out[i][0] for i in range(101)]
    assert pc1 == sorted(pc1) or pc1 == sorted(pc1, reverse=True)
    # deterministic across invocations (sign fixing)
    again = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in pca_project(df, 2).collect()}
    assert again == out


def test_cdc_agg_maintain_matches_recompute(spark):
    from pyspark.sql import functions as F

    from sparkobs.operators.state import cdc_agg_maintain

    base = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("b", 4.0), ("c", 7.0)], "g string, value double"
    )
    base_agg = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value")
    )
    changes = spark.createDataFrame(
        [
            ("a", "insert", 3.0, None),
            ("b", "update", 6.0, 4.0),   # 4.0 -> 6.0
            ("c", "delete", 7.0, None),  # group c empties out
            ("d", "insert", 9.0, None),  # brand-new group
        ],
        "g string, op string, value double, __old_value double",
    )
    out = {r["g"]: (r["n_rows"], r["sum_value"]) for r in
           cdc_agg_maintain(base_agg, changes, ["g"]).collect()}
    assert out == {"a": (3, 7.0), "b": (1, 6.0), "d": (1, 9.0)}
    assert "c" not in out  # zero-count group dropped, like a recompute


def test_monitor_health_single_plan_flags_spike(spark):
    from datetime import datetime

    from sparkobs.operators.state import monitor_health

    rows = []
    for h in range(30):
        n = (100 + h % 3) if h != 29 else 1  # collapse in the last hour
        # (h%3 jitter: a zero-variance baseline yields NULL z by design)
        for k in range(n):
            rows.append((h * 1000 + k, datetime(2024, 1, 1, h % 24, 0, 0)
                         if h < 24 else datetime(2024, 1, 2, h - 24, 0, 0),
                         k % 7, "click", 5.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = monitor_health(df, "event_type", "ts", "value", user_col="user_id", trailing=24)
    anomalies = out.where("is_anomaly").collect()
    assert any(
        r["metric_name"] in ("row_count", "distinct_actors") for r in anomalies
    )
    # three metrics per hour bucket
    assert out.select("metric_name").distinct().count() == 3


def test_bpe_apply_chunked_chain_equals_single_chain(spark):
    """Deep merge lists fold in segments with checkpoints between —
    result must be identical to the single-expression chain."""
    from unittest.mock import patch

    from sparkobs.operators import bpe
    from sparkobs.operators.bpe import bpe_apply

    df = spark.createDataFrame(
        [(1, "aaab ab abab"), (2, "bbaa aab")], "doc_id long, text string"
    )
    merges = [("a", "a"), ("a", "b"), ("aa", "ab"), ("b", "b"), ("ab", "ab")]
    one = sorted(map(tuple, bpe_apply(df, merges).collect()))
    with patch.object(bpe, "BPE_MAX_CHAIN", 2):
        chunked = sorted(map(tuple, bpe_apply(df, merges).collect()))
    assert one == chunked


def test_pca_project_string_id_column(spark):
    from sparkobs.operators.similarity import pca_project

    rows = [(f"doc-{i}", [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "name string, embedding array<double>")
    out = pca_project(df, 1, id_col="name").collect()
    assert sorted(r["name"] for r in out) == sorted(f"doc-{i}" for i in range(10))
    assert all(isinstance(r["pc1"], float) for r in out)


def test_pca_variance_check_invariant_holds(spark):
    from sparkobs.operators.similarity import pca_variance_check

    rows = [
        (i, [float(i - 50), 0.3 * ((i * 7) % 11 - 5), 0.05 * (i % 3)])
        for i in range(101)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(7)
    r = pca_variance_check(df, n_components=3).collect()[0]
    assert (r["n_components"], r["n_mismatch"], r["n_requested"]) == (3, 0, 3)


def test_select_disjoint_blocks_merged_output_homographs():
    from sparkobs.operators.bpe import _select_disjoint

    rows = [
        {"lhs": "ab", "rhs": "c", "pair_freq": 10},
        # 'abc' is the merged output of the first pick: selecting
        # ('abc', 'd') in the SAME round would consume occurrences the
        # first replace creates mid-round -> must be deferred
        {"lhs": "abc", "rhs": "d", "pair_freq": 9},
        {"lhs": "x", "rhs": "y", "pair_freq": 8},
    ]
    picked = _select_disjoint(rows, budget=3)
    assert [(l, r) for l, r, _ in picked] == [("ab", "c"), ("x", "y")]


def test_compaction_execute_preserves_rows_one_file_per_group(spark, tmp_path):
    import os

    from sparkobs.sources.listing import compaction_execute, list_files

    src = os.path.join(str(tmp_path), "frags")
    out = os.path.join(str(tmp_path), "compacted")
    spark.range(2000).selectExpr("id", "id % 7 AS v").repartition(10).write.parquet(src)
    listing = list_files(spark, src).where("path LIKE '%.parquet'")
    audit = compaction_execute(
        spark, listing, target_bytes=6 * 1024, out_dir=out, src_root=src
    )
    rows = audit.collect()
    assert sum(r["n_rows"] for r in rows) == 2000
    assert all(r["n_files_out"] == 1 for r in rows)
    assert sum(r["n_files_in"] for r in rows) == 10
    # the rewritten dataset is the same data
    assert spark.read.parquet(out).selectExpr("sum(v)").collect()[0][0] == \
        spark.range(2000).selectExpr("sum(id % 7)").collect()[0][0]
    assert 1 < len(rows) <= 10


def test_compaction_execute_audit_surfaces_zero_row_group(spark, tmp_path):
    """The audit's stated purpose is catching a write that dropped
    rows — so a group whose write produced ZERO rows (no partition
    directory at all) must surface as (n_files_in>0, n_rows=0,
    n_files_out=0), not silently vanish from an inner join (r11
    review). A zero-row parquet fragment is the honest way to
    manufacture that group: it has a footer (gets assigned a group)
    but contributes no rows."""
    import os

    from sparkobs.sources.listing import compaction_execute, list_files

    root = os.path.join(str(tmp_path), "frags")
    out = os.path.join(str(tmp_path), "compacted")
    spark.range(100).selectExpr("id", "id % 7 AS v").coalesce(1).write.parquet(root)
    spark.range(0).selectExpr("id", "id % 7 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(root)
    listing = list_files(spark, root).where("path LIKE '%.parquet'")
    # target_bytes=1: every fragment is its own group, so the empty
    # fragment's group writes zero rows
    audit = compaction_execute(
        spark, listing, target_bytes=1, out_dir=out, src_root=root
    )
    rows = sorted(audit.collect(), key=lambda r: r["n_rows"])
    assert len(rows) == 2
    empty, full = rows
    assert empty["n_files_in"] == 1
    assert empty["n_rows"] == 0
    assert empty["n_files_out"] == 0
    assert full["n_rows"] == 100 and full["n_files_out"] == 1


def test_compaction_execute_prunes_a_subset_listing(spark, tmp_path):
    """The directory read covers every file under ``src_root``; the
    broadcast join keeps only the listed files' rows, so a subset
    listing rewrites exactly that subset."""
    import os

    from sparkobs.sources.listing import compaction_execute, list_files

    src = os.path.join(str(tmp_path), "frags")
    out = os.path.join(str(tmp_path), "compacted")
    spark.range(2000).selectExpr("id", "id % 7 AS v").repartition(10).write.parquet(src)
    files = sorted(
        r["path"]
        for r in list_files(spark, src).where("path LIKE '%.parquet'").collect()
    )
    subset = files[:6]  # leave 4 sibling files unlisted
    listing = list_files(spark, src).where(
        F.col("path").isin(subset) & F.col("path").like("%.parquet")
    )
    audit = compaction_execute(
        spark, listing, target_bytes=6 * 1024, out_dir=out, src_root=src
    )
    rows = audit.collect()
    assert sum(r["n_files_in"] for r in rows) == 6
    # the rewrite holds exactly the listed files' rows (pruned subset)
    expect = spark.read.parquet(*subset).count()
    assert sum(r["n_rows"] for r in rows) == expect
    assert spark.read.parquet(out).count() == expect
    assert all(r["n_files_out"] == 1 for r in rows)


def test_compaction_execute_subset_keeps_columns_vs_schema_sibling(
    spark, tmp_path
):
    """A subset listing in a directory whose unlisted sibling has a
    NARROWER schema must keep every listed-file column in the rewrite:
    a directory read that infers its schema can take the sibling's
    footer and drop `v` silently."""
    import os

    from sparkobs.sources.listing import compaction_execute, list_files

    src = os.path.join(str(tmp_path), "mixed")
    out = os.path.join(str(tmp_path), "compacted")
    os.makedirs(src)
    spark.range(500).selectExpr("id", "id % 7 AS v").coalesce(1).write.parquet(
        os.path.join(src, "wide")
    )
    spark.range(500).selectExpr("id").coalesce(1).write.parquet(
        os.path.join(src, "narrow")
    )
    # flatten both data files into one directory
    import glob as _glob
    import shutil as _shutil

    wide_name = None
    for i, f in enumerate(
        sorted(_glob.glob(os.path.join(src, "*", "*.parquet")))
    ):
        dest = f"part-{i}-{os.path.basename(f)}"
        if os.path.basename(os.path.dirname(f)) == "wide":
            wide_name = dest
        _shutil.move(f, os.path.join(src, dest))
    _shutil.rmtree(os.path.join(src, "wide"))
    _shutil.rmtree(os.path.join(src, "narrow"))
    wide = [
        r["path"]
        for r in list_files(spark, src).where("path LIKE '%.parquet'").collect()
        if r["path"].endswith(wide_name)
    ]
    assert len(wide) == 1
    listing = list_files(spark, src).where(F.col("path").isin(wide))
    audit = compaction_execute(
        spark, listing, target_bytes=1 << 30, out_dir=out, src_root=src
    )
    assert sum(r["n_rows"] for r in audit.collect()) == 500
    got = spark.read.parquet(out)
    assert "v" in got.columns, "subset rewrite dropped a listed-only column"
    assert got.selectExpr("sum(v)").collect()[0][0] == sum(
        i % 7 for i in range(500)
    )


def test_bm25_matches_hand_computation(spark):
    import math

    from sparkobs.operators.text import bm25_scores

    docs = [
        (1, "apple banana apple"),          # tf(apple)=2, dl=3
        (2, "banana cherry"),               # no apple, dl=2
        (3, "apple cherry cherry cherry"),  # tf(apple)=1, dl=4
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_terms_hit"], r["score_units"])
        for r in bm25_scores(df, ["apple"]).collect()
    }
    n, sumdl, dft, k1, b = 3, 9, 2, 1.2, 0.75
    avgdl = sumdl / n
    idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))

    def units(tf, dl):
        return math.floor(
            10000.0 * idf * ((tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl / avgdl))))
        )

    assert got == {1: (1, units(2, 3)), 3: (1, units(1, 4))}


def test_bm25_rarer_term_outscores_common_at_equal_tf(spark):
    from sparkobs.operators.text import bm25_scores

    docs = [(i, "common filler") for i in range(1, 9)] + [
        (9, "common rare"),
        (10, "common text"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r["score_units"] for r in bm25_scores(df, ["rare", "common"]).collect()}
    # doc 9 hits both; its score strictly exceeds any common-only doc
    assert out[9] > max(v for k, v in out.items() if k != 9)


def test_budget_select_prefix_property(spark):
    from sparkobs.operators.sampling import budget_select

    docs = [
        (1, "alpha beta gamma delta"),            # 4 tokens
        (2, "alpha alpha alpha alpha"),           # low diversity
        (3, "the a the a"),                       # all stopwords
        (4, "x y z w v u t s r q p o n m l k"),   # 16 tokens, diverse
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = budget_select(df, budget_tokens=21).collect()
    # selection is a quality-ordered PREFIX: cum_tokens increases with
    # falling quality, never exceeds the budget, and the top-quality
    # doc is always in
    assert all(r["cum_tokens"] <= 21 for r in out)
    by_q = sorted(out, key=lambda r: (-r["quality"], r["doc_id"]))
    cums = [r["cum_tokens"] for r in by_q]
    assert cums == sorted(cums)
    toks = [r["n_tokens"] for r in by_q]
    assert cums == [sum(toks[: i + 1]) for i in range(len(toks))]
    full = budget_select(df, budget_tokens=10_000).collect()
    assert len(full) == 4  # big-enough budget keeps everything


def test_epoch_shuffle_is_permutation_and_seed_independent(spark):
    from sparkobs.operators.sampling import epoch_shuffle_rank

    df = spark.createDataFrame([(i,) for i in range(1, 101)], "doc_id bigint")
    e0 = {r["doc_id"]: r["shuffle_rank"]
          for r in epoch_shuffle_rank(df, "doc_id", "epoch0").collect()}
    assert sorted(e0.values()) == list(range(1, 101))  # a permutation
    # deterministic: same seed replays bit-for-bit
    again = {r["doc_id"]: r["shuffle_rank"]
             for r in epoch_shuffle_rank(df, "doc_id", "epoch0").collect()}
    assert again == e0
    # a different seed is a different permutation (not identity-equal)
    e1 = {r["doc_id"]: r["shuffle_rank"]
          for r in epoch_shuffle_rank(df, "doc_id", "epoch1").collect()}
    assert e1 != e0 and sorted(e1.values()) == list(range(1, 101))


def test_filter_funnel_marginal_arithmetic_and_null_fail(spark):
    """EXT-152 contract: NULL conditions count as FAIL (curation keeps
    only affirmative passes), n_failing is corpus-wide, marginal
    counts are position-dependent, and the funnel invariant
    n_survivors[k-1] - n_failing_marginal[k] == n_survivors[k] holds
    row by row."""
    from sparkobs.operators.text import filter_funnel

    df = spark.createDataFrame(
        [
            (1, 10, "en"),
            (2, 5, "en"),
            (3, 10, None),   # NULL lang: fails the lang rule
            (4, 10, "de"),
            (5, None, "en"), # NULL size: fails the size rule
        ],
        "id bigint, size bigint, lang string",
    )
    rows = {
        r["step"]: r
        for r in filter_funnel(
            df, [("big", "size >= 8"), ("english", "lang = 'en'")]
        ).collect()
    }
    assert rows[1]["n_input"] == 5
    assert rows[1]["n_failing"] == 2          # ids 2, 5 (NULL fails)
    assert rows[1]["n_failing_marginal"] == 2
    assert rows[1]["n_survivors"] == 3        # 1, 3, 4
    assert rows[2]["n_failing"] == 2          # id 3 (NULL lang), id 4 ('de')
    assert rows[2]["n_failing_marginal"] == 2 # of survivors {1,3,4}: 3, 4 fail
    assert rows[2]["n_survivors"] == 1        # id 1
    assert (
        rows[1]["n_survivors"] - rows[2]["n_failing_marginal"]
        == rows[2]["n_survivors"]
    )
    import pytest

    with pytest.raises(ValueError):
        filter_funnel(df, [])


def test_filter_funnel_rule_name_is_data_not_sql(spark):
    """A rule NAME containing quotes (or any SQL syntax) is a plain
    label: it must come back verbatim in the output, never be parsed
    (the r12-advice injection surface — names were interpolated into
    a generated explode expression)."""
    from sparkobs.operators.text import filter_funnel

    df = spark.createDataFrame([(1, 10), (2, 3)], "id bigint, size bigint")
    weird = "o'brien's \"big\" rule -- ); drop"
    rows = filter_funnel(df, [(weird, "size >= 8")]).collect()
    assert len(rows) == 1
    assert rows[0]["rule"] == weird
    assert rows[0]["n_survivors"] == 1


def test_curation_stage_frames_rebuild_per_call(spark):
    """r14 optimization round: the build-round cross-call memo (keyed
    on (applicationId, corpus dir)) was REMOVED — a memo keyed on the
    corpus dir let a bench's timed rep ride frames built in its
    warm-up rep, which is result caching, not computation. Every call
    must rebuild fresh (distinct frame objects), while the returned
    frames stay pinned so the MANY consumers of one call's tuple (the
    parity twin references them 6 times) don't re-run the pipeline."""
    from sparkobs.queries import _curation_stage_frames

    a = _curation_stage_frames(spark, "/root/testdata/sf0.001")
    b = _curation_stage_frames(spark, "/root/testdata/sf0.001")
    assert not any(x is y for x, y in zip(a, b))
    for frames in (a, b):
        for f in frames[1:]:  # raw is lazy by design
            assert f.storageLevel.useMemory or f.storageLevel.useDisk
    spark.catalog.clearCache()
