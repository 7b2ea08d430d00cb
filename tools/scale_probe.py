"""10× scale probe: measure wall-clock scaling of operators from sf0.1
to an sf1-equivalent corpus built by deterministic self-union.

/root/testdata is read-only and the driver's generator is not
available, so "sf1" is staged as 10 tagged copies of the sf0.1 tables
(documents: doc_id offset per copy + a per-copy token appended to the
text so near-dup density stays at the corpus's natural rate instead of
everything gaining 9 identical twins; events: event_id offset, same
hour buckets → 10× rows per window bucket, the realistic growth mode
for the windowed monitors).

Usage:
    python tools/scale_probe.py            # all probes
    python tools/scale_probe.py winnow psi # name filters

Prints a markdown table (paste into SCALE.md) of p50-of-2 warm-run
seconds at 1× and 10× and the ratio. Nothing here feeds the driver
gate — it is a measurement harness.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from sparkobs.io import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SPARKOBS_PROBE_COPIES", "10"))
# Document staging mode:
# - "tagged" (default): one copy-id token appended per copy. Prevents
#   EXACT twins but every copy stays a NEAR-dup of its siblings
#   (Jaccard ≈ (S−3)/(S+3) for 3-shingles) — so near-dup outputs grow
#   ~quadratically in COPIES: the adversarial worst case for pair
#   tiers, useful to measure output-bound behavior.
# - "natural": every 5th token is rewritten per copy, pushing
#   cross-copy Jaccard below typical thresholds (~60% of shingles
#   change) — corpus grows with NEW documents at the base corpus's
#   natural dup density: the realistic 100 TB growth mode.
DOCS_MODE = os.environ.get("SPARKOBS_PROBE_DOCS_MODE", "tagged")


def stage_10x(spark):
    """Deterministic COPIES× self-union of documents + events, cached as
    parquet in /tmp keyed by source dir and copy count."""
    import hashlib

    from pyspark.sql import functions as F

    key = hashlib.sha256(
        f"{os.path.realpath(SF_DIR)}:{COPIES}:{DOCS_MODE}:v5".encode()
    ).hexdigest()[:16]
    base = os.path.join(tempfile.gettempdir(), f"sparkobs_probe_{key}")
    docs_dir = os.path.join(base, "documents")
    ev_dir = os.path.join(base, "events")
    emb_dir = os.path.join(base, "embeddings")
    if not os.path.exists(os.path.join(ev_dir, "_SUCCESS")):
        shutil.rmtree(base, ignore_errors=True)
        docs = load_table(spark, SF_DIR, "documents")
        tagged = None
        for i in range(COPIES):
            if DOCS_MODE == "natural" and i:
                toks = F.split(F.col("text"), r"\s+")
                text_i = F.array_join(
                    F.zip_with(
                        toks,
                        F.sequence(F.lit(0), F.size(toks) - 1),
                        lambda t, j: F.when(
                            j % 5 == 0, F.concat(t, F.lit(f"_c{i}"))
                        ).otherwise(t),
                    ),
                    " ",
                )
            else:
                text_i = F.concat(F.col("text"), F.lit(f" probecopy{i}"))
            c = docs.select(
                (F.col("doc_id") + F.lit(i * 1_000_000_000)).alias("doc_id"),
                text_i.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            tagged = c if tagged is None else tagged.unionByName(c)
        tagged.write.mode("overwrite").parquet(docs_dir)
        ev = load_table(spark, SF_DIR, "events")
        bigev = None
        for i in range(COPIES):
            c = ev.withColumn(
                "event_id", F.col("event_id") + F.lit(i * 1_000_000_000)
            )
            bigev = c if bigev is None else bigev.unionByName(c)
        bigev.write.mode("overwrite").parquet(ev_dir)
        # embeddings: rotate the vector by i positions per copy —
        # norm-preserving and decorrelating (rotations of a random
        # vector are ~orthogonal), so the 10× corpus grows with NEW
        # points at natural near-dup density instead of every vector
        # gaining 9 identical twins (the adversarial all-dup mode,
        # measured separately for minhash in SCALE.md)
        emb = load_table(spark, SF_DIR, "embeddings")
        dim = len(emb.select("embedding").head()["embedding"])
        bigemb = None
        for i in range(COPIES):
            r = i % dim
            rot = (
                F.concat(
                    F.slice(F.col("embedding"), r + 1, dim - r),
                    F.slice(F.col("embedding"), 1, r),
                )
                if r
                else F.col("embedding")
            )
            if i >= dim:
                # rotations repeat after dim copies — negate the second
                # lap (norm-preserving, cosine flips sign) so a >dim×
                # staging (the 100× probe) still adds NEW points rather
                # than exact twins of the first lap
                rot = F.transform(rot, lambda x: -x)
            c = emb.select(
                (F.col("vec_id") + F.lit(i * 1_000_000_000)).alias("vec_id"),
                rot.alias("embedding"),
                "label",
            )
            bigemb = c if bigemb is None else bigemb.unionByName(c)
        bigemb.write.mode("overwrite").parquet(emb_dir)
    return docs_dir, ev_dir, emb_dir


FACT_QUERIES = (
    "volume_shipping_q7",
    # Q8 (r7 join-order fix): customer semi-reduced by broadcast
    # nation⋈region[ASIA] BEFORE the fact joins — the supplier join
    # must stay ~1/5-row as facts grow
    "market_share_q8",
    "small_qty_revenue_q17",
    "large_orders_q18",
    # pagerank's edge distinct scans the 10x facts while the node set
    # saturates — the realistic "graph derived from growing facts" mode
    "pagerank_copurchase",
    "related_suppliers_jaccard",
    # exact quantiles: 3 fact scans + bracket sort (~n/n_bins rows)
    "exact_quantiles_lineitem",
    # triangle census: suppliers saturate while orders grow, so the
    # co-occurrence graph DENSIFIES toward complete — wedge/triangle
    # output grows with density, not input rows (output-bound mode)
    "triangle_census_suppliers",
    # salted distinct: orders grow 10x over 5 hot priority keys —
    # exactly the skew the salt splits
    "salted_distinct_customers_orders",
    # per-group twopass quantiles: 3 fact scans, per-group bin tables
    "exact_quantiles_grouped_lineitem",
    # inclusion deps: distinct reductions deepen with the facts, the
    # key-table joins stay key-sized
    "inclusion_deps_star_schema",
    # mutual-kNN components: edge derivation deepens; k*nodes survivor
    # set and 8 label rounds are node-bound
    "components_supplier_mutual_knn",
    # merge upsert: one anti join, cost = base + change batch
    "merge_upsert_orders",
    # BFS reachability: edge derivation deepens with the facts; the
    # frontier/visited tables are node-bound, 3 fixed rounds
    "impact_reach_supply_chain",
    # column diff drilldown: one co-located key join + one agg, linear
    "diff_columns_orders",
    # zone map: build is one column-pruned scan; estimate is
    # fragment-count-bound (the layout re-stages per mirror dir)
    "zone_map_prune_orders",
    # CUBE: one Expand pass (4 grouping sets map-side), one shuffle
    "cube_revenue_status_priority",
    # KMV quantile sketch: TakeOrderedAndProject keeps k rows per
    # partition map-side; the certify leg is one more scan with a
    # 5-row broadcast — expect ~linear in the scans, k-bound after
    "kmv_quantiles_lineitem",
    # merge cert: one row_number window over (month) + k-row merges
    "kmv_quantiles_merged_orders",
    # grouped: one row_number window partitioned by returnflag
    "kmv_quantiles_grouped_lineitem",
    # sampled AQP: one hash-filtered scan + one map-side-combinable
    # agg — the scan deepens 10x, the shuffle stays ~1/one_in of it
    # pre-aggregated to |groups| partials
    "sampled_agg_ci_orders",
    # join-side AQP: BOTH scans are hash-filtered row-locally before the
    # join, so the 10x mirror deepens each side's scan while the join
    # and both aggs carry ~1/one_in of the rows — the scan saving
    # multiplies across the two legs
    "sampled_join_agg_ci_lineitem",
)


def stage_fact_sf_dir(spark) -> str:
    """COPIES× lineitem+orders staged as a full sf-dir mirror: the two
    fact tables are self-unioned with CONSISTENT orderkey offsets (so
    referential integrity and join selectivity survive), every
    dimension table is symlinked unchanged — exactly the 100 TB growth
    mode, where facts grow and dimensions do not. Registry queries run
    on the mirror via their normal (spark, sf_dir) contract."""
    import hashlib

    from pyspark.sql import functions as F

    key = hashlib.sha256(
        f"{os.path.realpath(SF_DIR)}:{COPIES}:facts:v1".encode()
    ).hexdigest()[:16]
    base = os.path.join(tempfile.gettempdir(), f"sparkobs_probe_facts_{key}")
    marker = os.path.join(base, "_STAGED")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        l = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders")
        bigl = bigo = None
        for i in range(COPIES):
            off = i * 10_000_000_000
            li = l.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(off))
            oi = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(off))
            bigl = li if bigl is None else bigl.unionByName(li)
            bigo = oi if bigo is None else bigo.unionByName(oi)
        bigl.write.mode("overwrite").parquet(os.path.join(base, "lineitem.parquet"))
        bigo.write.mode("overwrite").parquet(os.path.join(base, "orders.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "events", "documents", "embeddings"):
            src = os.path.join(os.path.realpath(SF_DIR), f"{t}.parquet")
            if os.path.exists(src):
                os.symlink(src, os.path.join(base, f"{t}.parquet"))
        open(marker, "w").close()
    return base


def probes():
    """name → (fn(docs_df, events_df, emb_df) -> DataFrame). Each probe
    is timed as plan + execution + count at 1× and 10×."""
    from pyspark.sql import functions as F

    from sparkobs.operators.dedup import duplicated_ngram_spans
    from sparkobs.operators.multimodal import resize_media, synth_media
    from sparkobs.operators.similarity import semantic_dedup
    from sparkobs.operators.state import distribution_drift_psi, metric_anomalies
    from sparkobs.operators.joins import key_skew_stats
    from sparkobs.operators.sampling import split_assign
    from sparkobs.operators.text import (
        chunk_documents,
        normalize_text,
        pack_manifest,
        pack_sequences,
        vocab_topk,
        winnowing_fingerprints,
    )

    def winnow(docs, ev, emb):
        return winnowing_fingerprints(docs, k=8, window=4, hash_fn="xx64")

    def resize(docs, ev, emb):
        return resize_media(synth_media(docs), out_w=8, out_h=1)

    def psi(docs, ev, emb):
        return distribution_drift_psi(ev, "ts", "value", n_bins=10, lo=0.0, hi=100.0)

    def anomaly(docs, ev, emb):
        hourly = ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        ).agg(F.count(F.lit(1)).cast("double").alias("value"))
        return metric_anomalies(
            hourly, ["event_type"], ts_col="bucket_ts", trailing=24
        )

    def chunk(docs, ev, emb):
        return chunk_documents(docs)

    def dup_span(docs, ev, emb):
        return duplicated_ngram_spans(docs, n=5)

    def span_scrub(docs, ev, emb):
        # measurement legs + one positional anti join + per-doc
        # ordered reassembly (document-length-bounded)
        from sparkobs.operators.dedup import remove_duplicated_spans

        return remove_duplicated_spans(docs, n=5)

    def pack(docs, ev, emb):
        return pack_sequences(docs, budget=512)

    def vocab(docs, ev, emb):
        return vocab_topk(docs, k=20)

    def manifest(docs, ev, emb):
        return pack_manifest(docs, budget=512)

    def norm(docs, ev, emb):
        return normalize_text(docs)

    def skew(docs, ev, emb):
        return key_skew_stats(ev, "user_id", top_n=5)

    def split(docs, ev, emb):
        return split_assign(docs, "doc_id")

    def semdedup(docs, ev, emb):
        # the clustered-corpus tier (quantize + per-bucket BLAS):
        # sign-LSH measured 52× wall-clock at 10× here because the
        # label-clustered vectors pile into hot band buckets no matter
        # how many band bits are used (103M candidates from 20k
        # vectors); n_clusters=None caps bucket occupancy at ~2k
        return semantic_dedup(
            emb, threshold=0.95, tier="ivf", n_clusters=None
        )

    def line_dedup(docs, ev, emb):
        from sparkobs.operators.text import drop_boilerplate_lines, tokens_nonempty

        toks_df = docs.select("doc_id", tokens_nonempty("text").alias("__tk"))
        n_lines = F.ceil(F.size("__tk") / F.lit(8.0)).cast("int")
        lines = F.when(
            n_lines > 0,
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice(F.col("__tk"), i * 8 + 1, 8), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        staged = toks_df.select("doc_id", F.concat_ws("\n", lines).alias("text"))
        return drop_boilerplate_lines(staged, min_docs=3)

    def bigram_ppl(docs, ev, emb):
        from sparkobs.operators.lm import bigram_perplexity

        return bigram_perplexity(docs)

    def bloom(docs, ev, emb):
        from sparkobs.operators.dedup import bloom_build, bloom_probe

        b = bloom_build(docs.where(F.col("doc_id") % 2 == 0), "text")
        return bloom_probe(docs, b, "text")

    def tfidf(docs, ev, emb):
        from sparkobs.operators.text import tfidf_top_terms

        return tfidf_top_terms(docs, k=3)

    def funnel(docs, ev, emb):
        # r12 EXT-152: 3·k conditional sums over ONE scan, 1-row agg
        # exploded driver-free — expect scan-bound (~flat at this SF)
        from sparkobs.operators.text import filter_funnel

        return filter_funnel(
            docs,
            [
                ("min_chars", "n_chars >= 150"),
                ("english", "lang = 'en'"),
                (
                    "min_words",
                    "length(text) - length(replace(text, ' ', '')) + 1 >= 40",
                ),
                ("mentions_query", "text LIKE '%query%'"),
            ],
        )

    def upsample(docs, ev, emb):
        from sparkobs.operators.sampling import upsample_mixture

        return upsample_mixture(docs, {"src0": 2.5, "src1": 0.5})

    def bpe(docs, ev, emb):
        from sparkobs.operators.bpe import bpe_train

        return bpe_train(docs, n_merges=6)

    def hll(docs, ev, emb):
        from sparkobs.operators.profile import hll_distinct

        return hll_distinct(ev, ["user_id", "event_id"])

    def hll_sliding(docs, ev, emb):
        from sparkobs.operators.profile import hll_sliding_distinct

        return hll_sliding_distinct(ev, "ts", "user_id", window_days=7)

    def theta_p(docs, ev, emb):
        # two distinct+top-k sketch builds (map-side), k-row set algebra
        from pyspark.sql import functions as F

        from sparkobs.operators.profile import (
            theta_intersect_estimate,
            theta_sketch,
        )

        cell = F.concat(
            F.col("user_id").cast("string"), F.lit(":"),
            F.expr(
                "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00',"
                " date_trunc('hour', ts))"
            ).cast("string"),
        )
        base = ev.where(F.col("user_id").isNotNull()).select(
            "event_type", cell.alias("cell")
        )
        a = base.where(F.col("event_type") == "click").select("cell")
        b = base.where(F.col("event_type") == "purchase").select("cell")
        return theta_intersect_estimate(
            theta_sketch(a, "cell", k=1024, salt="th"),
            theta_sketch(b, "cell", k=1024, salt="th"),
            1024,
        )

    def theta_grouped_p(docs, ev, emb):
        # grouped tier (r10): one distinct pass + per-group bottom-k
        # window per side, then joins over ≤ groups×k sketch rows —
        # the raw-row term is the distinct pass; set algebra is
        # group-count-bounded
        from pyspark.sql import functions as F

        from sparkobs.operators.profile import (
            theta_intersect_grouped,
            theta_sketch_grouped,
        )

        cell = F.concat(
            F.col("user_id").cast("string"), F.lit(":"),
            F.expr(
                "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00',"
                " date_trunc('hour', ts))"
            ).cast("string"),
        )
        base = ev.where(F.col("user_id").isNotNull()).select(
            F.expr("hour(ts) div 6").cast("int").alias("seg"),
            "event_type",
            cell.alias("cell"),
        )
        a = base.where(F.col("event_type") == "click").select("seg", "cell")
        b = base.where(F.col("event_type") == "purchase").select("seg", "cell")
        return theta_intersect_grouped(
            theta_sketch_grouped(a, "cell", ["seg"], k=512, salt="th"),
            theta_sketch_grouped(b, "cell", ["seg"], k=512, salt="th"),
            ["seg"],
            512,
        )

    def kmv_sliding(docs, ev, emb):
        # daily bottom-k window + day-count x k contribution explode;
        # the raw-row term is the daily row_number pass
        from sparkobs.operators.profile import kmv_quantile_sliding

        return kmv_quantile_sliding(
            ev, "ts", "event_id", "value", window_days=7, k=512,
            qs=(0.5, 0.9), salt="kmv",
        )

    def audio_fp_dedup(docs, ev, emb):
        import struct

        from pyspark.sql import functions as F

        from sparkobs.operators.multimodal import audio_fingerprint, gain_media

        header = (
            b"RIFF" + struct.pack("<I", 36 + 64) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", 64)
        )
        payload = F.concat(
            F.lit(header),
            F.substring(F.concat(F.encode("text", "UTF-8"), F.lit(bytes(64))), 1, 64),
        )
        media = docs.select(F.col("doc_id").alias("id"), payload.alias("content"))
        orig = audio_fingerprint(media).select("id", F.col("fingerprint").alias("o"))
        gain = audio_fingerprint(gain_media(media)).select(
            (F.col("id") - 1_000_000_000).alias("id"), F.col("fingerprint").alias("g")
        )
        return orig.join(gain, "id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o") == F.col("g"), 1)).alias("m"),
        )

    def video_fh_dedup(docs, ev, emb):
        from pyspark.sql import functions as F

        from sparkobs.operators.multimodal import synth_video, video_frame_hashes

        fh = video_frame_hashes(synth_video(docs), max_frames=3).select(
            "id", "ahash"
        )
        a, b = fh.alias("a"), fh.alias("b")
        return (
            a.join(
                b,
                (F.col("a.ahash") == F.col("b.ahash"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id"), F.col("b.id"))
            .distinct()
        )

    def image_near_dup(docs, ev, emb):
        from pyspark.sql import functions as F

        from sparkobs.operators.multimodal import (
            image_ahash,
            image_ahash_near_pairs,
            perturb_media,
            synth_media,
        )

        orig = synth_media(docs).where(F.col("container") == "pgm")
        imgs = orig.unionByName(perturb_media(orig))
        hashes = image_ahash(imgs).where(F.col("ahash").isNotNull()).select(
            "id", "ahash"
        )
        return image_ahash_near_pairs(hashes)

    def cms(docs, ev, emb):
        from sparkobs.operators.profile import cms_build, cms_estimate

        k = ev.select(F.col("user_id").cast("string").alias("key"))
        return cms_estimate(k, cms_build(k, "key"), "key")

    def zscore(docs, ev, emb):
        from sparkobs.operators.features import group_zscore

        return group_zscore(ev, ["event_type"], "value", keep_cols=["event_id"])

    def winsor(docs, ev, emb):
        from sparkobs.operators.features import winsorize_summary

        return winsorize_summary(ev, ["event_type"], "value")

    def tdiff(docs, ev, emb):
        from sparkobs.operators.state import table_diff

        old = ev.where(F.col("event_id") % 100 != 2)
        new = ev.where(F.col("event_id") % 100 != 0).withColumn(
            "value",
            F.when(
                F.col("event_id") % 100 == 1, F.col("value") * 2
            ).otherwise(F.col("value")),
        )
        return table_diff(old, new, ["event_id"])

    def quant(docs, ev, emb):
        from sparkobs.operators.similarity import quantize_embeddings

        return quantize_embeddings(emb)

    def sessionize_p(docs, ev, emb):
        from sparkobs.operators.behavior import session_stats

        return session_stats(ev)

    def resample(docs, ev, emb):
        from sparkobs.operators.behavior import resample_fill

        return resample_fill(ev, "event_type", "ts", "value")

    def cohort(docs, ev, emb):
        from sparkobs.operators.behavior import cohort_retention

        return cohort_retention(ev)

    def markov(docs, ev, emb):
        from sparkobs.operators.state import (
            stationary_distribution,
            transition_matrix,
        )

        return stationary_distribution(
            transition_matrix(ev, "user_id", "ts", "event_type", "event_id"), 5
        )

    def audio(docs, ev, emb):
        import struct

        from sparkobs.operators.multimodal import audio_frame_features

        header = (
            b"RIFF" + struct.pack("<I", 100) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", 64)
        )
        payload = F.concat(
            F.lit(header),
            F.substring(F.concat(F.encode("text", "UTF-8"), F.lit(bytes(64))), 1, 64),
        )
        return audio_frame_features(
            docs.select(F.col("doc_id").alias("id"), payload.alias("content"))
        )

    def hist_q(docs, ev, emb):
        from sparkobs.operators.profile import histogram_quantiles

        return histogram_quantiles(ev, "value", 0.0, 600.0, 100)

    def gsample(docs, ev, emb):
        from sparkobs.operators.sampling import group_hash_topk_sample

        return group_hash_topk_sample(ev, "event_type", "event_id", 50)

    def sparse_cos(docs, ev, emb):
        from sparkobs.operators.similarity import (
            hashed_tf_vectors,
            sparse_cosine_pairs,
        )

        return sparse_cosine_pairs(hashed_tf_vectors(docs), 0.9)

    def sparse_cos_pruned(docs, ev, emb):
        # ABSOLUTE df cap: candidates bounded by dim·cap²/2 regardless
        # of corpus size. On this tiny-vocab synthetic corpus every
        # dimension is hot, so the cap empties the candidate set (the
        # recorded worst case — recall 0 here, full candidate bound);
        # a natural Zipf vocabulary keeps its discriminative tail
        # under the cap. A relative (median) cap does NOT bound the
        # join: the r4 probe showed it still degenerating at 10×.
        from sparkobs.operators.similarity import (
            hashed_tf_vectors,
            sparse_cosine_pairs,
        )

        return sparse_cosine_pairs(hashed_tf_vectors(docs), 0.9, max_df=300)

    def sparse_cos_powerlaw_pruned(docs, ev, emb):
        # the PRODUCTION configuration on the corpus shape it exists
        # for (r9): power-law vocabulary synthesized from the scaled
        # doc_ids — head dims' df grows with the corpus and is pruned
        # by the ABSOLUTE cap; group dims stay at df≈5, so candidate
        # volume per dim is flat (≤ cap²/2) and total work grows
        # linearly with the groups. The exact tier on this corpus is
        # the quadratic head join (n_hot·C(N,2) candidate rows) — its
        # cliff is measured once in SCALE.md's r9 note, not re-run at
        # every probe scale.
        from sparkobs.operators.similarity import (
            hashed_tf_vectors,
            sparse_cosine_pairs,
            synth_powerlaw_corpus,
        )

        # SPARKOBS_PL_DIM: the operator guidance is "scale dim with
        # vocabulary" — the 100× probe passes 2^20 so per-dim df stays
        # ≈ corpus_tokens/dim ≪ cap and the prune keeps its recall
        # (with dim FIXED at 65536 a 100× corpus saturates every dim
        # past the cap: sub-linear wall but empty output — the
        # documented failure mode, not a win)
        pl_dim = int(os.environ.get("SPARKOBS_PL_DIM", "65536"))
        vecs = hashed_tf_vectors(
            synth_powerlaw_corpus(docs.select("doc_id")), dim=pl_dim
        )
        return sparse_cosine_pairs(vecs, 0.5, max_df=32)

    def sparse_cos_powerlaw_exact_leg(docs, ev, emb):
        # the EXACT comparison leg for the production prune, moved
        # here from the registry in r11 (the retired
        # sparse_cosine_powerlaw_exact entry — tombstone in
        # queries.py): same corpus, same threshold, NO df cap, so the
        # dim-index join meets the Zipf head and candidate volume is
        # n_hot·C(N,2). Run this probe next to
        # sparse_cosine_powerlaw_pruned at matching scales to
        # re-measure the pruned-vs-exact gap on demand; identical
        # outputs are property-tested (tests/test_r9_ops.py), so the
        # probe only needs to record wall clock.
        from sparkobs.operators.similarity import (
            hashed_tf_vectors,
            sparse_cosine_pairs,
            synth_powerlaw_corpus,
        )

        pl_dim = int(os.environ.get("SPARKOBS_PL_DIM", "65536"))
        vecs = hashed_tf_vectors(
            synth_powerlaw_corpus(docs.select("doc_id")), dim=pl_dim
        )
        return sparse_cosine_pairs(vecs, 0.5)

    def bloom_semi(docs, ev, emb):
        from sparkobs.operators.dedup import bloom_semi_join

        dim = ev.where(F.col("event_type") == "purchase").select("user_id")
        return bloom_semi_join(ev, dim, "user_id", "user_id")

    def ewma(docs, ev, emb):
        from sparkobs.operators.state import ewma_smooth

        hourly = ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        ).agg(F.count(F.lit(1)).cast("double").alias("value"))
        return ewma_smooth(hourly, ["event_type"], "bucket_ts", "value")

    def hh(docs, ev, emb):
        from sparkobs.operators.profile import heavy_hitters
        from sparkobs.operators.text import tokens_nonempty

        toks = docs.select(F.explode(tokens_nonempty("text")).alias("token"))
        return heavy_hitters(toks, "token", k=40)

    def purge(docs, ev, emb):
        from sparkobs.operators.checks import retention_purge

        tombs = ev.select("user_id").where(F.col("user_id") % 100 == 7)
        _, audit = retention_purge(
            ev, "user_id", tombstones=tombs, ts_col="ts",
            cutoff="2024-01-08 00:00:00",
        )
        return audit

    def canon(docs, ev, emb):
        # LSH tier for the grouping stage: the exact tier is linear at
        # 10x here (9.8x measured) but its absolute pair-join cost
        # dwarfs the survivor-selection window this probe targets
        from sparkobs.operators.dedup import keep_best_canonical, near_dup_groups

        groups = near_dup_groups(docs, n=3, threshold=0.2, tier="lsh")
        return keep_best_canonical(docs, groups, "n_chars")

    def jsd(docs, ev, emb):
        from sparkobs.operators.text import vocab_jsd

        return vocab_jsd(
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )

    def checks_p(docs, ev, emb):
        from sparkobs.operators.checks import run_checks

        return run_checks(
            ev,
            [
                ("not_null", "event_id"),
                ("unique", "event_id"),
                ("accepted_values", "event_type",
                 ("click", "error", "purchase", "signup", "view")),
                ("range", "value", 0, 1000),
                ("row_count_between", 1, 10**12),
            ],
        )

    def jdiag(docs, ev, emb):
        from sparkobs.operators.joins import join_size_diagnostic

        return join_size_diagnostic(ev, ev, "user_id", "user_id")

    def minhash_lsh(docs, ev, emb):
        from sparkobs.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(docs, n=3, threshold=0.5, hash_fn="xx64")

    def near_dup_lsh(docs, ev, emb):
        from sparkobs.operators.dedup import near_dup_groups

        return near_dup_groups(docs, n=3, threshold=0.2, tier="lsh")

    def bpe_batched(docs, ev, emb):
        # batching contract: ~B× fewer driver rounds than merges.
        # LAST_TRAIN_ROUNDS is printed alongside the timing table.
        from sparkobs.operators import bpe

        out = bpe.bpe_train(docs, n_merges=24, batch_size=8)
        out.count()
        print(
            f"# bpe_train_batched: {bpe.LAST_TRAIN_ROUNDS} driver rounds "
            f"for 24 merges (batch_size=8)",
            file=sys.stderr,
        )
        return out

    _cdc_base_memo: dict[int, object] = {}

    def cdc_maintain(docs, ev, emb):
        # change-batch scaling contract: the maintained agg is built
        # ONCE per scale (memoized, checkpointed — it is the standing
        # materialized view), so the timed path is delta-agg + one
        # outer join with the view. Keys (user_id) have the SAME
        # cardinality at 1x and Nx (staging offsets event_id only),
        # so a flat ratio is the pass condition.
        from sparkobs.operators.state import cdc_agg_maintain

        k = id(ev)
        if k not in _cdc_base_memo:
            _cdc_base_memo[k] = (
                ev.groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("value").alias("sum_value"),
                )
                .localCheckpoint(eager=True)
            )
        spark = ev.sparkSession
        changes = spark.range(2000).selectExpr(
            "id % 500 AS user_id",
            "CASE WHEN id % 3 = 0 THEN 'insert' WHEN id % 3 = 1 "
            "THEN 'delete' ELSE 'update' END AS op",
            "CAST(id % 97 AS DOUBLE) AS value",
            "CAST(id % 89 AS DOUBLE) AS __old_value",
        )
        return cdc_agg_maintain(_cdc_base_memo[k], changes, ["user_id"], "value")

    def monitor_health_p(docs, ev, emb):
        from sparkobs.operators.state import monitor_health

        return monitor_health(
            ev, key_col="event_type", ts_col="ts", value_col="value",
            user_col="user_id",
        )

    def gram_d64(docs, ev, emb):
        from sparkobs.operators.similarity import gram_matrix

        return gram_matrix(emb)

    def gram_d512(docs, ev, emb):
        # the dim^2 shuffle term: same rows, 8x wider vectors (64 ->
        # 512 dims by self-concatenation) -> 64x more gramian cells;
        # shuffle volume is O(partitions * dim^2), row work is BLAS
        from sparkobs.operators.similarity import gram_matrix

        wide = emb.select(
            "vec_id",
            F.flatten(F.array_repeat(F.col("embedding"), 8)).alias("embedding"),
        )
        return gram_matrix(wide)

    def spearman_p(docs, ev, emb):
        from sparkobs.operators.profile import spearman_corr

        return spearman_corr(ev.where(F.col("value").isNotNull()), "value", "user_id")

    def assoc_p(docs, ev, emb):
        from sparkobs.operators.behavior import association_rules

        return association_rules(ev, "user_id", "event_type", min_support=10)

    def scd2_p(docs, ev, emb):
        from sparkobs.operators.state import scd2_history

        return scd2_history(ev, ["user_id"], "event_type", "ts", "event_id")

    def islands_p(docs, ev, emb):
        from sparkobs.operators.behavior import activity_islands

        return activity_islands(ev, ["event_type"], "ts")

    def rfm_p(docs, ev, emb):
        from sparkobs.operators.behavior import rfm_scores

        return rfm_scores(ev, "user_id", "ts", "value")

    def zipf_p(docs, ev, emb):
        from sparkobs.operators.text import zipf_fit

        return zipf_fit(docs)

    def pmi_p(docs, ev, emb):
        from sparkobs.operators.text import bigram_pmi

        return bigram_pmi(docs, k=20, min_count=5)

    def interarrival_p(docs, ev, emb):
        from sparkobs.operators.behavior import interarrival_stats

        return interarrival_stats(ev, ["user_id"], ["event_type"], "ts", "event_id")

    def emd_p(docs, ev, emb):
        from sparkobs.operators.profile import emd_drift_binned

        return emd_drift_binned(
            ev.where(F.col("event_id") % 2 == 0),
            ev.where(F.col("event_id") % 2 == 1),
            "value", 0.0, 600.0, 100,
        )

    def kmeans_p(docs, ev, emb):
        # iterative contract: per iteration one corpus scan + one
        # (k*dim)-group hash agg; expect ~linear in vectors (the
        # assignment scan IS the corpus pass)
        from sparkobs.operators.cluster import kmeans_fit

        return kmeans_fit(emb, k=8, iters=2)

    def cuped_p(docs, ev, emb):
        # one per-user agg + one sufficient-stats agg; the unit table
        # has the SAME user cardinality at every scale (staging
        # offsets event_id only), so the per-unit pass dominates
        from sparkobs.operators.features import cuped_lift
        from sparkobs.operators.sampling import _hash64

        cents = F.round(F.col("value") * 100, 0).cast("long")
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        units = (
            ev.groupBy("user_id")
            .agg(
                F.coalesce(F.sum(F.when(F.col("ts") < mid, cents)), F.lit(0)).alias("x"),
                F.coalesce(F.sum(F.when(F.col("ts") >= mid, cents)), F.lit(0)).alias("y"),
            )
            .withColumn("v", _hash64("user_id", "ab") % 2)
        )
        return cuped_lift(units, "v", "x", "y")

    def attribution_p(docs, ev, emb):
        # one user-partitioned window pass + two hash aggs; user
        # cardinality is fixed under staging, so journeys get 10x
        # longer — the window's per-partition reverse scan is linear
        from sparkobs.operators.behavior import linear_attribution

        return linear_attribution(ev, conversion="purchase")

    def bm25_p(docs, ev, emb):
        # two corpus scans (1-row checkpointed stats + scoring pass)
        from sparkobs.operators.text import bm25_scores

        return bm25_scores(docs, terms=["data", "vector"])

    def time_weighted_p(docs, ev, emb):
        # one per-user lead window + one hash agg; journeys get 10x
        # longer under staging (fixed user set)
        from sparkobs.operators.behavior import duration_weighted_mean

        return duration_weighted_mean(ev)

    def disorder_p(docs, ev, emb):
        # distributed prefix max: range exchange + per-partition
        # frame window + broadcast offsets
        from sparkobs.operators.state import event_disorder_stats

        return event_disorder_stats(ev)

    def budget_select_p(docs, ev, emb):
        # quality scan + distributed running sum over the doc table
        from sparkobs.operators.sampling import budget_select

        return budget_select(docs, budget_tokens=100_000)

    def epoch_shuffle_p(docs, ev, emb):
        # md5 + distributed global index; pure scan + range exchange
        from sparkobs.operators.sampling import epoch_shuffle_rank

        return epoch_shuffle_rank(docs.select("doc_id"), "doc_id")

    def conversion_paths_p(docs, ev, emb):
        # same tagging window as attribution + a path hash agg
        from sparkobs.operators.behavior import conversion_paths

        return conversion_paths(ev, conversion="purchase")

    def freshness_p(docs, ev, emb):
        # one max() aggregate per table
        from sparkobs.operators.checks import freshness_check

        return freshness_check(
            [("events", ev, "ts")], "2024-02-01 00:00:00",
            {"events": 7 * 86400},
        )

    def partition_gaps_p(docs, ev, emb):
        # distinct bucket reduction + spine anti join (span-bounded)
        from sparkobs.operators.checks import partition_gaps

        return partition_gaps(ev, "ts", "minute")

    def drilldown_p(docs, ev, emb):
        # two hash aggs + a dim-sized full outer join
        from pyspark.sql import functions as F

        from sparkobs.operators.metrics import delta_contribution

        cents = ev.withColumn(
            "cents", F.round(F.col("value") * 100, 0).cast("long")
        )
        mid = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        return delta_contribution(
            cents.where(F.col("ts") < mid),
            cents.where(F.col("ts") >= mid),
            "event_type",
            "cents",
        )

    def seasonal(docs, ev, emb):
        from sparkobs.operators.features import group_zscore

        b = ev.select(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
            F.col("value").cast("double").alias("v"),
        )
        z = group_zscore(b, ["dow", "hod"], "v", keep_cols=["v"])
        return z.groupBy("dow", "hod").agg(
            F.count(F.lit(1)).alias("n"), F.max(F.abs("zscore")).alias("mz")
        )

    def lead_lag(docs, ev, emb):
        from sparkobs.operators.state import lead_lag_corr

        return lead_lag_corr(ev, "ts", "event_type", "click", "purchase")

    def slo_burn(docs, ev, emb):
        from sparkobs.operators.checks import slo_burn_rate

        return slo_burn_rate(ev, "ts", F.col("event_type") == "error")

    def km_surv(docs, ev, emb):
        from sparkobs.operators.behavior import km_survival

        # per-user first→last event span, observed = saw a purchase;
        # step table is distinct-duration-sized, windows run over it
        dur = ev.groupBy("user_id").agg(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("long").alias("duration"),
            F.max((F.col("event_type") == "purchase").cast("int"))
            .cast("boolean").alias("observed"),
        )
        return km_survival(dur)

    def monitor_suite_p(docs, ev, emb):
        from sparkobs.monitors import monitor_suite

        return monitor_suite(
            [
                ("events", ev, "ts",
                 [("not_null", "user_id"), ("range", "value", 0.0, 1e9)]),
                ("documents", docs, None,
                 [("unique", "doc_id"), ("not_null", "text")]),
            ],
            as_of="2026-01-01T00:00:00",
        )

    def incidents(docs, ev, emb):
        from sparkobs.operators.state import incident_groups, metric_anomalies

        hourly = ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        ).agg(F.count(F.lit(1)).cast("double").alias("value"))
        flags = metric_anomalies(
            hourly, ["event_type"], ts_col="bucket_ts", value_col="value"
        ).where(F.col("is_anomaly"))
        return incident_groups(flags)

    return {
        "winnowing_xx64": winnow,
        "resize_synth": resize,
        "psi_drift": psi,
        "metric_anomalies": anomaly,
        "chunk_documents": chunk,
        "dup_span_coverage": dup_span,
        "span_scrub": span_scrub,
        "pack_sequences": pack,
        "vocab_topk": vocab,
        "pack_manifest": manifest,
        "normalize_text": norm,
        "key_skew_stats": skew,
        "split_assign": split,
        "km_survival": km_surv,
        "monitor_suite": monitor_suite_p,
        "seasonal_profile": seasonal,
        "lead_lag_corr": lead_lag,
        "slo_burn_rate": slo_burn,
        "incident_groups": incidents,
        "semantic_dedup": semdedup,
        "line_dedup": line_dedup,
        "bigram_ppl": bigram_ppl,
        "bloom_probe": bloom,
        "tfidf_topk": tfidf,
        "filter_funnel": funnel,
        "upsample_mixture": upsample,
        "bpe_train": bpe,
        "hll_distinct": hll,
        "hll_sliding": hll_sliding,
        "kmv_sliding": kmv_sliding,
        "theta_intersect": theta_p,
        "theta_intersect_grouped": theta_grouped_p,
        "image_near_dup": image_near_dup,
        "audio_fp_dedup": audio_fp_dedup,
        "video_fh_dedup": video_fh_dedup,
        "cms_estimate": cms,
        "group_zscore": zscore,
        "winsorize": winsor,
        "table_diff": tdiff,
        "quantize_emb": quant,
        "sessionize": sessionize_p,
        "resample_locf": resample,
        "cohort_retention": cohort,
        "markov_stationary": markov,
        "audio_frame_rms": audio,
        "hist_quantiles": hist_q,
        "group_hash_sample": gsample,
        "sparse_cosine": sparse_cos,
        "sparse_cosine_pruned": sparse_cos_pruned,
        "sparse_cosine_powerlaw_pruned": sparse_cos_powerlaw_pruned,
        "sparse_cosine_powerlaw_exact_leg": sparse_cos_powerlaw_exact_leg,
        "bloom_semi_join": bloom_semi,
        "ewma_hourly": ewma,
        "heavy_hitters": hh,
        "retention_purge": purge,
        "canonical_dedup": canon,
        "vocab_jsd": jsd,
        "contract_checks": checks_p,
        "join_size_diag": jdiag,
        "minhash_lsh_pairs": minhash_lsh,
        "near_dup_groups_lsh": near_dup_lsh,
        "bpe_train_batched": bpe_batched,
        "cdc_agg_maintain": cdc_maintain,
        "monitor_health": monitor_health_p,
        "gram_matrix_d64": gram_d64,
        "gram_matrix_d512": gram_d512,
        "spearman_corr": spearman_p,
        "assoc_rules": assoc_p,
        "scd2_history": scd2_p,
        "activity_islands": islands_p,
        "rfm_scores": rfm_p,
        "zipf_fit": zipf_p,
        "bigram_pmi": pmi_p,
        "interarrival": interarrival_p,
        "emd_drift": emd_p,
        "kmeans_fit": kmeans_p,
        "cuped_lift": cuped_p,
        "attribution_linear": attribution_p,
        "bm25_search": bm25_p,
        "time_weighted_mean": time_weighted_p,
        "event_disorder": disorder_p,
        "budget_select": budget_select_p,
        "epoch_shuffle": epoch_shuffle_p,
        "conversion_paths": conversion_paths_p,
        "freshness_check": freshness_p,
        "partition_gaps": partition_gaps_p,
        "delta_drilldown": drilldown_p,
    }


def time_df(make):
    runs = []
    make().count()  # warm-up: codegen compile
    for _ in range(2):
        t0 = time.perf_counter()
        make().count()
        runs.append(time.perf_counter() - t0)
    return round(sorted(runs)[0], 2)


def main() -> int:
    filters = sys.argv[1:]
    from sparkobs.session import get_spark

    spark = get_spark("scale-probe")
    spark.range(1000).selectExpr("sum(id)").collect()

    docs1 = load_table(spark, SF_DIR, "documents")
    ev1 = load_table(spark, SF_DIR, "events")
    emb1 = load_table(spark, SF_DIR, "embeddings")
    docs_dir, ev_dir, emb_dir = stage_10x(spark)
    docs10 = spark.read.parquet(docs_dir)
    ev10 = spark.read.parquet(ev_dir)
    emb10 = spark.read.parquet(emb_dir)

    print(f"| operator | 1× ({docs1.count()} docs / {ev1.count()} ev) "
          f"| {COPIES}× | ratio |")
    print("|---|---|---|---|")
    worst = 0.0
    for name, fn in probes().items():
        if filters and not any(f in name for f in filters):
            continue
        t1 = time_df(lambda: fn(docs1, ev1, emb1))
        t10 = time_df(lambda: fn(docs10, ev10, emb10))
        ratio = t10 / max(t1, 1e-9)
        worst = max(worst, ratio)
        print(f"| {name} | {t1} s | {t10} s | {ratio:.1f}× |")
    fact_names = [n for n in FACT_QUERIES
                  if not filters or any(f in n for f in filters)]
    if fact_names:
        import sparkobs.queries as Q

        fact_dir = stage_fact_sf_dir(spark)
        print(f"\n| fact query | 1× lineitem | {COPIES}× lineitem | ratio |")
        print("|---|---|---|---|")
        for name in fact_names:
            fn = Q.SPARK_QUERIES[name]
            t1 = time_df(lambda: fn(spark, SF_DIR))
            tN = time_df(lambda: fn(spark, fact_dir))
            ratio = tN / max(t1, 1e-9)
            worst = max(worst, ratio)
            print(f"| {name} | {t1} s | {tN} s | {ratio:.1f}× |")
    print(f"\n# worst ratio {worst:.1f}× at {COPIES}× data "
          f"({'OK: sub-linear headroom' if worst < COPIES else 'SUPER-LINEAR — investigate'})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
