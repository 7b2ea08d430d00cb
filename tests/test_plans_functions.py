"""Plan discipline: assert the physical plans stay scale-worthy, and
test the scalar function library."""

from pyspark.sql import functions as F

import sparkobs.queries as Q
from sparkobs.functions import basename, dirname, flatten_struct
from plan_helpers import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_final_agg,
    assert_pruned,
    assert_pushdown,
    scans,
)

SF = "/root/testdata/sf0.001"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = Q.SPARK_QUERIES["pricing_summary"](spark, SF)
    assert_pushdown(df, "l_shipdate")
    assert_pruned(df, max_cols=6)  # 6 of lineitem's 11 columns
    assert_partial_final_agg(df)


def test_revenue_per_nation_broadcasts(spark):
    df = Q.SPARK_QUERIES["revenue_per_nation"](spark, SF)
    assert_broadcast_join(df)
    assert_no_cartesian(df)
    # orders scan reads only the join key + measure
    assert any(s["schema"].count(":") == 2 for s in scans(df))


def test_lookup_join_broadcasts(spark):
    df = Q.SPARK_QUERIES["lookup_join_fill_nation"](spark, SF)
    assert_broadcast_join(df)


def test_histogram_reads_one_column(spark):
    df = Q.SPARK_QUERIES["histogram_quantity"](spark, SF)
    assert_pruned(df, max_cols=1)
    assert_pushdown(df, "l_quantity")


def test_jaccard_no_cartesian(spark):
    df = Q.SPARK_QUERIES["ngram_jaccard_pairs"](spark, SF)
    assert_no_cartesian(df)


def test_path_helpers(spark):
    df = spark.createDataFrame(
        [("s3://bucket//data/part-0.parquet", 2097152)], "path string, size long"
    )
    r = df.select(
        basename("path").alias("b"),
        dirname("path").alias("d"),
    ).collect()[0]
    assert r.b == "part-0.parquet"
    assert r.d == "s3://bucket//data"


def test_flatten_struct_nested(spark):
    df = spark.createDataFrame([(1, ("a", (2.0, "z")))], "id int, s struct<x:string, y:struct<p:double, q:string>>")
    out = flatten_struct(df)
    assert out.columns == ["id", "s__x", "s__y__p", "s__y__q"]
    r = out.collect()[0]
    assert r.s__x == "a" and r.s__y__p == 2.0 and r.s__y__q == "z"


def test_asof_join_no_cartesian_single_shuffle(spark):
    df = Q.SPARK_QUERIES["asof_join_events_orders"](spark, SF)
    assert_no_cartesian(df)
    from sparkobs.plans import physical_plan

    plan = physical_plan(df)
    # union + window implementation: no join operator at all
    assert "Join" not in plan or "BroadcastHashJoin" not in plan


def test_pipeline_composition_plan(spark):
    df = Q.SPARK_QUERIES["pipeline_filtered_corpus"](spark, SF)
    assert_no_cartesian(df)
    assert_partial_final_agg(df)


def test_source_quota_cap_window_group_limit(spark):
    # the rank filter must push below the window sort (WindowGroupLimit:
    # each partition keeps only quota rows per group before the shuffle
    # sort finishes) — the property that makes quota capping viable on
    # heavy domains at 100 TB
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["source_quota_cap"](spark, SF)
    assert "WindowGroupLimit" in physical_plan(df)


def test_chunk_documents_is_narrow(spark):
    # chunking is a pure per-row expansion: the plan must contain NO
    # exchange — it pipelines inside one stage whatever the input size
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["chunk_documents"](spark, SF)
    assert "Exchange" not in physical_plan(df)


def test_contamination_broadcasts_eval_side(spark):
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["contamination_check"](spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert_no_cartesian(df)


def test_jdbc_monitor_prunes_remote_columns(spark):
    # the JDBC monitor profiles a 2-column projection: the remote SELECT
    # list (ReadSchema on the JDBC relation) must carry exactly those
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["jdbc_monitor_nation"](spark, SF)
    plan = physical_plan(df)
    assert "JDBCRelation" in plan
    assert "n_name" not in plan  # unprofiled column never leaves the DB


def test_sampling_and_scrub_are_narrow(spark):
    # hash-mod sampling and PII scrubbing are pure row-local
    # select/filter: NO exchange anywhere — they pipeline inside the
    # scan stage at any scale
    from sparkobs.plans import physical_plan

    for name in ("hash_sample_orders", "stratified_sample_orders", "pii_scrub_documents"):
        df = Q.SPARK_QUERIES[name](spark, SF)
        assert "Exchange" not in physical_plan(df), name
        assert "BatchEvalPython" not in physical_plan(df), name


def test_curation_single_window_group_limit(spark):
    # quality-ranked curation: exactly one shuffle (the group key), and
    # the rank filter pushed below the sort via WindowGroupLimit
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["quality_topk_per_source"](spark, SF)
    plan = physical_plan(df)
    assert plan.count("Exchange") <= 2  # AQE may stage-split one exchange
    assert "WindowGroupLimit" in plan
    assert_no_cartesian(df)


def test_repetition_no_cartesian_no_python(spark):
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["repetition_stats_documents"](spark, SF)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan
    assert_no_cartesian(df)


def test_partitioned_read_prunes_partitions(spark):
    # the lang='en' slice must reach the scan as a PartitionFilter
    # (directory-level pruning), not a row-level post-filter
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["partitioned_prune_documents"](spark, SF)
    plan = physical_plan(df)
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*lang[^\]]*\]", plan)
    assert m, f"no partition filter on lang in:\n{plan[:2000]}"


def test_bucketed_join_has_no_exchange(spark):
    # both sides pre-bucketed on the join key: the join must run with
    # ZERO shuffles — the whole point of paying the shuffle at write
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["bucketed_join_orders_lineitem"](spark, SF)
    df.count()  # materialize through AQE so the final plan is real
    plan = physical_plan(df)
    join_part = plan.split("HashAggregate")[-1]  # below the final agg
    assert "Exchange" not in join_part, f"unexpected shuffle:\n{plan[:3000]}"
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_pack_sequences_no_global_window_and_dup_span_no_cartesian(spark):
    # packing's cumsum must come from the per-partition+offsets plan
    # (no empty-partitionBy window); the dup-span join keys on shingles
    from plan_helpers import assert_no_cartesian, physical_plan

    df = Q.SPARK_QUERIES["pack_sequences_documents"](spark, SF)
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "__pid" in line, f"unpartitioned window: {line}"
    ds = Q.SPARK_QUERIES["dup_span_coverage_documents"](spark, SF)
    assert_no_cartesian(ds)


def test_fk_orphans_keys_only_scan(spark):
    # the anti join must move ONLY the key columns, not whole tables
    from plan_helpers import scans

    df = Q.SPARK_QUERIES["fk_orphans_lineitem"](spark, SF)
    key_scans = [s for s in scans(df) if "l_orderkey" in s["schema"] or "o_orderkey" in s["schema"]]
    assert key_scans and all(s["schema"].count(":") == 1 for s in key_scans)


def test_round5_olap_plans_scale_worthy(spark):
    from sparkobs.plans import physical_plan

    # Q6: predicates reach the scan; one exchange (final agg) total
    from plan_helpers import count_exchanges

    df = Q.SPARK_QUERIES["forecast_revenue_q6"](spark, SF)
    assert_pushdown(df, "l_shipdate")
    assert count_exchanges(df) == 1
    # Q5: six-table star join — no cartesian anywhere
    assert_no_cartesian(Q.SPARK_QUERIES["local_supplier_volume_q5"](spark, SF))
    # Q4: EXISTS compiles to a semi join (no row multiplication)
    assert "LeftSemi" in physical_plan(
        Q.SPARK_QUERIES["late_shipment_priority_q4"](spark, SF)
    )


def test_top_customers_window_group_limit(spark):
    from sparkobs.plans import physical_plan

    p = physical_plan(Q.SPARK_QUERIES["top_customers_per_nation"](spark, SF))
    assert "WindowGroupLimit" in p  # per-partition K-heaps before the shuffle


def test_gram_matrix_single_shuffle_no_row_transfer(spark):
    from sparkobs.plans import physical_plan

    from plan_helpers import count_exchanges

    # one exchange, keyed by (i, j) cells — O(partitions·dim²), not rows
    assert count_exchanges(Q.SPARK_QUERIES["gram_matrix_embeddings"](spark, SF)) == 1


def test_q22_anti_join_and_broadcast_scalar(spark):
    from sparkobs.plans import physical_plan

    p = physical_plan(Q.SPARK_QUERIES["global_sales_opportunity_q22"](spark, SF))
    assert "LeftAnti" in p           # NOT EXISTS → anti join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p  # the scalar cross join broadcasts


def test_q13_outer_join_keeps_zero_order_customers(spark):
    # semantic pin, not just plan: customers with no (non-urgent)
    # orders must appear in the c_count=0 bucket
    df = Q.SPARK_QUERIES["customer_distribution_q13"](spark, SF)
    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    assert sum(rows.values()) > 0
    import duckdb

    n_customers = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{SF}/customer.parquet')"
    ).fetchone()[0]
    assert sum(rows.values()) == n_customers  # outer join lost nobody


def test_rollup_levels_complete(spark):
    # ROLLUP (region, nation) = leaf rows + one subtotal per region +
    # one grand total; 'ALL' labels never collide with real names
    df = Q.SPARK_QUERIES["rollup_revenue_region_nation"](spark, SF)
    rows = df.collect()
    regions = {r["region"] for r in rows if r["region"] != "ALL"}
    leaf = [r for r in rows if r["region"] != "ALL" and r["nation"] != "ALL"]
    region_sub = [r for r in rows if r["region"] != "ALL" and r["nation"] == "ALL"]
    grand = [r for r in rows if r["region"] == "ALL"]
    assert len(grand) == 1 and grand[0]["nation"] == "ALL"
    assert len(region_sub) == len(regions)
    assert len(rows) == len(leaf) + len(region_sub) + 1
    # subtotals are consistent: suppliers per region == sum over its nations
    per_region = {}
    for r in leaf:
        per_region[r["region"]] = per_region.get(r["region"], 0) + r["n_suppliers"]
    for r in region_sub:
        assert per_region[r["region"]] == r["n_suppliers"]
    assert grand[0]["n_suppliers"] == sum(per_region.values())


def test_q17_preagg_sees_only_brand_qualifying_lineitem(spark):
    from plan_helpers import physical_plan, scans

    # The 0.2*avg per-part limit rides a WINDOW over the single
    # lineitem ⋈ broadcast(part) frame: ONE lineitem scan, ONE partkey
    # shuffle, and the brand filter reaches the part scan — an
    # unfiltered per-part average (or a second scan for a self-join
    # leg) is a full-lineitem re-read at 100 TB.
    import re

    df = Q.SPARK_QUERIES["small_qty_revenue_q17"](spark, SF)
    p = physical_plan(df)
    # one join NODE (formatted plans print each node twice: tree+detail)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 1
    assert "Window" in p
    assert len(scans(df)) == 2  # lineitem once, part once
    assert_pushdown(df, "p_brand")
    assert_no_cartesian(df)


def test_r6_wave_plan_discipline(spark):
    from plan_helpers import count_exchanges, physical_plan

    # Q8: 6-table star — dimension legs broadcast, no cartesian
    q8 = Q.SPARK_QUERIES["market_share_q8"](spark, SF)
    assert_no_cartesian(q8)
    assert physical_plan(q8).count("BroadcastHashJoin") >= 3
    # Q15: the max-revenue filter is a 1-row broadcast, not a rescan
    q15 = Q.SPARK_QUERIES["top_supplier_q15"](spark, SF)
    p15 = physical_plan(q15)
    assert "CartesianProduct" not in p15
    assert "BroadcastExchange" in p15 or "BroadcastNestedLoopJoin" in p15
    # debounce: one shuffle (the per-key window) and nothing else
    dbc = Q.SPARK_QUERIES["debounce_events_user_type"](spark, SF)
    assert count_exchanges(dbc) == 1
    # minmax normalization: one shuffle for the per-group window
    mmx = Q.SPARK_QUERIES["minmax_norm_events_by_type"](spark, SF)
    assert count_exchanges(mmx) <= 2


def test_gate_window_plan_hygiene(spark):
    """Fleet-wide anti-pattern screen over the driver gate window:
    no row-at-a-time Python UDF (BatchEvalPython) and no cartesian
    product anywhere in any gated query's plan. Arrow-batched kernels
    (MapInPandas / ArrowEvalPython) and 1-row broadcast scalars
    (BroadcastNestedLoopJoin) are the sanctioned shapes and stay
    allowed. Streaming and stage-writing queries are skipped — their
    build step executes jobs; their plans are pinned individually."""
    import __spark_entry__ as entrymod

    from sparkobs.plans import physical_plan

    SKIP_PREFIXES = ("streaming_", "compaction_execute", "csv_roundtrip",
                     "jsonl_roundtrip", "orc_roundtrip")
    SKIP_HEAVY = {
        # build step trains/collects (certified + probed elsewhere)
        "bpe_batched_parity_documents",
        "pca_variance_embeddings",
        "semantic_dedup_embeddings",
        "semantic_dedup_ivf_embeddings",
    }
    qs = dict(list(entrymod.queries().items())[: entrymod.GATE_SIZE])
    offenders = []
    for name, fn in qs.items():
        if name.startswith(SKIP_PREFIXES) or name in SKIP_HEAVY:
            continue
        try:
            p = physical_plan(fn(spark, "/root/testdata/sf0.001"))
        except Exception as e:  # noqa: BLE001 - surface as a failure list
            offenders.append(f"{name}: plan build failed: {e}")
            continue
        if "BatchEvalPython" in p:
            offenders.append(f"{name}: row-at-a-time Python UDF")
        if "CartesianProduct" in p:
            offenders.append(f"{name}: cartesian product")
    assert not offenders, "; ".join(offenders)


def test_iterative_wave_plan_discipline(spark):
    from plan_helpers import (
        assert_no_cartesian,
        assert_partial_final_agg,
        physical_plan,
        scans,
    )

    # k-means: at the dense tier (any test SF) the final assignment
    # comes from the numpy superstep mirror, so the FINAL plan is
    # LocalTableScan-rooted — zero parquet scans (r14: the old
    # crossJoin(broadcast centroids)+window re-pass over the corpus
    # answered a question the dense kernel already held); the k-row
    # centroid-ss table still broadcasts and the stats agg is
    # partial+final
    km = Q.SPARK_QUERIES["kmeans_embeddings"](spark, SF)
    assert len(scans(km)) == 0
    p = physical_plan(km)
    assert "BroadcastExchange" in p and "CartesianProduct" not in p
    assert_partial_final_agg(km)

    # PageRank: rank/edge state is checkpointed (no parquet rescans in
    # the final plan) and nothing degenerates into a cartesian product
    pr = Q.SPARK_QUERIES["pagerank_copurchase"](spark, SF)
    assert len(scans(pr)) == 0  # everything beyond checkpoints
    assert_no_cartesian(pr)


def test_ols_single_scan_three_columns_one_exchange(spark):
    from plan_helpers import count_exchanges, scans

    ols = Q.SPARK_QUERIES["ols_pricing_lineitem"](spark, SF)
    sc = scans(ols)
    # one pass over lineitem reading only the three regression columns
    assert len(sc) == 1
    assert sc[0]["schema"].count(",") == 2
    # sufficient statistics: one partial+final agg -> a single exchange
    assert count_exchanges(ols) == 1


def test_ann_recall_semi_join_no_cartesian(spark):
    # plan-shape guard carried over from the r14-retired
    # `ann_recall_embeddings` registry entry (SURVEY §2.11 swap-ledger
    # #4; value witness: test_dedup_similarity.py::
    # test_ann_recall_ivf_retirement_witness_sf001) — the recall
    # composition stays a LeftSemi equi-probe, never a cartesian
    from pyspark.sql import functions as F

    from plan_helpers import assert_no_cartesian, physical_plan

    truth = (
        Q.SPARK_QUERIES["cosine_topk"](spark, SF)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    approx = Q.SPARK_QUERIES["cosine_topk_ivf"](spark, SF).select(
        "vec_id", "neighbor_id"
    )
    df = truth.join(approx, ["vec_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("cnt_h")
    )
    assert "LeftSemi" in physical_plan(df)
    assert_no_cartesian(df)


def test_r6_late_wave_plans_scale_worthy(spark):
    from plan_helpers import assert_no_cartesian, physical_plan

    # BFS reachability: frontier joins are equi joins, never a
    # cartesian expansion of the co-purchase graph
    assert_no_cartesian(Q.SPARK_QUERIES["impact_reach_supply_chain"](spark, SF))
    # lead-lag: the 13-row lag spine rides a BROADCAST onto the
    # bucket table; the shifted join is an equi join on the bucket key
    p = physical_plan(Q.SPARK_QUERIES["lead_lag_corr_events"](spark, SF))
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    # SLO burn: the error predicate evaluates inside the first
    # aggregate's scan-side project (no separate pass), one plan
    p = physical_plan(Q.SPARK_QUERIES["slo_burn_rate_events"](spark, SF))
    assert "CartesianProduct" not in p


def test_q8_customer_semi_reduced_before_fact_join(spark):
    """Q8 (r7 fix): the ASIA region predicate must reach the customer
    leg BELOW the fact join — customer ⋈ broadcast(nation ⋈
    region[ASIA]) feeds the o_custkey join, so the supplier join sees
    ~1/5 the rows. With CBO off Catalyst never reorders inner joins;
    only the authored order protects the 100 TB plan."""
    from sparkobs.plans import physical_plan

    df = Q.SPARK_QUERIES["market_share_q8"](spark, SF)
    assert_no_cartesian(df)
    assert_pushdown(df, "r_name")  # region filter at the scan
    # customer scan pruned to the two join keys
    assert any(
        "c_custkey" in s["schema"] and s["schema"].count(":") == 2
        for s in scans(df)
    )
    # the region filter sits in the subtree UNDER the custkey join
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    join_idx = next(
        i for i, ln in enumerate(lines) if "Join Inner" in ln and "o_custkey" in ln
    )
    asia_idx = [i for i, ln in enumerate(lines) if "ASIA" in ln]
    assert asia_idx and min(asia_idx) > join_idx, (
        "region[ASIA] filter is not below the custkey join:\n" + opt
    )
    # and the customer leg's reduction is a broadcast, not a shuffle
    assert physical_plan(df).count("BroadcastHashJoin") >= 3


def test_cube_single_expand_one_shuffle(spark):
    """CUBE must be Catalyst's Expand over ONE scan + one partial/final
    agg pair — 2^k grouping sets from one pass, never k scans."""
    from plan_helpers import count_exchanges, physical_plan, scans

    df = Q.SPARK_QUERIES["cube_revenue_status_priority"](spark, SF)
    p = physical_plan(df)
    assert "Expand" in p
    assert len(scans(df)) == 1
    assert count_exchanges(df) == 1
    assert_partial_final_agg(df)
