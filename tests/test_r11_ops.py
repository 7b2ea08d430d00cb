"""Round-11 regression + operator tests.

Covers the r10 ADVICE items (negative-weight pagerank loud failure,
duplicate-seed BFS tier agreement, format-stage convention versioning)
and the round's new operator work.
"""

from __future__ import annotations

import pytest


def test_pagerank_negative_weight_fails_loudly(spark):
    """Review finding (r10): the dense tier's numpy floor division and
    the distributed tier's SQL truncate-toward-zero div DIVERGE on
    negative operands — the non-negativity contract was documented but
    unvalidated. Negative weights must now raise at materialization in
    BOTH tiers, never silently tier-diverge."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from sparkobs.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, -1), (2, 3, 2)], "src long, dst long, w long"
    )
    for kw in ({}, {"dense_max_edges": 0}):
        with pytest.raises((PySparkException, Py4JJavaError)) as exc:
            pagerank_fixed(edges, iters=2, weight_col="w", **kw).collect()
        assert "negative weight" in str(exc.value)


def test_pagerank_null_weight_still_passes_validation(spark):
    """NULL weights are IN contract (SQL NULL propagation, tier parity
    property-tested in r10) — the new negative-weight guard must not
    reject them (NULL < 0 is NULL, not true)."""
    from sparkobs.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, None), (2, 3, 2)], "src long, dst long, w long"
    )
    out = pagerank_fixed(edges, iters=2, weight_col="w").collect()
    assert {r["node"] for r in out} == {1, 2}


def test_reachable_set_tiers_agree_on_duplicate_seeds(spark):
    """Review finding (r10): the dense tier deduped seeds while the
    distributed tier emitted duplicate hop-0 rows, so contract-
    violating duplicate-seed input silently changed output across the
    dispatch boundary. Both tiers now dedupe."""
    from sparkobs.operators.graph import reachable_set

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (1,), (2,)], "node long")
    dense = reachable_set(edges, seeds, max_hops=2).collect()
    dist = reachable_set(edges, seeds, max_hops=2, dense_max_edges=0).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))
    # hop-0 rows are exactly the DISTINCT seeds
    assert sorted(r["node"] for r in dense if r["hop"] == 0) == [1, 2]


def test_stage_format_tag_versions_the_resolved_conventions():
    """Review finding (r10): read_csv/write_format default changes
    (lossless NULL/empty/trimming) were invisible to _stage_format's
    cache tag, so a stage cached under the OLD conventions would be
    read back under the new reader defaults — nulls written as ''
    reading back as empty string. The resolved-convention version now
    participates in the stage key."""
    from sparkobs import queries as Q

    assert Q._FMT_CONVENTION_V >= 2
    tag_now = f"csv:2:v{Q._FMT_CONVENTION_V}:[]"
    key_now = Q._stage_key("/x", "orders", tag_now)
    key_v1 = Q._stage_key("/x", "orders", "csv:2:v1:[]")
    key_untagged = Q._stage_key("/x", "orders", "csv:2:[]")
    assert len({key_now, key_v1, key_untagged}) == 3


def test_sampled_join_agg_ci_exact_degeneracy(spark):
    """one_in=1 keeps every key: est_count/est_sum equal the exact
    join aggregate and every half-width is zero."""
    from pyspark.sql import functions as F

    from sparkobs.operators.sampling import sampled_join_agg_ci

    left = spark.createDataFrame(
        [(k, "g%d" % (k % 2)) for k in range(1, 21)], "k long, g string"
    )
    right = spark.createDataFrame(
        [(k, float(k)) for k in range(1, 21) for _ in range(k % 3 + 1)],
        "rk long, v double",
    )
    out = {
        r["g"]: r
        for r in sampled_join_agg_ci(
            left, right, "k", "rk", ["g"], "v", one_in=1
        ).collect()
    }
    exact = {
        r["g"]: r
        for r in left.join(right, left["k"] == right["rk"])
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    assert set(out) == set(exact)
    for g, r in out.items():
        assert r["est_count"] == exact[g]["n"]
        assert abs(r["est_sum"] - float(exact[g]["s"])) < 1e-9
        assert r["ci95_count"] == 0.0 and r["ci95_sum"] == 0.0


def test_sampled_join_agg_ci_ht_arithmetic_over_clusters(spark):
    """The estimator must scale WHOLE key-clusters (universe
    sampling), never independent rows: recompute the HT arithmetic by
    hand from the sampled key set and match exactly."""
    import hashlib

    from sparkobs.operators.sampling import sampled_join_agg_ci

    def hex15(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ONE_IN = 3
    lrows = [(k,) for k in range(1, 40)]
    rrows = [(k, float(100 + k)) for k in range(1, 40) for _ in range(2)]
    left = spark.createDataFrame(lrows, "k long")
    right = spark.createDataFrame(rrows, "rk long, v double")
    out = sampled_join_agg_ci(
        left, right, "k", "rk", [], "v", one_in=ONE_IN
    ).collect()
    assert len(out) == 1
    r = out[0]
    sampled = [k for (k,) in lrows if hex15(str(k)) % ONE_IN == 0]
    ck = {k: 2 for k in sampled}
    sk = {k: 2 * (100.0 + k) for k in sampled}
    varf = ONE_IN * (ONE_IN - 1)
    assert r["n_keys"] == len(sampled)
    assert r["n_join_sample"] == sum(ck.values())
    assert r["est_count"] == ONE_IN * sum(ck.values())
    assert abs(r["est_sum"] - ONE_IN * sum(sk.values())) < 1e-6
    import math

    assert abs(
        r["ci95_count"]
        - round(1.959964 * math.sqrt(varf * sum(c * c for c in ck.values())), 4)
    ) < 1e-9
    assert abs(
        r["ci95_sum"]
        - round(1.959964 * math.sqrt(varf * sum(s * s for s in sk.values())), 4)
    ) < 1e-9


def test_sampled_join_agg_ci_null_keys_and_values(spark):
    """NULL join keys drop on both sides (predicate NULL semantics =
    inner-join semantics); an all-NULL-value group reports NULL
    est_sum/ci95_sum while counts still estimate rows."""
    from sparkobs.operators.sampling import sampled_join_agg_ci

    left = spark.createDataFrame(
        [(1, "a"), (None, "a"), (2, "b")], "k long, g string"
    )
    right = spark.createDataFrame(
        [(1, None), (None, 5.0), (2, None)], "rk long, v double"
    )
    out = {
        r["g"]: r
        for r in sampled_join_agg_ci(
            left, right, "k", "rk", ["g"], "v", one_in=1
        ).collect()
    }
    assert set(out) == {"a", "b"}
    assert out["a"]["n_join_sample"] == 1 and out["a"]["est_sum"] is None
    assert out["a"]["ci95_sum"] is None
    assert out["b"]["est_count"] == 1


_DRAIN_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


@pytest.mark.parametrize("via", ["run_to_memory", "drain"])
def test_drain_scopes_and_restores_confs(spark, tmp_path, via):
    """The streaming fixed-cost levers must be SCOPED: the session's
    shuffle-partition and no-data-batch confs are restored after the
    drain — and on failure — so a narrow-state stream never leaks its
    width or its suppressed no-data batch into later plans."""
    from pyspark.errors import AnalysisException

    from sparkobs.streaming.monitors import drain, run_to_memory

    def run(stream_df):
        if via == "drain":
            writer = stream_df.writeStream.format("memory")
            return drain(writer, "x", "complete", shuffle_partitions=2)
        return run_to_memory(stream_df, "x", "complete", shuffle_partitions=2)

    before = {k: spark.conf.get(k) for k in _DRAIN_CONFS}
    assert before["spark.sql.shuffle.partitions"] != "2"
    src = str(tmp_path / "src")
    rows = [(1, "a"), (2, "a"), (3, "b")]
    spark.createDataFrame(rows, "id long, v string").write.parquet(src)
    stream = spark.readStream.schema("id long, v string").parquet(src)
    # complete mode without an aggregation fails at query start, after
    # the confs are set — the finally path
    with pytest.raises(AnalysisException):
        run(stream)
    assert {k: spark.conf.get(k) for k in _DRAIN_CONFS} == before
    tbl = run(stream.groupBy("v").count())
    assert sorted(spark.table(tbl).collect()) == [("a", 2), ("b", 1)]
    assert {k: spark.conf.get(k) for k in _DRAIN_CONFS} == before


def test_foreach_batch_drain_refuses_a_drain_without_progress(spark, tmp_path):
    """The progress check covers foreachBatch drains too: an
    availableNow stream over an empty directory runs no micro-batch,
    so its sink was never written and the drain must raise."""
    from sparkobs.streaming.monitors import drain

    empty = tmp_path / "empty"
    empty.mkdir()
    stream = spark.readStream.schema("id long").parquet(str(empty))
    with pytest.raises(RuntimeError, match="terminated without reporting progress"):
        drain(stream.writeStream.foreachBatch(lambda df, batch_id: None), "empty")


def test_only_the_drain_routine_starts_available_now_streams():
    """Spark-free source check: every availableNow drain in the package
    goes through ``streaming.monitors.drain``, so each one is verified
    and conf-scoped. A hand-rolled start/await/stop elsewhere would skip
    the progress check."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "sparkobs"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        if rel != "streaming/monitors.py" and (
            "awaitTermination(" in src or "trigger(availableNow" in src
        ):
            offenders.append(rel)
    assert offenders == []
    monitors = (root / "streaming" / "monitors.py").read_text()
    assert monitors.count("awaitTermination(") == 1


def test_compaction_assign_tiers_agree(spark):
    """r11 sixth density dispatch: the driver-side numpy prefix sum
    must reproduce the distributed global_running_sum assignment
    exactly — same path ordering (UTF-8 byte order), same
    floor-of-double group formula — including multi-byte paths,
    zero-length files, and an empty listing."""
    from sparkobs.sources.listing import compaction_assign

    rows = [
        ("/a/x.parquet", 10), ("/a/é.parquet", 7), ("/a/B.parquet", 0),
        ("/a/z~.parquet", 25), ("/a/1.parquet", 13), ("/a/ぁ.parquet", 4),
    ]
    listing = spark.createDataFrame(rows, "path string, length long")
    dense = compaction_assign(listing, 16).collect()
    dist = compaction_assign(listing, 16, dense_max_files=0).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))
    empty = spark.createDataFrame([], "path string, length long")
    assert compaction_assign(empty, 16).count() == 0
