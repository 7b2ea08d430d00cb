"""Round-11 regression + operator tests.

Covers the r10 ADVICE items (negative-weight pagerank loud failure,
duplicate-seed BFS tier agreement, format-stage convention versioning)
and the round's new operator work.
"""

from __future__ import annotations

from unittest.mock import patch

import pytest


def test_pagerank_negative_weight_fails_loudly(spark):
    """Review finding (r10): the dense tier's numpy floor division and
    the distributed tier's SQL truncate-toward-zero div DIVERGE on
    negative operands — the non-negativity contract was documented but
    unvalidated. Negative weights must now raise at materialization in
    BOTH tiers, never silently tier-diverge."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from sparkobs.operators import graph

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 1, -1), (2, 3, 2)], "src long, dst long, w long"
    )
    for cap in (graph.DENSE_PR_MAX_EDGES, 0):
        with patch.object(graph, "DENSE_PR_MAX_EDGES", cap), pytest.raises(
            (PySparkException, Py4JJavaError)
        ) as exc:
            graph.pagerank_fixed(edges, iters=2, weight_col="w").collect()
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
    from sparkobs.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (1,), (2,)], "node long")
    dense = graph.reachable_set(edges, seeds, max_hops=2).collect()
    with patch.object(graph, "DENSE_PR_MAX_EDGES", 0):
        dist = graph.reachable_set(edges, seeds, max_hops=2).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))
    # hop-0 rows are exactly the DISTINCT seeds
    assert sorted(r["node"] for r in dense if r["hop"] == 0) == [1, 2]


def test_stage_format_tag_versions_the_resolved_conventions():
    """Review finding (r10): read_csv/write_format default changes
    (lossless NULL/empty/trimming) were invisible to _stage_format's
    cache tag, so a stage cached under the OLD conventions would be
    read back under the new reader defaults — nulls written as ''
    reading back as empty string. The resolved-convention version now
    participates in the stage tag, so each convention names its own
    source key in ``stage_dir``."""
    from sparkobs import queries as Q
    from sparkobs.io import stage_dir

    assert Q._FMT_CONVENTION_V >= 2
    tags = (f"fmt:csv:2:v{Q._FMT_CONVENTION_V}:[]", "fmt:csv:2:v1:[]", "fmt:csv:2:[]")
    dirs = [stage_dir("/x", ("orders",), t) for t in tags]
    assert len({d.rsplit("_", 1)[0] for d in dirs}) == 3


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


_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_DRAIN_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    _CHECKPOINT_MANAGER,
)


@pytest.mark.parametrize("via", ["run_to_memory", "drain"])
def test_drain_scopes_and_restores_confs(spark, tmp_path, via):
    """The streaming fixed-cost levers must be SCOPED: the session's
    shuffle-partition, no-data-batch and checkpoint-manager confs are
    restored after the drain — and on failure — so a narrow-state
    stream never leaks its width, its suppressed no-data batch or its
    checkpoint manager into later plans. The manager has no default:
    unset before the drain, it is unset again after it."""
    from pyspark.errors import AnalysisException

    from sparkobs.streaming.monitors import drain, run_to_memory

    def run(stream_df):
        if via == "drain":
            writer = stream_df.writeStream.format("memory")
            return drain(writer, "x", "complete", shuffle_partitions=2)
        return run_to_memory(stream_df, "x", "complete", shuffle_partitions=2)

    before = {k: spark.conf.get(k, None) for k in _DRAIN_CONFS}
    assert before["spark.sql.shuffle.partitions"] != "2"
    assert before[_CHECKPOINT_MANAGER] is None
    src = str(tmp_path / "src")
    rows = [(1, "a"), (2, "a"), (3, "b")]
    spark.createDataFrame(rows, "id long, v string").write.parquet(src)
    stream = spark.readStream.schema("id long, v string").parquet(src)
    # complete mode without an aggregation fails at query start, after
    # the confs are set — the finally path
    with pytest.raises(AnalysisException):
        run(stream)
    assert {k: spark.conf.get(k, None) for k in _DRAIN_CONFS} == before
    tbl = run(stream.groupBy("v").count())
    assert sorted(spark.table(tbl).collect()) == [("a", 2), ("b", 1)]
    assert {k: spark.conf.get(k, None) for k in _DRAIN_CONFS} == before


def test_drain_checkpoints_through_the_filesystem_manager(spark, tmp_path):
    """A drain's micro-batches run with the FileSystem-based checkpoint
    manager (no ``readlink`` child process per checkpoint file), and
    the session's own conf is left as it was."""
    from sparkobs.streaming.monitors import drain

    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], "id long").write.parquet(src)
    seen = []

    def record(df, batch_id):
        seen.append(df.sparkSession.conf.get(_CHECKPOINT_MANAGER, None))

    stream = spark.readStream.schema("id long").parquet(src)
    drain(stream.writeStream.foreachBatch(record), "ckpt_manager")
    assert seen == [
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ]
    assert spark.conf.get(_CHECKPOINT_MANAGER, None) is None


#: the queries of perfbench's ``monitor_stream_sf001`` cycle
_MONITOR_CYCLE = (
    "shape_summary_all",
    "monitor_suite_lake",
    "bucket_monitor_metrics",
    "streaming_monitor_health_events",
    "jsonl_roundtrip_events",
)


def test_a_repeated_monitor_cycle_compiles_no_classes(spark, sf_dir):
    """One monitor cycle generates more classes than Spark's default
    codegen cache keeps (100). The session's cache holds a whole cycle,
    so running the cycle again compiles nothing with Janino."""
    from sparkobs.queries import SPARK_QUERIES
    from sparkobs.session import jvm_class

    compiles = jvm_class(
        spark, "org.apache.spark.metrics.source.CodegenMetrics"
    ).METRIC_COMPILATION_TIME()

    def cycle():
        n = compiles.getCount()
        for name in _MONITOR_CYCLE:
            SPARK_QUERIES[name](spark, sf_dir).collect()
        return compiles.getCount() - n

    cycle()
    assert cycle() == 0


def test_jvm_classes_resolve_without_package_walks():
    """Spark-free source check: no module spells a JVM class as a py4j
    package walk (``jvm.org.…`` / ``jvm.java.…``), which costs a gateway
    round trip and a failed classpath-wide class lookup per package
    segment on every call. Classes come from the one cached resolver,
    ``session.jvm_class``."""
    import pathlib
    import re

    walk = re.compile(r"\b_?jvm\.(org|java|javax|scala|com)\.")
    root = pathlib.Path(__file__).resolve().parents[1] / "sparkobs"
    offenders = []
    resolvers = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        if walk.search(src):
            offenders.append(rel)
        if "JavaClass(" in src:
            resolvers.append(rel)
    assert offenders == []
    assert resolvers == ["session.py"]


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
    from sparkobs.sources import listing as lst
    from sparkobs.sources.listing import compaction_assign

    rows = [
        ("/a/x.parquet", 10), ("/a/é.parquet", 7), ("/a/B.parquet", 0),
        ("/a/z~.parquet", 25), ("/a/1.parquet", 13), ("/a/ぁ.parquet", 4),
    ]
    listing = spark.createDataFrame(rows, "path string, length long")
    dense = compaction_assign(listing, 16).collect()
    with patch.object(lst, "DENSE_ASSIGN_MAX_FILES", 0):
        dist = compaction_assign(listing, 16).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))
    empty = spark.createDataFrame([], "path string, length long")
    assert compaction_assign(empty, 16).count() == 0
