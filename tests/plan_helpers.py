"""Plan assertions for the tests: filters pushed to the scan, columns
pruned, dimensions broadcast, aggregates partial+final, and scan and
shuffle counts, all parsed from the formatted physical plan
(``sparkobs.plans.physical_plan``); and the Spark jobs a call
launches (:func:`jobs_in`)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from sparkobs.plans import physical_plan


def _cached_node_ids(plan: str, node: str) -> set[str]:
    """Node ids of ``node``-typed nodes nested under an
    ``InMemoryRelation`` in the tree summary — the RECOVERABLE
    lineage of a persisted frame (``io.pin_corpus_frame``). The
    formatted explain prints that lineage inline, but it executes at
    most once (on materialization) and again only on partition loss,
    so live-work budgets exclude it by default. Subtree extent is
    tracked by indentation: everything indented deeper than the
    relation line belongs to its cached plan. The id pattern
    tolerates a qualified table name between the node type and the
    id (``Scan parquet spark_catalog.default.t (3)``)."""
    import re

    pat = re.compile(re.escape(node) + r"\b[^()]*\((\d+)\)")
    ids: set[str] = set()
    open_indents: list[int] = []
    for line in plan.splitlines():
        m = re.match(r"^([\s:+\-*]*)(.*)$", line)
        indent, rest = len(m.group(1)), m.group(2)
        if not rest or rest.startswith("== Physical Plan"):
            continue
        while open_indents and indent <= open_indents[-1]:
            open_indents.pop()
        if rest.startswith("InMemoryRelation"):
            open_indents.append(indent)
        elif open_indents:
            sm = pat.search(rest)
            if sm:
                ids.add(sm.group(1))
    return ids


def _cached_scan_ids(plan: str) -> set[str]:
    return _cached_node_ids(plan, "Scan parquet")


def scans(df: DataFrame, include_cached: bool = False) -> list[dict]:
    """Parse parquet scan nodes: pushed filters + read schema.

    Scans inside a persisted frame's ``InMemoryRelation`` (its
    recoverable lineage — see ``io.pin_corpus_frame``) are excluded
    unless ``include_cached=True``: they are printed in the plan but
    the final job reads the cached blocks, so for scan-budget
    purposes they are the moral equivalent of an eager checkpoint
    job's scans (which never appeared in the final plan at all)."""
    import re

    plan = physical_plan(df)
    skip = set() if include_cached else _cached_scan_ids(plan)
    out: list[dict] = []
    cur: dict | None = None
    for line in plan.splitlines():
        s = line.strip()
        # only detail-section nodes ("(1) Scan parquet …") carry
        # PushedFilters/ReadSchema; tree-summary lines don't
        m = re.match(r"^\((\d+)\) Scan parquet", s)
        if m:
            if m.group(1) in skip:
                cur = None
                continue
            cur = {"pushed": "", "schema": ""}
            out.append(cur)
        elif cur is not None and s.startswith("PushedFilters:"):
            cur["pushed"] = s.split(":", 1)[1].strip()
        elif cur is not None and s.startswith("ReadSchema:"):
            cur["schema"] = s.split(":", 1)[1].strip()
    return out


def assert_pushdown(df: DataFrame, fragment: str) -> None:
    """Assert some scan pushes a filter mentioning ``fragment``."""
    got = [s["pushed"] for s in scans(df)]
    assert any(fragment in p for p in got), f"no pushed filter contains {fragment!r}: {got}"


def assert_pruned(df: DataFrame, max_cols: int, scan_idx: int = 0) -> None:
    """Assert the scan reads at most ``max_cols`` columns (column pruning
    reached the source)."""
    schema = scans(df)[scan_idx]["schema"]
    ncols = schema.count(":") if schema else 0
    assert 0 < ncols <= max_cols, f"scan reads {ncols} cols (> {max_cols}): {schema}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, "expected a broadcast hash join"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, "unexpected cartesian product"


def assert_partial_final_agg(df: DataFrame) -> None:
    """Partial+final hash aggregation (map-side combine before shuffle)."""
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2, "expected partial+final HashAggregate"


def count_exchanges(df: DataFrame, include_cached: bool = False) -> int:
    """Number of LIVE Exchange (shuffle) nodes, counted from the
    formatted plan's detail section so tree-summary lines don't
    double-count. Exchanges inside a persisted frame's
    InMemoryRelation (recoverable lineage, executes at most once) are
    excluded by default — the same live-work semantics as
    ``scans()``; pass ``include_cached=True`` to audit the pinned
    derivation too. (``assert_no_cartesian`` deliberately stays
    full-plan: a cartesian in a pin's derivation DID execute at pin
    time, so it is a bug wherever it prints.)"""
    import re

    plan = physical_plan(df)
    skip = set() if include_cached else _cached_node_ids(plan, "Exchange")
    return len(
        [
            m
            for m in re.findall(r"^\((\d+)\) Exchange", plan, flags=re.MULTILINE)
            if m not in skip
        ]
    )


def jobs_in(spark, fn) -> int:
    """Spark jobs ``fn`` launches from call to return: the status
    store's jobsList, filtered to a job group set for the call, so the
    store's trimming of old jobs can never skew the count."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
