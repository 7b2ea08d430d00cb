"""Registry-entry scaling over one mirrored sf-dir.

``stage_mirror`` grows an sf-dir ``--copies``-fold into a complete
sf-dir: the fact tables (lineitem + orders) and the corpus tables
(documents, events, embeddings) are self-unioned, every copy with its
own id offset, and the dimension tables are symlinked unchanged. That
is the growth mode of a monitored lake, where facts grow and
dimensions do not. Registry entries run on the mirror unchanged,
through their ``(spark, sf_dir)`` contract and ``load_table``.

Each named entry then runs on the base sf-dir and on the mirror
through ``bench.timed_reps`` (1 warm-up, 3 timed reps, session state
released before every timed rep), and the p50s are printed as a
markdown table (paste into SCALE.md) with the worst ratio. Nothing
here feeds the driver gate; it is a measurement harness.

Usage:
    python tools/scale_probe.py [--sf DIR] [--copies N] name ...
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.remeasure import _positive_int  # noqa: E402

WARMUP, REPS = 1, 3
#: tables the mirror grows; every other ``*.parquet`` is symlinked
GROWN = ("lineitem", "orders", "documents", "events", "embeddings")
#: id shift between consecutive copies, so no two copies share a key
OFFSET = 10_000_000_000


def _copy(df, table: str, i: int, dim: int):
    """Copy ``i`` of ``table``. Copy 0 is the base table itself (with
    ``n_chars`` recomputed for documents)."""
    from pyspark.sql import functions as F

    off = F.lit(i * OFFSET)
    if table == "lineitem":
        return df.withColumn("l_orderkey", F.col("l_orderkey") + off)
    if table == "orders":
        # the same shift as lineitem, so every mirrored line keeps its order
        return df.withColumn("o_orderkey", F.col("o_orderkey") + off)
    if table == "events":
        # same timestamps: each hour bucket holds copies× the rows
        return df.withColumn("event_id", F.col("event_id") + off)
    if table == "documents":
        text = F.col("text")
        if i:
            # rewrite every 5th token per copy: cross-copy Jaccard falls
            # below the near-dup thresholds, so the corpus grows with new
            # documents at the base corpus's natural duplicate density
            toks = F.split(text, r"\s+")
            text = F.array_join(
                F.zip_with(
                    toks,
                    F.sequence(F.lit(0), F.size(toks) - 1),
                    lambda t, j: F.when(
                        j % 5 == 0, F.concat(t, F.lit(f"_c{i}"))
                    ).otherwise(t),
                ),
                " ",
            )
        n_chars_type = dict(df.dtypes)["n_chars"]
        return (
            df.withColumn("doc_id", F.col("doc_id") + off)
            .withColumn("text", text)
            .withColumn("n_chars", F.length("text").cast(n_chars_type))
        )
    # embeddings: rotate the vector by i positions, which preserves the
    # norm and decorrelates (rotations of a random vector are nearly
    # orthogonal), so the mirror grows with new points, not exact twins
    r = i % dim
    emb = F.col("embedding")
    if r:
        emb = F.concat(F.slice(emb, r + 1, dim - r), F.slice(emb, 1, r))
    if i >= dim:
        # rotations repeat after dim copies: negate the later laps
        emb = F.transform(emb, lambda x: -x)
    return df.withColumn("vec_id", F.col("vec_id") + off).withColumn("embedding", emb)


def stage_mirror(spark, sf_dir: str, copies: int) -> str:
    """Stage ``copies``× of ``sf_dir`` as a complete sf-dir and return
    its path. The stage is cached under the temp dir, keyed by the
    resolved source dir, the grown tables' mtimes and ``copies``, and
    published atomically by ``sparkobs.io.ensure_stage``."""
    from pyspark.sql import DataFrame

    from sparkobs.io import ensure_stage, load_table

    src = os.path.realpath(sf_dir)
    mtimes = [os.stat(os.path.join(src, f"{t}.parquet")).st_mtime_ns for t in GROWN]
    key = hashlib.sha256(f"{src}:{copies}:{mtimes}:v1".encode()).hexdigest()[:16]

    def build(tmp: str) -> None:
        for t in GROWN:
            df = load_table(spark, sf_dir, t)
            dim = len(df.select("embedding").head()["embedding"]) if t == "embeddings" else 0
            parts = [_copy(df, t, i, dim) for i in range(copies)]
            functools.reduce(DataFrame.unionByName, parts).write.parquet(
                os.path.join(tmp, f"{t}.parquet")
            )
        for f in sorted(os.listdir(src)):
            if f.endswith(".parquet") and f[: -len(".parquet")] not in GROWN:
                os.symlink(os.path.join(src, f), os.path.join(tmp, f))

    stage = os.path.join(tempfile.gettempdir(), f"sparkobs_mirror_{key}")
    return ensure_stage(stage, build)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="p50 of registry entries on an sf-dir and on its N× mirror."
    )
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--copies", type=_positive_int, default=10)
    ap.add_argument("names", nargs="+", help="registry query names")
    args = ap.parse_args(argv)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"not in the registry: {', '.join(unknown)}")

    from bench import release_session_state, timed_reps, warm_session
    from sparkobs.session import get_spark

    spark = get_spark("sparkobs-scale-probe")
    warm_session(spark)
    mirror = stage_mirror(spark, args.sf, args.copies)
    print(f"# mirror: {mirror}", file=sys.stderr)
    baseline_tables = {t.name for t in spark.catalog.listTables()}

    def p50(fn, sf_dir: str) -> float:
        runs, _n = timed_reps(
            lambda: fn(spark, sf_dir).count(), REPS, WARMUP,
            lambda: release_session_state(spark, baseline_tables),
        )
        return sorted(runs)[len(runs) // 2]

    print(f"| entry | 1× p50 | {args.copies}× p50 | ratio |")
    print("|---|---|---|---|")
    worst = 0.0
    for name in args.names:
        t1, tn = p50(qs[name], args.sf), p50(qs[name], mirror)
        ratio = tn / max(t1, 1e-9)
        worst = max(worst, ratio)
        print(f"| {name} | {t1:.2f} s | {tn:.2f} s | {ratio:.1f}× |", flush=True)
    verdict = "OK: sub-linear headroom" if worst < args.copies else "SUPER-LINEAR — investigate"
    print(f"\n# worst ratio {worst:.1f}× at {args.copies}× data ({verdict})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
