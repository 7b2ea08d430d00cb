"""Catalog shape metrics, lookup joins, argmax — the db-monitor rebuild.

Covers OP-05/06/15/16/18/19/23/32/34/37 (SURVEY.md §2.2-§2.4): the
per-schema "rows × cols per table" metrics of
``redshift_database_monitor.py:59-116`` and
``snowflake_database_monitor.py:52-97``, done as DataFrame programs
instead of pandas loops + ``iterrows()`` metric emission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkobs.io import TABLES, load_table, table_row_count


def table_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(table_name, row_count, col_count) per base table (OP-04/06/23).

    Metadata only, as in the reference, which reads row counts from
    the warehouse catalog (snowflake_table_monitor.py:57-62,
    redshift_database_monitor.py:36-44): ``row_count`` is
    :func:`sparkobs.io.table_row_count` (Parquet footers) and
    ``col_count`` the width of the table's remembered schema, so a warm
    call launches no Spark job. The ten rows are a literal ``VALUES``
    relation built in the JVM, not ``createDataFrame``, whose pickled
    Python RDD would start a Python worker on every action.
    """
    rows = ", ".join(
        f"('{name}', CAST({table_row_count(spark, sf_dir, name)} AS BIGINT), "
        f"CAST({len(load_table(spark, sf_dir, name).columns)} AS BIGINT))"
        for name in TABLES
    )
    return spark.sql(
        f"SELECT * FROM VALUES {rows} AS t(table_name, row_count, col_count)"
    )


def shape_summary(shapes: DataFrame) -> DataFrame:
    """Schema-level shape metrics (OP-24/25/26/27/37).

    Rebuild of redshift_database_monitor.py:71-103: table census, total/
    max/mean/median rows, and min column count. The reference's "Min
    column count" actually computes max (copy-paste bug,
    redshift_database_monitor.py:97, SURVEY.md §8.2) — we implement the
    documented intent: min.
    """
    return shapes.agg(
        F.count(F.lit(1)).alias("table_count"),
        F.sum("row_count").alias("total_rows"),
        F.max("row_count").alias("max_rows"),
        F.round(F.avg("row_count"), 4).alias("mean_rows"),
        F.round(F.percentile("row_count", F.lit(0.5)), 4).alias("median_rows"),
        F.max("col_count").alias("max_cols"),
        F.min("col_count").alias("min_cols"),
    )


def lookup_join_fill(
    base: DataFrame,
    lookup: DataFrame,
    on: str,
    value_col: str,
    fill: int = 0,
) -> DataFrame:
    """Broadcast lookup join with missing→fill (OP-18).

    Rebuild of the dict ``.map`` + ``fillna(0)`` at
    redshift_database_monitor.py:89-91. The lookup side is explicitly
    broadcast: at 100 TB the base side never shuffles — a map-side hash
    join against a dimension that fits in executor memory.
    """
    joined = base.join(F.broadcast(lookup), on=on, how="left")
    return joined.withColumn(
        value_col, F.coalesce(F.col(value_col), F.lit(fill)).cast("long")
    )


def grouped_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group exact distinct count (OP-32): ``groupby(g).nunique(v)``
    (redshift_database_monitor.py:87-88) as partial+final hash agg."""
    return df.groupBy(group_col).agg(
        F.count_distinct(F.col(value_col)).alias(f"n_distinct_{value_col}")
    )


def grouped_distinct_salted(
    df: DataFrame, group_col: str, value_col: str, n_salts: int = 32
) -> DataFrame:
    """Skew-proof EXACT per-group distinct count — the 100 TB escape
    for hot grouping keys: a plain ``count_distinct`` shuffles every
    (group, value) pair to the group's single reducer, so a key
    holding 30% of a 100 TB fact lands on one task. Salting BY THE
    VALUE splits each group into ``n_salts`` sub-groups
    (``pmod(hash(value), n)``) — every distinct value maps to exactly
    one salt, so the per-(group, salt) distinct counts are disjoint
    and their per-group SUM is the exact answer. Two ordinary hash
    aggregations, each with map-side partials, no reducer ever sees
    more than ~1/n of a hot group's values. Same output contract as
    :func:`grouped_distinct`."""
    salted = df.groupBy(
        F.col(group_col),
        F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts)).alias("__salt"),
    ).agg(F.count_distinct(F.col(value_col)).alias("__part"))
    return salted.groupBy(group_col).agg(
        F.sum("__part").cast("long").alias(f"n_distinct_{value_col}")
    )


def argmax(df: DataFrame, label_col: str, measure_col: str) -> DataFrame:
    """Global top-1 by measure, deterministic tiebreak on label (OP-34).

    Rebuild of the running-max loops (s3_key_monitor.py:116-123,
    s3_bucket_monitor.py:79-81): ``max_by`` over a (measure, label)
    struct — a single hash-agg pass, no sort; ties resolve to the
    largest label so results are oracle-stable.
    """
    return df.agg(
        F.max_by(
            F.col(label_col), F.struct(F.col(measure_col), F.col(label_col))
        ).alias(label_col),
        F.max(F.struct(F.col(measure_col), F.col(label_col)))[measure_col].alias(measure_col),
    )


def argmax_per_group(
    df: DataFrame, group_col: str, label_col: str, measure_col: str
) -> DataFrame:
    """Per-group top-1 (OP-34 grouped): one hash aggregation via max_by —
    no window sort, no shuffle beyond the groupBy. Ties → largest label."""
    return df.groupBy(group_col).agg(
        F.max_by(
            F.col(label_col), F.struct(F.col(measure_col), F.col(label_col))
        ).alias(label_col),
        F.max(F.struct(F.col(measure_col), F.col(label_col)))[measure_col].alias(measure_col),
    )


def referential_orphans(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity monitor: how many child rows point at a
    parent key that does not exist — the data-quality check behind
    "the fact table references dimensions that were deleted/late".
    One row: (n_child, n_orphans, orphan_rate, n_orphan_keys).

    Plan shape: ONE pass over the child — a LEFT join against the
    parent's deduplicated key projection (broadcast when small, else
    shuffle + AQE skew handling), then a single conditional aggregate
    for total/orphan counts. A separate total-count branch would scan
    the 100 TB child twice (the two subtrees share no exchange, so
    ReuseExchange never applies); only the two key columns move.
    Run it before a production join: a non-zero rate means an inner
    join silently drops rows and a left join fabricates nulls.
    """
    joined = child.select(F.col(child_key).alias("__k")).join(
        parent.select(F.col(parent_key).alias("__p")).distinct(),
        F.col("__k") == F.col("__p"),
        "left",
    )
    is_orphan = F.col("__p").isNull()
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_child"),
        F.sum(is_orphan.cast("long")).cast("long").alias("n_orphans"),
        F.round(
            F.sum(is_orphan.cast("long")) / F.count(F.lit(1)), 6
        ).alias("orphan_rate"),
        F.count_distinct(F.when(is_orphan, F.col("__k"))).cast("long").alias(
            "n_orphan_keys"
        ),
    )


def inclusion_coefficient(
    df_a: DataFrame,
    col_a: str,
    df_b: DataFrame,
    col_b: str,
    label_a: str | None = None,
    label_b: str | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Inclusion dependency strength — the foreign-key discovery
    primitive behind catalog intelligence: what fraction of A's
    distinct non-null values appear in B? 1.0 = A ⊆ B (a valid FK
    target), < 1.0 quantifies orphan keys.

    Scale shape: each side reduces to its DISTINCT key set first
    (hash agg with map-side partials — the fact table never crosses
    the network un-deduplicated), then ONE left join of the two key
    tables feeds a single count/sum aggregate, so neither distinct
    set is derived twice. Callers screening MANY column pairs should
    pre-dedupe each key set once (checkpointed) and pass
    ``distinct=False`` — a column reused across pairs then costs one
    distinct reduction total, not one per pair. ``distinct=False``
    trusts only the A side: the B (membership) side is ALWAYS
    deduplicated, because a duplicated B key would fan out the left
    join and silently inflate both counts (containment > 1) — on an
    already-distinct pre-deduped pass the extra dedupe is a no-op
    agg, on a mis-called one it is the difference between a wrong
    screen and a correct one (r6 advice). Output: 1 row of exact
    integers plus the unrounded containment ratio (a single division
    of identical bigints)."""
    ka = df_a.select(F.col(col_a).alias("__k")).where(
        F.col("__k").isNotNull()
    )
    kb = df_b.select(F.col(col_b).alias("__k")).where(
        F.col("__k").isNotNull()
    )
    if distinct:
        ka = ka.distinct()
    kb = kb.distinct().withColumn("__hit", F.lit(1))
    return (
        ka.join(kb, "__k", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_from_distinct"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_contained"),
        )
        .select(
            F.lit(label_a or col_a).alias("from_col"),
            F.lit(label_b or col_b).alias("to_col"),
            "n_from_distinct",
            "n_contained",
            # all-NULL / empty from-side: containment is undefined —
            # NULL via an explicit guard, never an ANSI 0/0
            F.when(
                F.col("n_from_distinct") > 0,
                F.col("n_contained") / F.col("n_from_distinct"),
            ).alias("containment"),
        )
    )
