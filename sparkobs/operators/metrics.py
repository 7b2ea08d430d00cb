"""Long-format metric streams and fan-in aggregation.

Rebuild of the reference's XCom fan-out/fan-in (OP-12/14/20/21/37):
per-entity metric dicts pushed through XCom and dict-merged by metric
name (s3_key_monitor.py:141-220, s3_bucket_monitor.py:105-135) become
one long-format DataFrame ``(entity, metric, value)`` — the exchange is
a Spark shuffle, the merge is a groupBy. The positional zip joins the
reference uses to pair task ids with URIs (OP-20, s3_key_monitor.py:159)
disappear: entity identity is a column, carried through the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def to_metrics_long(df: DataFrame, entity_col: str, metric_cols: list[str]) -> DataFrame:
    """Unpivot wide per-entity metrics to long format (OP-12 sink shape).

    Uses a generated struct-array + explode (pure Catalyst, codegen'd) —
    one pass, output = rows × len(metric_cols).
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric"), F.col(m).cast("double").alias("value")
            )
            for m in metric_cols
        ]
    )
    return df.select(
        F.col(entity_col).cast("string").alias("entity"), F.explode(pairs).alias("kv")
    ).select("entity", "kv.metric", "kv.value")


def fanin_stats(metrics: DataFrame) -> DataFrame:
    """Merge per-entity metrics by name and summarize (OP-21 + OP-37).

    Rebuild of ``aggregate_and_compare_metrics`` (s3_key_monitor.py:141-220):
    instead of collecting value lists into dicts, compute the summary
    statistics the fan-in actually wants (count/min/max/mean/sum) in one
    partial+final hash agg keyed by metric name.
    """
    return metrics.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def collect_metric_lists(metrics: DataFrame) -> DataFrame:
    """Literal rebuild of the reference's map<metric, list<value>> merge
    (OP-21, s3_bucket_monitor.py:115-124). Values are array_sort-ed so
    the result is deterministic. Bounded by n_entities per metric —
    fine for monitor fan-ins (thousands of entities), not for data rows.
    """
    return metrics.groupBy("metric").agg(
        F.array_sort(F.collect_list("value")).alias("values")
    )


def argmax_entity(metrics: DataFrame) -> DataFrame:
    """Per metric, the entity holding the max value (OP-34 over metrics,
    s3_key_monitor.py:179-184,209-220). max_by with (value, entity)
    struct → deterministic on ties, single hash agg."""
    return metrics.groupBy("metric").agg(
        F.max_by(F.col("entity"), F.struct(F.col("value"), F.col("entity"))).alias(
            "max_entity"
        ),
        F.round(F.max("value"), 4).alias("max_value"),
    )


def delta_contribution(
    before: DataFrame,
    after: DataFrame,
    dim_col: str,
    value_col: str,
) -> DataFrame:
    """Metric root-cause drill-down — "revenue moved 8%: WHICH segment
    did it": per dimension value, the metric total before vs after,
    the delta, and each value's share of the overall delta. The
    observability follow-up every threshold alert needs.

    ``value_col`` must be exact integer units (cents — the caller
    quantizes), so per-dim sums and the total delta are
    order-independent bigints and the share is a single division of
    identical integers, unrounded. Two hash aggs + one full outer
    join on the dimension (dim-table-sized, checkpointed — the total
    rides a 1-row broadcast off the same frame, which Catalyst would
    otherwise re-derive). Dimension values present on only one side
    contribute their full signed total. Output: (dim, before_units,
    after_units, delta_units, delta_share) — share NULL when the
    totals cancel to zero.
    """
    a = before.groupBy(F.col(dim_col).alias("dim")).agg(
        F.sum(value_col).cast("long").alias("before_units")
    )
    b = after.groupBy(F.col(dim_col).alias("dim")).agg(
        F.sum(value_col).cast("long").alias("after_units")
    )
    joined = (
        a.join(b, "dim", "full_outer")
        .select(
            "dim",
            F.coalesce("before_units", F.lit(0)).alias("before_units"),
            F.coalesce("after_units", F.lit(0)).alias("after_units"),
        )
        .withColumn("delta_units", F.col("after_units") - F.col("before_units"))
        .localCheckpoint()
    )
    total = joined.agg(F.sum("delta_units").cast("long").alias("__total"))
    return joined.crossJoin(F.broadcast(total)).select(
        "dim",
        "before_units",
        "after_units",
        "delta_units",
        F.when(
            F.col("__total") != 0, F.col("delta_units") / F.col("__total")
        ).alias("delta_share"),
    )
