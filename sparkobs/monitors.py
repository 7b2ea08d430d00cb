"""Monitor entry points: each reference template as one DataFrame program.

These are the top-level compositions a user of the reference would
migrate to — same outputs, but a single lazy Spark job instead of an
Airflow DAG of tasks + XCom (SURVEY.md §3.1). Each returns a metrics
DataFrame ready for a metric sink (``df.write.mode("append").parquet``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkobs.operators.metrics import to_metrics_long
from sparkobs.operators.profile import duplicate_count, table_profile
from sparkobs.operators.shape import shape_summary, table_shapes
from sparkobs.sources.listing import list_files_distributed, prefix_stats, storage_stats


def table_monitor(df: DataFrame, table_name: str, exact: bool = True) -> DataFrame:
    """Rebuild of redshift_table_monitor.monitor_redshift_table
    (redshift_table_monitor.py:39-80) + snowflake_table_monitor's profile
    (snowflake_table_monitor.py:88-95): full column profile + duplicate
    count as one long-format metric stream."""
    prof = table_profile(df, table_name, exact=exact)
    prof_long = prof.select(
        F.concat(F.col("table_name"), F.lit("."), F.col("col_name")).alias("entity"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"), F.col(m).cast("double").alias("value")
                    )
                    for m in [
                        "n_rows",
                        "n_nulls",
                        "n_distinct",
                        "min_val",
                        "max_val",
                        "mean_val",
                        "std_val",
                        "median_val",
                    ]
                ]
            )
        ).alias("kv"),
    ).select("entity", "kv.metric", "kv.value")
    dups = duplicate_count(df).select(
        F.lit(table_name).alias("entity"),
        F.lit("duplicate_rows").alias("metric"),
        F.col("dup_rows").cast("double").alias("value"),
    )
    return prof_long.unionByName(dups)


def database_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild of redshift_database_monitor / snowflake_database_monitor
    (redshift_database_monitor.py:59-116): per-schema shape metrics as a
    metric stream — table census, row/col extrema and centers."""
    shapes = table_shapes(spark, sf_dir)
    summary = shape_summary(shapes)
    return to_metrics_long(
        summary.select(F.lit("schema").alias("entity"), "*"),
        "entity",
        [
            "table_count",
            "total_rows",
            "max_rows",
            "mean_rows",
            "median_rows",
            "max_cols",
            "min_cols",
        ],
    )


def bucket_monitor(spark: SparkSession, root: str, glob: str | None = None) -> DataFrame:
    """Rebuild of s3_bucket_monitor + s3_key_monitor's prefix fan-out
    (s3_bucket_monitor.py:42-135, s3_key_monitor.py:94-220): distributed
    listing → per-prefix metrics + whole-store rollup, one job."""
    listing = list_files_distributed(spark, root, glob)
    per_prefix = prefix_stats(listing).select(
        F.col("prefix").alias("entity"),
        F.explode(
            F.array(
                F.struct(F.lit("n_objects").alias("metric"), F.col("n_objects").cast("double").alias("value")),
                F.struct(F.lit("total_bytes").alias("metric"), F.col("total_bytes").cast("double").alias("value")),
                F.struct(F.lit("mean_size_mb").alias("metric"), F.col("mean_size_mb").cast("double").alias("value")),
            )
        ).alias("kv"),
    ).select("entity", "kv.metric", "kv.value")
    store = storage_stats(listing).select(
        F.lit("<store>").alias("entity"),
        F.explode(
            F.array(
                F.struct(F.lit("n_objects").alias("metric"), F.col("n_objects").cast("double").alias("value")),
                F.struct(F.lit("total_mb").alias("metric"), F.col("total_mb").cast("double").alias("value")),
            )
        ).alias("kv"),
    ).select("entity", "kv.metric", "kv.value")
    return per_prefix.unionByName(store)


def sql_monitor(spark: SparkSession, sql: str, name: str = "query") -> DataFrame:
    """Rebuild of DataFrames/databand_tracking_template.py:5-31 (OP-11):
    arbitrary SQL → profile metric stream, single execution (the
    reference runs the query twice — once for headers, once for rows,
    databand_tracking_template.py:13-17)."""
    return table_monitor(spark.sql(sql), name)


def monitor_suite(
    tables: list[tuple],
    as_of: str,
    default_sla_seconds: int = 7 * 86400,
    percentiles: dict[str, list[tuple]] | None = None,
    sketch_k: int = 2048,
) -> DataFrame:
    """Declarative per-table observability battery — the closest Spark
    analog of the reference's UX, where each template is CONFIGURED
    per table (s3_key_monitor.py:29-51, snowflake_table_monitor.py:
    50-54) rather than coded: ``tables`` is [(name, df, ts_col,
    checks)] — or [(name, df, ts_col, checks, sla_seconds)] for
    tables whose cadence differs from ``default_sla_seconds`` (a
    daily-batch table and a minutely stream can share one suite) —
    with ``checks`` a run_checks suite (may be empty) and
    ``ts_col`` optionally None (skips freshness). One long verdict
    frame unions freshness SLAs and contract checks for every
    configured table, so a whole lake's health is one DataFrame and
    one sink write.

    ``percentiles`` (r8 verdict stretch — the capstone observability
    shape: the reference's per-table template UX with sketch-backed
    percentile verdicts) maps a table name to its percentile SLO
    contracts ``[(id_col, col, q, ceiling)]``: each becomes a
    checks.percentile_contract leg — ONE single-pass bounded-state KMV
    sketch (``sketch_k`` rows) per contract, so "p95 of this column
    must stay under X" joins the same verdict frame without buffering
    the column. Its rows carry check_type ``percentile_slo_p<q>`` and
    the SKETCH ESTIMATE as metric_value.

    Shape: per table, freshness is the one-max aggregate of
    checks.freshness_check, the contract suite is run_checks' one
    shared aggregation pass, and each percentile contract is one
    map-side top-k + k-row aggregate — all unioned lazily into one
    DataFrame and one action. AQE runs each shuffle stage of that
    action as its own job: ``monitor_suite_lake`` (two tables, a
    freshness and a contract aggregate each) runs 5 jobs. Output:
    (table_name, check_type, column, metric_value, passed) —
    metric_value is staleness seconds for freshness rows and
    the violation count for contract rows (exact integers in double
    form), and the KMV estimate for percentile rows (the identical
    sample value any engine picks — certifiable unrounded, see
    percentile_contract).
    """
    from sparkobs.operators.checks import (
        freshness_check,
        percentile_contract,
        run_checks,
    )

    percentiles = percentiles or {}
    parts = []
    for spec in tables:
        name, df, ts_col, checks = spec[:4]
        sla_seconds = spec[4] if len(spec) > 4 else default_sla_seconds
        if ts_col is not None:
            parts.append(
                freshness_check(
                    [(name, df, ts_col)],
                    as_of,
                    {name: sla_seconds},
                ).select(
                    F.lit(name).alias("table_name"),
                    F.lit("freshness").alias("check_type"),
                    F.lit(ts_col).alias("column"),
                    F.col("staleness_s").cast("double").alias("metric_value"),
                    F.col("is_fresh").alias("passed"),
                )
            )
        if checks:
            parts.append(
                run_checks(df, checks).select(
                    F.lit(name).alias("table_name"),
                    F.col("check_type"),
                    F.col("column"),
                    F.col("violations").cast("double").alias("metric_value"),
                    F.col("passed"),
                )
            )
        for id_col, col, q, ceiling in percentiles.get(name, []):
            parts.append(
                percentile_contract(
                    [(name, df, id_col, col, q, ceiling)], k=sketch_k
                ).select(
                    F.col("table_name"),
                    F.lit(f"percentile_slo_p{q:g}").alias("check_type"),
                    F.col("col_name").alias("column"),
                    F.col("est_value").alias("metric_value"),
                    F.col("ok").alias("passed"),
                )
            )
    if not parts:
        raise ValueError("monitor_suite needs at least one table with "
                         "a ts_col, a non-empty check suite, or a "
                         "percentile contract")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
