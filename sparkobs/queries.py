"""Named query registry: the driver-facing checklist of SURVEY.md §2.

Each ``@query(name, oracle=...)`` registers a Spark callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) the
equivalent DuckDB oracle SQL. Column aliases match exactly on both
sides; floating-point aggregates are rounded in-query on both sides.

Queries without an oracle (sampling, FS listing, LSH internals,
streaming execution) get the driver's weaker rows-only check and are
covered by unit tests instead (SURVEY.md §5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkobs.io import load_table
from sparkobs.session import jvm_class

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

LINEITEM_NUMERIC = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Phase 1 — core profiling (OP-01/02/22/24-31/35/36/48/49)
# ---------------------------------------------------------------------------

def _profile_oracle_one(col: str, table: str) -> str:
    d = f"CAST({col} AS DOUBLE)"
    return f"""
    SELECT '{col}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
           min({d}) AS min_val,
           max({d}) AS max_val,
           round(avg({d}), 4) AS mean_val,
           round(stddev_samp({d}), 4) AS std_val,
           round(quantile_cont({d}, 0.25), 4) AS p25,
           round(quantile_cont({d}, 0.50), 4) AS median_val,
           round(quantile_cont({d}, 0.75), 4) AS p75
    FROM {table}"""


@query(
    "profile_lineitem_stats",
    oracle="SELECT 'lineitem' AS table_name, * FROM ("
    + " UNION ALL ".join(_profile_oracle_one(c, "lineitem") for c in LINEITEM_NUMERIC)
    + ")",
)
def profile_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship one-pass profile (OP-13/36); ref redshift_table_monitor.py:53-73."""
    from sparkobs.operators.profile import table_profile

    return table_profile(load_table(spark, sf_dir, "lineitem"), "lineitem")


@query(
    "record_count_lineitem",
    oracle="SELECT CAST(count(*) AS BIGINT) AS record_count FROM lineitem",
)
def record_count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row count (OP-22) as a one-row literal relation: the count comes
    from lineitem's Parquet footers (``io.table_row_count``), so no
    Spark job runs to answer it; ref redshift_table_monitor.py:61."""
    from sparkobs.io import table_row_count

    n = table_row_count(spark, sf_dir, "lineitem")
    return spark.sql(f"SELECT CAST({n} AS BIGINT) AS record_count")


@query(
    "null_counts_orders",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST(coalesce(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END),0) AS BIGINT) AS n_nulls FROM orders"
        for c in [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ]
    ),
)
def null_counts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null counts (OP-29); ref redshift_table_monitor.py:63-66."""
    from sparkobs.operators.profile import null_counts

    return null_counts(load_table(spark, sf_dir, "orders"))


@query(
    "distinct_counts_lineitem",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct FROM lineitem"
        for c in [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ]
    ),
)
def distinct_counts_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column distinct counts (OP-30); HLL variant is the 100 TB mode."""
    from sparkobs.operators.profile import distinct_counts

    return distinct_counts(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus", "l_shipdate"],
    )


@query(
    "duplicate_count_lineitem",
    oracle="""
    SELECT CAST(coalesce(sum(cnt - 1), 0) AS BIGINT) AS dup_rows,
           CAST(count(*) AS BIGINT) AS distinct_rows
    FROM (SELECT count(*) AS cnt FROM lineitem
          GROUP BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
                   l_shipdate)
    """,
)
def duplicate_count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-row count (OP-31); ref redshift_table_monitor.py:62."""
    from sparkobs.operators.profile import duplicate_count

    return duplicate_count(load_table(spark, sf_dir, "lineitem"))


@query(
    "histogram_quantity",
    oracle="""
    SELECT bin, CAST(bin * 5.0 AS DOUBLE) AS bin_lo, CAST((bin + 1) * 5.0 AS DOUBLE) AS bin_hi,
           CAST(count(*) AS BIGINT) AS bin_count
    FROM (SELECT CAST(floor((l_quantity - 0.0) / 5.0) AS BIGINT) AS bin
          FROM lineitem WHERE l_quantity IS NOT NULL)
    GROUP BY bin
    """,
)
def histogram_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram (OP-33); deterministic data-independent edges."""
    from sparkobs.operators.profile import numeric_histogram

    return numeric_histogram(load_table(spark, sf_dir, "lineitem"), "l_quantity", 5.0)


@query(
    "histogram_returnflag",
    oracle="SELECT l_returnflag AS value, CAST(count(*) AS BIGINT) AS value_count FROM lineitem GROUP BY 1",
)
def histogram_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical histogram (OP-33)."""
    from sparkobs.operators.profile import categorical_histogram

    return categorical_histogram(load_table(spark, sf_dir, "lineitem"), "l_returnflag")


@query(
    "limited_scan_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
)
def limited_scan_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic limited scan (OP-02 + §2.6 top-k): TakeOrderedAndProject,
    no full sort; ref redshift_table_monitor.py:21-24."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@query("sample_scan")
def sample_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic sample scan (OP-03); seed-dependent → rows-only check;
    ref snowflake_table_monitor.py:50-54 (SAMPLE BLOCK)."""
    return load_table(spark, sf_dir, "lineitem").sample(fraction=0.01, seed=42)


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the engine's headline grouped-agg
    (OP-16/24/26/35/48) — filter pushed to parquet scan, single partial+final
    hash aggregation, whole-stage codegen."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Phase 2 — grouped/shape metrics (OP-05/06/15/16/18/19/23/32/34/36/37)
# ---------------------------------------------------------------------------


@query(
    "group_agg_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS order_count,
           round(sum(o_totalprice), 2) AS sum_totalprice,
           round(avg(o_totalprice), 4) AS avg_totalprice
    FROM orders GROUP BY o_orderstatus
    """,
)
def group_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation (OP-16/24/26); ref snowflake_database_monitor.py:62-65."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_totalprice"),
        )
    )


@query(
    "revenue_per_nation",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS order_count,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way equi join + agg (OP-19). Scale plan: orders⋈customer
    shuffles on the key; customer⋈nation is broadcast (25-row dim) —
    explicitly hinted so 100 TB of orders never shuffles for the dim."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "lookup_join_fill_nation",
    oracle="""
    SELECT n.n_nationkey, n.n_name,
           CAST(coalesce(c.customer_count, 0) AS BIGINT) AS customer_count
    FROM nation n
    LEFT JOIN (SELECT c_nationkey, count(*) AS customer_count
               FROM customer GROUP BY c_nationkey) c
      ON n.n_nationkey = c.c_nationkey
    """,
)
def lookup_join_fill_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast lookup join with missing→0 fill (OP-18);
    ref redshift_database_monitor.py:89-91 (dict map + fillna)."""
    from pyspark.sql import functions as F

    from sparkobs.operators.shape import lookup_join_fill

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    counts = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("customer_count"))
    )
    return lookup_join_fill(n, counts, on="n_nationkey", value_col="customer_count")


@query(
    "grouped_distinct_parts",
    oracle="""
    SELECT l_suppkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_l_partkey
    FROM lineitem GROUP BY l_suppkey
    """,
)
def grouped_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distinct count (OP-32); ref redshift_database_monitor.py:87-88."""
    from sparkobs.operators.shape import grouped_distinct

    return grouped_distinct(load_table(spark, sf_dir, "lineitem"), "l_suppkey", "l_partkey")


@query(
    "argmax_order",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 1
    """,
)
def argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global argmax (OP-34): single hash-agg max_by, no sort;
    ref s3_bucket_monitor.py:79-81 running max loop."""
    from sparkobs.operators.shape import argmax

    return argmax(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        label_col="o_orderkey",
        measure_col="o_totalprice",
    )


@query(
    "argmax_order_per_status",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def argmax_order_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax (OP-34 grouped): max_by beats a window sort —
    one shuffle on the group key, no per-partition ordering."""
    from sparkobs.operators.shape import argmax_per_group

    return argmax_per_group(
        load_table(spark, sf_dir, "orders"),
        group_col="o_orderstatus",
        label_col="o_orderkey",
        measure_col="o_totalprice",
    )


@query(
    "shape_summary_all",
    oracle="""
    WITH shapes AS (
        SELECT 'region' AS table_name, CAST(count(*) AS BIGINT) AS row_count,
               (SELECT CAST(count(*) AS BIGINT) FROM pragma_table_info('region')) AS col_count FROM region UNION ALL
        SELECT 'nation', count(*), (SELECT count(*) FROM pragma_table_info('nation')) FROM nation UNION ALL
        SELECT 'customer', count(*), (SELECT count(*) FROM pragma_table_info('customer')) FROM customer UNION ALL
        SELECT 'supplier', count(*), (SELECT count(*) FROM pragma_table_info('supplier')) FROM supplier UNION ALL
        SELECT 'part', count(*), (SELECT count(*) FROM pragma_table_info('part')) FROM part UNION ALL
        SELECT 'orders', count(*), (SELECT count(*) FROM pragma_table_info('orders')) FROM orders UNION ALL
        SELECT 'lineitem', count(*), (SELECT count(*) FROM pragma_table_info('lineitem')) FROM lineitem UNION ALL
        SELECT 'events', count(*), (SELECT count(*) FROM pragma_table_info('events')) FROM events UNION ALL
        SELECT 'documents', count(*), (SELECT count(*) FROM pragma_table_info('documents')) FROM documents UNION ALL
        SELECT 'embeddings', count(*), (SELECT count(*) FROM pragma_table_info('embeddings')) FROM embeddings)
    SELECT CAST(count(*) AS BIGINT) AS table_count,
           CAST(sum(row_count) AS BIGINT) AS total_rows,
           CAST(max(row_count) AS BIGINT) AS max_rows,
           round(avg(row_count), 4) AS mean_rows,
           round(quantile_cont(CAST(row_count AS DOUBLE), 0.5), 4) AS median_rows,
           CAST(max(col_count) AS BIGINT) AS max_cols,
           CAST(min(col_count) AS BIGINT) AS min_cols
    FROM shapes
    """,
)
def shape_summary_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema shape summary (OP-06/23/25/26/27/37) over all tables;
    ref redshift_database_monitor.py:71-103 (including the intended-min
    fix for the reference's min/max copy-paste bug, SURVEY.md §8.2)."""
    from sparkobs.operators.shape import shape_summary, table_shapes

    return shape_summary(table_shapes(spark, sf_dir))


# ---------------------------------------------------------------------------
# Phase 3 — metric fan-out/fan-in (OP-12/14/20/21/37)
# ---------------------------------------------------------------------------

_SUPPLIER_METRICS_CTE = """
    WITH per AS (
      SELECT CAST(l_suppkey AS VARCHAR) AS entity,
             CAST(sum(l_quantity) AS DOUBLE) AS total_qty,
             CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS total_revenue
      FROM lineitem GROUP BY 1),
    long AS (
      SELECT entity, 'total_qty' AS metric, total_qty AS value FROM per
      UNION ALL
      SELECT entity, 'total_revenue' AS metric, total_revenue AS value FROM per)
"""


def _supplier_metrics_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sparkobs.operators.metrics import to_metrics_long

    per = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum("l_quantity").alias("total_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            ),
        )
    )
    return to_metrics_long(per, "l_suppkey", ["total_qty", "total_revenue"])


@query(
    "metrics_fanin_supplier",
    oracle=_SUPPLIER_METRICS_CTE
    + """
    SELECT metric, CAST(count(*) AS BIGINT) AS n_entities,
           round(min(value), 4) AS min_value, round(max(value), 4) AS max_value,
           round(avg(value), 4) AS mean_value, round(sum(value), 4) AS sum_value
    FROM long GROUP BY metric
    """,
)
def metrics_fanin_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-out per-entity metrics → fan-in summary (OP-21/37);
    ref s3_key_monitor.py:141-220 XCom dict merge."""
    from sparkobs.operators.metrics import fanin_stats

    return fanin_stats(_supplier_metrics_long(spark, sf_dir))


@query(
    "argmax_entity_supplier",
    oracle=_SUPPLIER_METRICS_CTE
    + """
    SELECT metric, max_entity, max_value FROM (
      SELECT metric, entity AS max_entity, round(value, 4) AS max_value,
             row_number() OVER (PARTITION BY metric ORDER BY value DESC, entity DESC) AS rn
      FROM long) WHERE rn = 1
    """,
)
def argmax_entity_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric argmax entity (OP-34 over the metric stream);
    ref s3_key_monitor.py:179-184,209-220."""
    from sparkobs.operators.metrics import argmax_entity

    return argmax_entity(_supplier_metrics_long(spark, sf_dir))


# ---------------------------------------------------------------------------
# Phase 5 — run-over-run state: snapshots, deltas, drift (OP-38/39/40)
# ---------------------------------------------------------------------------


@query(
    "snapshot_count_delta",
    oracle="""
    WITH snap AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS run_ts, 'orders' AS table_name,
             CAST(count(*) AS BIGINT) AS row_count
      FROM orders GROUP BY 1
      UNION ALL
      SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP), 'lineitem',
             CAST(count(*) AS BIGINT)
      FROM lineitem GROUP BY 1)
    SELECT run_ts, table_name, row_count,
           lag(row_count) OVER (PARTITION BY table_name ORDER BY run_ts) AS prev_count,
           row_count - lag(row_count) OVER (PARTITION BY table_name ORDER BY run_ts) AS delta
    FROM snap
    """,
)
def snapshot_count_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run count delta (OP-38/39): monthly counts of TWO
    monitored tables as the run history, lag-window delta per table —
    multi-table history keeps the window genuinely partitioned (a
    single literal table_name constant-folds the partition spec away
    into a single-partition WindowExec). Ref
    snowflake_table_monitor.py:97-113 (fixing its str-subtraction
    TypeError, SURVEY.md §8.3)."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import count_delta

    def snap(table, ts_col):
        return (
            load_table(spark, sf_dir, table)
            .groupBy(F.date_trunc("month", F.col(ts_col)).alias("run_ts"))
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select("run_ts", F.lit(table).alias("table_name"), "row_count")
        )

    return count_delta(
        snap("orders", "o_orderdate").unionByName(snap("lineitem", "l_shipdate"))
    )


@query(
    "schema_drift_hourly",
    oracle="""
    WITH snap AS (
      SELECT date_trunc('hour', ts) AS run_ts,
             'events_' || CAST(user_id % 2 AS VARCHAR) AS table_name,
             list_sort(list(DISTINCT event_type)) AS cols
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT run_ts, table_name, cols,
             lag(cols) OVER (PARTITION BY table_name ORDER BY run_ts) AS pc
      FROM snap)
    SELECT run_ts, table_name,
           CAST(len(list_filter(pc, x -> NOT list_contains(cols, x))) AS INT) AS n_removed,
           CASE WHEN pc IS NULL THEN NULL ELSE CAST(len(list_filter(cols, x -> NOT list_contains(pc, x))) AS INT) END AS n_added,
           CASE WHEN pc IS NULL THEN NULL ELSE (len(list_filter(pc, x -> NOT list_contains(cols, x)))
            + len(list_filter(cols, x -> NOT list_contains(pc, x))) > 0) END AS columns_changed
    FROM w
    """,
)
def schema_drift_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift via array_except over run history (OP-40): hourly
    distinct event_type sets stand in for column lists; ref
    snowflake_table_monitor.py:104-109 (fixing its chars-vs-names bug)."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import schema_drift

    # two monitored "tables" (streams split by user parity) so the
    # per-table lag window stays genuinely partitioned — a single
    # literal table_name constant-folds the partition spec away into a
    # single-partition WindowExec
    snaps = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("run_ts"),
            F.concat(
                F.lit("events_"), (F.col("user_id") % 2).cast("string")
            ).alias("table_name"),
        )
        .agg(F.array_sort(F.collect_set("event_type")).alias("columns"))
        .select("run_ts", "table_name", "columns")
    )
    return schema_drift(snaps)


# ---------------------------------------------------------------------------
# Phase 6 — time windows, batch form (OP-54/55)
# ---------------------------------------------------------------------------


@query(
    "window_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window agg (OP-54) via F.window — same operator runs under
    Structured Streaming with a watermark (sparkobs.streaming)."""
    from sparkobs.operators.windows import tumbling_agg

    return tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")


@query(
    "window_sliding",
    oracle="""
    WITH s AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events)
    SELECT ws AS window_start, CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY 1
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window agg (OP-55): 1 h windows every 30 min; Spark expands
    each event into duration/slide windows inside one grouped agg."""
    from sparkobs.operators.windows import sliding_agg

    return sliding_agg(load_table(spark, sf_dir, "events"), "1 hour", "30 minutes")


@query(
    "window_session_per_user",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    y AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
    SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
           CAST(count(*) AS BIGINT) AS n_events
    FROM y GROUP BY user_id, sid
    """,
)
def window_session_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user, 30 min gap (OP-55): Catalyst-native
    session_window merge — no sort-based islands pass; oracle is the
    classic lag/cumsum islands SQL."""
    from sparkobs.operators.windows import session_agg

    return session_agg(load_table(spark, sf_dir, "events"), "user_id", "30 minutes")


# ---------------------------------------------------------------------------
# Phase 3b — scalar function library (OP-42..52)
# ---------------------------------------------------------------------------


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           string_split(p_type, ' ')[-1] AS type_last,
           upper(p_brand) AS brand_upper,
           replace(p_name, ' ', '') AS name_nospace,
           p_brand || '-size(MB)' AS metric_name,
           round(p_retailprice / 1024.0, 4) AS price_kb,
           CAST(coalesce(p_size, 0) AS BIGINT) AS size_filled
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/format/unit scalar functions (OP-42/44/45/46/48/49/52);
    ref s3_key_monitor.py:49-51,75-86, snowflake_table_monitor.py:163."""
    from pyspark.sql import functions as F

    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.element_at(F.split("p_type", " "), -1).alias("type_last"),
        F.upper("p_brand").alias("brand_upper"),
        F.regexp_replace("p_name", " ", "").alias("name_nospace"),
        F.concat(F.col("p_brand"), F.lit("-size(MB)")).alias("metric_name"),
        F.round(F.col("p_retailprice") / 1024.0, 4).alias("price_kb"),
        F.coalesce(F.col("p_size"), F.lit(0)).cast("long").alias("size_filled"),
    )


@query(
    "json_extract_events",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (OP-50); ref snowflake_table_monitor.py:69."""
    from pyspark.sql import functions as F

    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


@query(
    "timestamp_format_orders",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts_str,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month
    FROM orders
    """,
)
def timestamp_format_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp → string + truncation (OP-47); ref s3_key_monitor.py:77,124
    (.__str__() stringification, done at the sink not mid-plan)."""
    from pyspark.sql import functions as F

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_ts_str"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
    )


# ---------------------------------------------------------------------------
# Phase 7 — LLM-pipeline extensions: text analysis, dedup, similarity
# ---------------------------------------------------------------------------


@query(
    "text_stats_documents",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_unique_tokens,
           round(length(regexp_replace(text, '\\s+', '', 'g'))
                 / len(string_split_regex(text, '\\s+')), 4) AS avg_token_len
    FROM documents
    """,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (extension: text analysis)."""
    from sparkobs.operators.text import text_stats

    return text_stats(load_table(spark, sf_dir, "documents"))


@query(
    "quality_score_documents",
    oracle="""
    WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_unique,
                 len(list_filter(toks, t -> t in ('the', 'a'))) AS n_stop
          FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(n_stop / n_tokens, 4) AS stopword_ratio,
           round(least(1.0, n_tokens / 50.0) * 0.4
                 + (n_unique / n_tokens) * 0.4
                 + (1.0 - n_stop / n_tokens) * 0.2, 4) AS quality
    FROM m
    """,
)
def quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality scoring (extension: text analysis)."""
    from sparkobs.operators.text import quality_score

    return quality_score(load_table(spark, sf_dir, "documents"))


@query(
    "language_id_documents",
    oracle="""
    WITH t AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM documents),
    s AS (SELECT doc_id, len(toks) AS n_tokens,
                 len(list_filter(toks, x -> x in ('the','a','of','and','to'))) AS s_en,
                 len(list_filter(toks, x -> x in ('der','die','und','das','ist'))) AS s_de,
                 len(list_filter(toks, x -> x in ('le','la','et','les','des'))) AS s_fr,
                 len(list_filter(toks, x -> x in ('el','la','de','que','los'))) AS s_es,
                 length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk
          FROM t)
    SELECT doc_id,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS lang_pred,
           round(greatest(s_en, s_de, s_fr, s_es) / n_tokens, 4) AS lang_score
    FROM s
    """,
)
def language_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-profile language-ID (extension: text analysis)."""
    from sparkobs.operators.text import language_id

    return language_id(load_table(spark, sf_dir, "documents"))


@query(
    "fingerprint_documents",
    oracle="""
    SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents
    """,
)
def fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (extension: text analysis)."""
    from sparkobs.operators.text import fingerprint

    return fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "token_count_regex_documents",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
             AS n_regex_tokens
    FROM documents
    """,
)
def token_count_regex_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count (extension: text analysis)."""
    from sparkobs.operators.text import token_count_regex

    return token_count_regex(load_table(spark, sf_dir, "documents"))


@query(
    "exact_dedup_documents",
    oracle="""
    SELECT min(doc_id) AS doc_id, text, CAST(count(*) AS BIGINT) AS group_size
    FROM documents GROUP BY text
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep lowest id per identical text (extension: dedup
    tier 1); at 100 TB the group key is md5(text), not raw text."""
    from sparkobs.operators.dedup import exact_dedup

    return exact_dedup(load_table(spark, sf_dir, "documents"), ["text"])


@query(
    "ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    sh AS (SELECT doc_id,
                  CASE WHEN len(t) >= 3
                       THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                         i -> array_to_string(t[i:i+2], ' ')))
                       ELSE [array_to_string(t, ' ')] END AS s
           FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
    inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
              FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT ia AS id_a, ib AS id_b,
           round(i / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = ia
    JOIN sizes sb ON sb.doc_id = ib
    WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2
    """,
)
def ngram_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs ≥ 0.2 (extension: dedup tier 2,
    the ground truth the LSH tiers are verified against)."""
    from sparkobs.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.2
    )


def _hex15_sql(col: str, start: int = 1) -> str:
    """DuckDB expression: 15 hex chars of ``col`` (an md5 hex string)
    from position ``start``, parsed base-16 into a BIGINT — exact
    integer arithmetic, inlined 16^k constants (no floating-point
    power). ``start=16`` reads the second half of a 32-hex digest."""
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr({col}, {start + j}, 1)) - 1) * {16 ** (14 - j)}"
            for j in range(0, 15)
        )
        + ")"
    )


def _minhash_pair_ctes(n: int = 3, num_hashes: int = 32, bands: int = 8, threshold: float = 0.2) -> str:
    """Shared CTE chain for the PORTABLE (md5) MinHash-LSH pipeline:
    per-shingle double hashing a + s·b (a, b = the two 15-hex-char
    halves of ONE md5 digest mod 1e17 — Kirsch-Mitzenmacher; md5's bits
    are uniformly mixed, so the halves are independent seeds and one
    digest per shingle suffices — measured ~40% faster than the r3
    two-digest form), per-seed min, band buckets = md5 of the
    '|'-joined band members, candidate bucket join, exact-Jaccard
    verification — exact integer arithmetic, so value-reproducible
    across engines. Ends with a ``pairs(id_a, id_b, jaccard)`` CTE."""
    rpb = num_hashes // bands
    mins = ", ".join(f"min(a + {s} * b) AS h{s}" for s in range(num_hashes))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + _hex15_sql(
            "md5(concat_ws('|', "
            + ", ".join(f"h{bi * rpb + r}" for r in range(rpb))
            + "))"
        )
        + " AS bucket FROM sig"
        for bi in range(bands)
    )
    return f"""
    toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    shl AS (SELECT doc_id,
                   CASE WHEN len(t) >= {n}
                        THEN list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),
                                                          i -> array_to_string(t[i:i+{n - 1}], ' ')))
                        ELSE [array_to_string(t, ' ')] END AS s
            FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS sh FROM shl),
    exd AS (SELECT doc_id, md5(sh) AS d FROM ex),
    ex2 AS (SELECT doc_id,
                   {_hex15_sql('d')} % 100000000000000000 AS a,
                   {_hex15_sql('d', start=16)} % 100000000000000000 AS b
            FROM exd),
    sig AS (SELECT doc_id, {mins} FROM ex2 GROUP BY doc_id),
    banded AS ({band_rows}),
    cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
    inter AS (SELECT c.ia, c.ib, count(*) AS i
              FROM cand c
              JOIN ex a ON a.doc_id = c.ia
              JOIN ex b ON b.doc_id = c.ib AND b.sh = a.sh
              GROUP BY 1, 2),
    pairs AS (
      SELECT ia AS id_a, ib AS id_b, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
      WHERE round(i / (sa.sz + sb.sz - i), 4) >= {threshold})
    """


def _minhash_lsh_oracle(**kw) -> str:
    return f"WITH {_minhash_pair_ctes(**kw)} SELECT id_a, id_b, jaccard FROM pairs"


@query("minhash_lsh_pairs", oracle=_minhash_lsh_oracle())
def minhash_lsh_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified (extension: dedup tier 3),
    in the portable-hash mode (md5-derived signatures) so the ENTIRE
    approximate pipeline — signatures, banding, candidate join, exact
    verification — is value-hash-checked against DuckDB; the xx64
    production mode is the same algorithm (recall vs tier 2 also
    unit-tested)."""
    from sparkobs.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3, num_hashes=32, bands=8, threshold=0.2, hash_fn="md5",
    )


def _simhash_oracle(nbits: int = 60) -> str:
    """DuckDB mirror of the PORTABLE (md5) SimHash: token hash = first
    15 hex chars of md5 parsed base-16 (bit b extracted from hex char
    15 - b//4), per-bit ±1 vote, fingerprint reassembled as a BIGINT."""
    votes = ", ".join(
        "sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, "
        f"{15 - b // 4}, 1)) - 1) // {1 << (b % 4)}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(nbits)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
                 FROM documents),
    h AS (SELECT doc_id, substr(md5(t), 1, 15) AS h FROM tok),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


@query("simhash_documents", oracle=_simhash_oracle())
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (extension: dedup tier 4) in the portable-
    hash mode (60-bit md5-derived token hashes) — bit-for-bit
    value-checked against the DuckDB mirror; the 64-bit xx64 production
    mode is the same vote/assembly and is unit-tested."""
    from sparkobs.operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"), hash_fn="md5")


@query(
    "cosine_topk",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS norm FROM v),
    p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                 round(list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]))
                       / (a.norm * b.norm), 6) AS cosine
          FROM n a JOIN n b ON a.vec_id != b.vec_id)
    SELECT vec_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM p)
    WHERE rn <= 5
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors (extension: similarity tier 1) —
    exact O(n²) baseline; LSH tier is the 100 TB path."""
    from sparkobs.operators.similarity import cosine_topk_bruteforce

    return cosine_topk_bruteforce(load_table(spark, sf_dir, "embeddings"), k=5)


def _lsh_oracle(dim: int = 64, num_planes: int = 12, band_planes: int = 4, k: int = 5) -> str:
    """DuckDB mirror of cosine_topk_lsh: the hyperplanes are
    DETERMINISTIC (splitmix-derived ±1 components), so the whole
    approximate pipeline — signatures, banding, candidate join, exact
    re-rank — is value-reproducible across engines. Plane constants are
    computed here and inlined as list literals."""
    from sparkobs.operators.similarity import _hyperplane

    planes = [_hyperplane(dim, p) for p in range(num_planes)]
    plane_lits = ", ".join(
        "[" + ", ".join(f"{c:.1f}" for c in pl) + "]" for pl in planes
    )
    bands = num_planes // band_planes
    bit_exprs = ", ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {dim}+1), i -> e[i] * planes[{p+1}][i])) >= 0 "
        f"THEN 1 ELSE 0 END) AS s{p}"
        for p in range(num_planes)
    )
    key_exprs = ", ".join(
        "concat(" + ", ".join(f"s{bi*band_planes+r}" for r in range(band_planes)) + f") AS k{bi}"
        for bi in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, e, norm, {bi} AS band, k{bi} AS key FROM sigk"
        for bi in range(bands)
    )
    return f"""
    WITH p AS (SELECT [{plane_lits}] AS planes),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS norm FROM v),
    sig AS (SELECT vec_id, e, norm, {bit_exprs} FROM n, p),
    sigk AS (SELECT vec_id, e, norm, {key_exprs} FROM sig),
    banded AS ({band_union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.vec_id <> b.vec_id),
    scored AS (
      SELECT c.vec_id, c.neighbor_id,
             round(list_sum(list_transform(range(1, {dim}+1), i -> na.e[i] * nb.e[i]))
                   / (na.norm * nb.norm), 6) AS cosine
      FROM cand c
      JOIN n na ON na.vec_id = c.vec_id
      JOIN n nb ON nb.vec_id = c.neighbor_id)
    SELECT vec_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= {k}
    """


@query("cosine_topk_lsh", oracle=_lsh_oracle())
def cosine_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH cosine top-k (extension: similarity tier 2).
    Approximate but DETERMINISTIC (fixed splitmix hyperplanes) → full
    value-hash oracle against the same pipeline in DuckDB, with the
    plane constants inlined; recall vs brute force also unit-tested."""
    from sparkobs.operators.similarity import cosine_topk_lsh

    return cosine_topk_lsh(load_table(spark, sf_dir, "embeddings"), k=5)


@query(
    "embedding_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4)
             AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norms (extension: similarity)."""
    from sparkobs.operators.similarity import embedding_norms

    return embedding_norms(load_table(spark, sf_dir, "embeddings"))


@query(
    "label_centroid_stats",
    oracle="""
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))), 4)
             AS avg_l2_norm
    FROM embeddings GROUP BY label
    """,
)
def label_centroid_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats (extension: similarity)."""
    from sparkobs.operators.similarity import label_centroid_stats

    return label_centroid_stats(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Phase 4 — object-store listing source (OP-07/08/09/10/41)
#
# Hash-checked against DuckDB's own filesystem introspection
# (read_blob's filename/size/last_modified columns): both engines stat
# the SAME files, so every derived metric is value-comparable. The
# oracle templates carry an {SF_DIR} placeholder substituted by
# oracle_sql() (driver contract: literal sf0.01) and by
# tools/check_oracle.py (the runtime sf dir). DuckDB truncates mtimes
# to whole seconds, so both sides format timestamps to second
# precision.
# ---------------------------------------------------------------------------


def _content_type_case_sql(key_expr: str) -> str:
    """DuckDB CASE mirroring sparkobs.sources.listing.content_type_expr
    (generated from the same extension→MIME dict, so the two can't
    drift)."""
    from sparkobs.sources.listing import CONTENT_TYPE_BY_EXT, DEFAULT_CONTENT_TYPE

    whens = " ".join(
        f"WHEN '{ext}' THEN '{mime}'" for ext, mime in CONTENT_TYPE_BY_EXT.items()
    )
    return (
        f"CASE lower(string_split({key_expr}, '.')[-1]) {whens} "
        f"ELSE '{DEFAULT_CONTENT_TYPE}' END"
    )


@query(
    "listing_key_metrics",
    oracle="""
    SELECT string_split(filename, '/')[-1] AS key,
           'file:' || filename AS path,
           CAST(size AS BIGINT) AS size_bytes,
           round(size / 1048576.0, 4) AS size_mb,
           strftime(last_modified, '%Y-%m-%d %H:%M:%S') AS last_modified,
           """ + _content_type_case_sql("string_split(filename, '/')[-1]") + """
             AS content_type,
           CAST(NULL AS VARCHAR) AS storage_class,
           CAST(NULL AS MAP(VARCHAR, VARCHAR)) AS user_metadata,
           CAST(NULL AS INT) AS parts_count
    FROM read_blob('{SF_DIR}/*')
    """,
)
def listing_key_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-object metadata metrics (OP-09); ref s3_key_monitor.py:72-89.
    Hash-checked: DuckDB stats the same directory via read_blob."""
    from sparkobs.sources.listing import key_metrics, list_files

    return key_metrics(list_files(spark, sf_dir))


@query(
    "listing_prefix_stats",
    oracle="""
    WITH l AS (
      SELECT 'file:' || filename AS path,
             regexp_replace('file:' || filename, '/[^/]*$', '') AS prefix,
             string_split(filename, '/')[-1] AS key,
             size, last_modified
      FROM read_blob('{SF_DIR}/*.parquet')),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY prefix
                                   ORDER BY size DESC, path DESC) AS rn
      FROM l)
    SELECT prefix,
           CAST(count(*) AS BIGINT) AS n_objects,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           round(avg(size) / 1048576.0, 4) AS mean_size_mb,
           CAST(max(size) AS BIGINT) AS max_bytes,
           max(CASE WHEN rn = 1 THEN key END) AS largest_key,
           strftime(max(last_modified), '%Y-%m-%d %H:%M:%S') AS last_modified
    FROM r GROUP BY prefix
    """,
)
def listing_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-prefix aggregation over a distributed binaryFile listing
    (OP-07/08/41); ref s3_key_monitor.py:94-138. The registered query
    formats the latest mtime to whole seconds (DuckDB's stat
    granularity) for cross-engine hashing; the operator itself keeps
    millisecond timestamps."""
    from pyspark.sql import functions as F

    from sparkobs.sources.listing import list_files_distributed, prefix_stats

    return prefix_stats(
        list_files_distributed(spark, sf_dir, glob="*.parquet")
    ).withColumn(
        "last_modified", F.date_format("last_modified", "yyyy-MM-dd HH:mm:ss")
    )


@query(
    "listing_storage_stats",
    oracle="""
    WITH l AS (SELECT 'file:' || filename AS path, size
               FROM read_blob('{SF_DIR}/*'))
    SELECT CAST(count(*) AS BIGINT) AS n_objects,
           CAST(sum(size) AS BIGINT) AS total_bytes,
           round(sum(size) / 1048576.0, 4) AS total_mb,
           (SELECT path FROM l ORDER BY size DESC, path DESC LIMIT 1)
             AS largest_object
    FROM l
    """,
)
def listing_storage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-store capacity stats (OP-10); ref redshift_database_monitor.py:50-57.
    Hash-checked: DuckDB stats the same directory via read_blob."""
    from sparkobs.sources.listing import list_files, storage_stats

    return storage_stats(list_files(spark, sf_dir))


@query("storage_capacity_stats")
def storage_capacity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-level capacity / free / percent-used gauge (OP-10 percent-
    capacity parity; ref redshift_database_monitor.py:111-116) via
    Hadoop FileSystem.getStatus — live filesystem state, so rows-only
    (DuckDB cannot observe the same instant); value sanity is pinned
    by unit test instead."""
    from sparkobs.sources.listing import fs_status

    return fs_status(spark, sf_dir)


# ---------------------------------------------------------------------------
# Phase 7b — multimodal binary columns (extension)
# ---------------------------------------------------------------------------


@query(
    "binary_stats_media",
    oracle="""
    SELECT 'text' AS modality,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           round(avg(octet_length(encode(text))), 4) AS mean_bytes,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_contents
    FROM documents
    """,
)
def binary_stats_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte stats over an opaque binary media column (extension:
    multimodal) — pure Catalyst, no decode."""
    from sparkobs.operators.multimodal import binary_stats, text_as_media

    return binary_stats(text_as_media(load_table(spark, sf_dir, "documents")))


@query(
    "decode_stub_media",
    oracle="""
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(64 + CAST('0x' || substr(sha256(text), 1, 2) AS INT) % 192 AS INT) AS width,
           CAST(64 + CAST('0x' || substr(sha256(text), 3, 2) AS INT) % 192 AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           substr(sha256(text), 1, 16) AS checksum
    FROM documents
    """,
)
def decode_stub_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STUB media decode via Arrow-batched mapInPandas (extension:
    multimodal): deterministic sha256-derived fake features — which
    makes even the stub value-hash checkable (DuckDB sha256 ≡ hashlib).
    The real decoder wires into the same kernel (decode_real)."""
    from sparkobs.operators.multimodal import decode_stub, text_as_media

    return decode_stub(text_as_media(load_table(spark, sf_dir, "documents")))


@query(
    "frame_sample_media",
    oracle="""
    WITH f AS (
      SELECT doc_id AS id, text,
             unnest(generate_series(0,
               least(4, 1 + octet_length(encode(text)) // 640) - 1)) AS fi
      FROM documents)
    SELECT id, CAST(fi * 10 AS INT) AS frame_idx,
           substr(sha256(text || chr(CAST(fi AS INT))), 1, 12) AS frame_checksum
    FROM f
    """,
)
def frame_sample_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STUB frame sampling (1→N mapInPandas expansion, extension:
    multimodal); sha256-derived frame ids → value-hash checkable."""
    from sparkobs.operators.multimodal import frame_sample_stub, text_as_media

    return frame_sample_stub(text_as_media(load_table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# Phase 6b — Structured Streaming execution (OP-53..57)
# ---------------------------------------------------------------------------


def _stage_events(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stage the events table as a small multi-file parquet directory
    for the file-source streams. Cache key = _stage_key's resolved
    path + source mtime + file count, so a changed source or two
    datasets sharing a basename never reuse each other's stage
    (ADVICE r01: basename-only keys served stale results)."""
    import os
    import tempfile

    from sparkobs.io import ensure_stage

    key = _stage_key(sf_dir, "events", str(n_files))
    stage_dir = os.path.join(tempfile.gettempdir(), f"sparkobs_stream_{key}")
    return ensure_stage(
        stage_dir,
        lambda tmp: load_table(spark, sf_dir, "events")
        .coalesce(n_files)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def _fresh_scratch(prefix: str, sf_dir: str) -> str:
    """Empty per-process scratch directory for one streaming twin's
    output over ``sf_dir`` (see :func:`sparkobs.io.scratch_dir`):
    repeated runs reuse one path, concurrent drivers never share it."""
    import hashlib
    import os
    import shutil

    from sparkobs.io import scratch_dir

    key = hashlib.sha256(os.path.realpath(sf_dir).encode()).hexdigest()[:16]
    out = scratch_dir(prefix, key)
    shutil.rmtree(out, ignore_errors=True)
    return out


def _drain_event_partials(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    partial: Callable[[DataFrame], DataFrame],
) -> str:
    """Shared drain of the mergeable-sketch streaming twins: the 4-file
    events stage streams one file per micro-batch, each batch appends
    ``partial(batch)`` to a parquet state directory, and that directory
    is returned for the twin to merge and certify."""
    from sparkobs.streaming.monitors import drain, stream_events

    stage_dir = _stage_events(spark, sf_dir, n_files=4)
    state_dir = _fresh_scratch(prefix, sf_dir)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        partial(batch_df).write.mode("append").parquet(state_dir)

    stream = stream_events(spark, stage_dir, files_per_trigger=1)
    drain(stream.writeStream.foreachBatch(ingest), prefix)
    return state_dir


@query(
    "streaming_tumbling_events",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def streaming_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows executed AS A STREAM (OP-53/54): events drained
    through a file-source micro-batch stream (availableNow) into a
    memory sink, complete output mode — results must equal the batch
    oracle."""
    from sparkobs.streaming.monitors import run_to_memory, stream_events, streaming_tumbling

    stage_dir = _stage_events(spark, sf_dir)
    out = streaming_tumbling(stream_events(spark, stage_dir), "1 hour")
    tbl = run_to_memory(out, "tumbling_stream", output_mode="complete",
                        shuffle_partitions=4)
    return spark.table(tbl).select("window_start", "n_events", "sum_value")


@query(
    "streaming_cdc_latest_events",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                       event_type, round(value, 4) AS value, event_id
                FROM events),
    b1 AS (SELECT * FROM ev WHERE event_id % 2 = 0),
    l1 AS (SELECT user_id, ts_us, event_type, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us DESC, event_id DESC) AS rn FROM b1)
           WHERE rn = 1),
    l2 AS (SELECT user_id, ts_us, event_type, value
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev)
           WHERE rn = 1
             AND user_id IN (SELECT user_id FROM ev WHERE event_id % 2 = 1))
    SELECT * FROM l1 UNION ALL SELECT * FROM l2
    """,
)
def streaming_cdc_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC compaction (extension: continuous upsert
    materialization): per-user latest row held in the state store,
    re-emitted whenever the key appears in a micro-batch. Run over the
    deterministic two-file stage (batch 1 = even event_ids, batch 2 =
    odd), so the oracle replays both batches exactly: batch-1 latest
    over evens, then batch-2 latest over everything for users seen in
    the odds."""
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stateful_latest,
        stream_events,
    )

    stage_dir = _stage_events_split(spark, sf_dir)
    out = stateful_latest(stream_events(spark, stage_dir, files_per_trigger=1))
    # JVM max_by state (r11): the state tasks are cheap enough that a
    # narrow width now wins — under the old Python-state form sp=4
    # measured SLOWER (worker parallelism mattered); re-measured after
    # the built-in agg swap: 2.8 -> 1.5 s at sp=8
    tbl = run_to_memory(out, "cdc_stream", output_mode="update", shuffle_partitions=8)
    return spark.table(tbl)


@query(
    "streaming_jsonl_tumbling_events",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def streaming_jsonl_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous JSONL ingest (extension: crawl-shard streaming):
    events staged as JSON-lines shards, drained through a schema-pinned
    file-source stream into watermarked tumbling windows — results must
    equal the batch oracle over the original parquet, certifying both
    the JSONL parse fidelity and the stream=batch window semantics."""
    from sparkobs.streaming.monitors import (
        EVENTS_SCHEMA,
        run_to_memory,
        stream_jsonl,
        streaming_tumbling,
    )

    stage_dir = _stage_format(spark, sf_dir, "events", "json")
    out = streaming_tumbling(
        stream_jsonl(spark, stage_dir, EVENTS_SCHEMA), "1 hour"
    )
    tbl = run_to_memory(out, "jsonl_stream", output_mode="complete",
                        shuffle_partitions=4)
    return spark.table(tbl).select("window_start", "n_events", "sum_value")


def _stage_events_split(spark: SparkSession, sf_dir: str) -> str:
    """Two-file event stage with DETERMINISTIC batch boundaries for the
    stateful drift oracle: file 1 = even event_ids, file 2 = odd, with
    forced mtime ordering so maxFilesPerTrigger=1 always yields batch 1
    = evens, batch 2 = odds (the file source processes oldest-first)."""
    import glob as _glob
    import os
    import tempfile
    import time

    from sparkobs.io import ensure_stage

    key = _stage_key(sf_dir, "events", "split2")
    stage_dir = os.path.join(tempfile.gettempdir(), f"sparkobs_stream_{key}")

    def _build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.where("event_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(tmp)
        first = set(_glob.glob(os.path.join(tmp, "*.parquet")))
        ev.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(tmp)
        second = set(_glob.glob(os.path.join(tmp, "*.parquet"))) - first
        now = time.time()
        for f in first:
            os.utime(f, (now - 100, now - 100))
        for f in second:
            os.utime(f, (now, now))

    # utimes survive the publish rename (inode metadata), so the
    # mtime-ordered split is intact in the published stage
    return ensure_stage(stage_dir, _build, marker="_SPLIT_STAGED")


@query(
    "streaming_count_drift",
    oracle="""
    WITH b1 AS (SELECT event_type AS entity, CAST(count(*) AS BIGINT) AS batch_count
                FROM events WHERE event_id % 2 = 0 GROUP BY 1),
         b2 AS (SELECT event_type AS entity, CAST(count(*) AS BIGINT) AS batch_count
                FROM events WHERE event_id % 2 = 1 GROUP BY 1)
    SELECT entity, batch_count, CAST(NULL AS BIGINT) AS prev_count, CAST(NULL AS BIGINT) AS delta FROM b1
    UNION ALL
    SELECT b2.entity, b2.batch_count, b1.batch_count AS prev_count,
           b2.batch_count - b1.batch_count AS delta
    FROM b2 LEFT JOIN b1 ON b1.entity = b2.entity
    """,
)
def streaming_count_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-entity count drift via applyInPandasWithState
    (OP-57), run over a two-file stage with maxFilesPerTrigger=1 so the
    batch boundaries are deterministic: batch 1 = even event_ids (state
    seeded, NULL prev), batch 2 = odd (prev + delta against batch 1) —
    fully oracle-checkable, not rows-only."""
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stateful_count_drift,
        stream_events,
    )

    stage_dir = _stage_events_split(spark, sf_dir)
    out = stateful_count_drift(stream_events(spark, stage_dir, files_per_trigger=1))
    tbl = run_to_memory(out, "drift_stream", output_mode="update", shuffle_partitions=2)
    return spark.table(tbl)


_FMT_CONVENTION_V = 2  # v2 = r10 lossless CSV defaults


def _stage_format(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    fmt: str,
    options: dict | None = None,
    n_files: int = 2,
) -> str:
    """Stage a parquet table in another file format (csv/json/orc) for
    the format-connector round-trip queries; same resolved-path+mtime
    cache key discipline as _stage_events."""
    import os
    import tempfile

    # options + file count are part of the identity: a header=False
    # staging of the same table must not reuse a header=True stage.
    # _FMT_CONVENTION_V versions the RESOLVED writer/reader defaults
    # (r10's lossless-CSV change: nullValue=\N, quoted-"" empty,
    # trimming off) — they are invisible in `options` but change the
    # bytes on disk, so a stage cached under the old conventions must
    # not be read back under the new ones (an r10-flagged hazard:
    # nulls written as '' would silently read back as empty string).
    # Bump whenever write_format/read_csv defaults change meaning.
    tag = (
        f"{fmt}:{n_files}:v{_FMT_CONVENTION_V}:"
        f"{sorted((options or {}).items())!r}"
    )
    key = _stage_key(sf_dir, table, tag)
    from sparkobs.io import ensure_stage
    from sparkobs.sources.files import write_format

    stage_dir = os.path.join(tempfile.gettempdir(), f"sparkobs_fmt_{key}")
    return ensure_stage(
        stage_dir,
        lambda tmp: write_format(
            load_table(spark, sf_dir, table),
            tmp,
            fmt,
            n_files=n_files,
            **(options or {}),
        ),
    )


_ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)

_EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


@query(
    "csv_roundtrip_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 4) AS sum_total,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_orderdate,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders GROUP BY 1
    """,
)
def csv_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source connector round-trip (extension: file formats beyond
    parquet): orders staged as headered CSV, read back through
    sources.files.read_csv (explicit schema, FAILFAST), aggregated.
    The oracle aggregates the ORIGINAL parquet — a value-hash match
    certifies CSV write+parse fidelity for ints, doubles, strings and
    timestamps end-to-end."""
    from pyspark.sql import functions as F

    from sparkobs.sources.files import read_csv

    stage = _stage_format(spark, sf_dir, "orders", "csv", {"header": True})
    return (
        read_csv(spark, stage, _ORDERS_DDL)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_total"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "min_orderdate"
            ),
            F.count_distinct("o_orderpriority").alias("n_priorities"),
        )
    )


@query(
    "jsonl_roundtrip_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM events GROUP BY 1
    """,
)
def jsonl_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source connector round-trip (extension: crawl-shard
    format): events staged as JSONL, read back through
    sources.files.read_jsonl (explicit schema — only schema fields are
    materialized), aggregated; oracle = the original parquet.
    Certifies timestamp serialization fidelity through the JSON text
    format on top of numeric/string fidelity."""
    from pyspark.sql import functions as F

    from sparkobs.sources.files import read_jsonl

    stage = _stage_format(spark, sf_dir, "events", "json")
    return (
        read_jsonl(spark, stage, _EVENTS_DDL)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        )
    )


@query(
    "orc_roundtrip_part",
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(p_retailprice), 4) AS sum_retail,
           CAST(count(DISTINCT p_type) AS BIGINT) AS n_types,
           CAST(max(p_size) AS BIGINT) AS max_size
    FROM part GROUP BY 1
    """,
)
def orc_roundtrip_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source connector round-trip (extension: columnar format
    beyond parquet): part staged as ORC, read back (schema from the
    ORC footer; stripe-level pruning), aggregated; oracle = the
    original parquet."""
    from pyspark.sql import functions as F

    from sparkobs.sources.files import read_orc

    stage = _stage_format(spark, sf_dir, "part", "orc")
    return (
        read_orc(spark, stage)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("p_retailprice"), 4).alias("sum_retail"),
            F.count_distinct("p_type").alias("n_types"),
            F.max("p_size").cast("long").alias("max_size"),
        )
    )


def _stage_key(sf_dir: str, table: str, tag: str) -> str:
    """Cache key for staged layouts: resolved path + source mtime + tag
    (same discipline as _stage_events)."""
    import hashlib
    import os

    src = os.path.join(os.path.realpath(sf_dir), f"{table}.parquet")
    mtime = int(os.stat(src).st_mtime_ns) if os.path.exists(src) else 0
    return hashlib.sha256(f"{src}:{mtime}:{tag}".encode()).hexdigest()[:16]


@query(
    "schema_merge_parquet_documents",
    oracle="""
    WITH merged AS (
      SELECT doc_id, text, lang, CAST(NULL AS VARCHAR) AS source,
             CAST(NULL AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT)
      FROM documents WHERE doc_id % 2 = 1),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(doc_id) AS BIGINT) AS doc_id,
             CAST(count(text) AS BIGINT) AS text,
             CAST(count(lang) AS BIGINT) AS lang,
             CAST(count(source) AS BIGINT) AS source,
             CAST(count(n_chars) AS BIGINT) AS n_chars
      FROM merged)
    SELECT col_name, n_nonnull, (SELECT n_rows FROM stats) AS n_rows
    FROM (
      SELECT 'doc_id' AS col_name, doc_id AS n_nonnull FROM stats
      UNION ALL SELECT 'text', text FROM stats
      UNION ALL SELECT 'lang', lang FROM stats
      UNION ALL SELECT 'source', source FROM stats
      UNION ALL SELECT 'n_chars', n_chars FROM stats)
    """,
)
def schema_merge_parquet_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (extension: file formats): the corpus is
    staged as two parquet GENERATIONS — gen 1 (even doc_ids) written
    before `source`/`n_chars` existed, gen 2 (odd doc_ids) with the
    full schema — then read as ONE frame via ``mergeSchema``
    (footer-union only, no data pass). Output: per-column non-null
    census proving older files surface the added columns as nulls;
    oracle = the same union painted from the original table."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from sparkobs.sources.files import read_parquet_merged

    from sparkobs.io import ensure_stage

    key = _stage_key(sf_dir, "documents", "schema_evolution:v1")

    def _build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        docs.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "gen1"))
        docs.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "lang", "source", F.col("n_chars").cast("long")
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "gen2"))

    stage = ensure_stage(
        os.path.join(tempfile.gettempdir(), f"sparkobs_evo_{key}"),
        _build,
        marker=os.path.join("gen2", "_SUCCESS"),
    )
    merged = read_parquet_merged(spark, os.path.join(stage, "gen*"))
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    wide = merged.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(F.col(c)).alias(c) for c in cols],
    )
    pairs = [
        F.struct(F.lit(c).alias("col_name"), F.col(c).alias("n_nonnull"))
        for c in cols
    ]
    return wide.select(
        F.explode(F.array(*pairs)).alias("s"), F.col("__n").alias("n_rows")
    ).select("s.col_name", "s.n_nonnull", "n_rows")


@query(
    "partitioned_prune_documents",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE lang = 'en' GROUP BY 1
    """,
)
def partitioned_prune_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned corpus sink + pruned read (extension: curated-corpus
    layout): documents written hive-partitioned by lang, then a
    lang='en' slice aggregated THROUGH the partitioned layout — the
    scan lists only the lang=en directory (PartitionFilters;
    plan-pinned in tests). Oracle = the same filter over the original
    parquet, so the partition round-trip is value-hash-certified."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from sparkobs.io import write_partitioned

    from sparkobs.io import ensure_stage

    key = _stage_key(sf_dir, "documents", "part_lang")
    stage = ensure_stage(
        os.path.join(tempfile.gettempdir(), f"sparkobs_part_{key}"),
        lambda tmp: write_partitioned(
            load_table(spark, sf_dir, "documents"), tmp, ["lang"]
        ),
    )
    return (
        spark.read.parquet(stage)
        .where(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "bucketed_join_orders_lineitem",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def bucketed_join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (extension: the fact-to-fact join
    strategy when neither side broadcasts): orders and lineitem are
    written as 8-bucket tables hashed+sorted on the order key, then
    joined with NO exchange on either side — the shuffle was paid once
    at write time (plan-pinned: no Exchange in the join plan). Oracle =
    the plain join over the original parquet."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from sparkobs.io import write_bucketed_table

    from sparkobs.io import ensure_stage

    # the key covers BOTH source tables' mtimes — a regenerated
    # orders.parquet must trigger a rebuild, not a stale read; the
    # stage dir (atomic, ensure_stage) and the session catalog entries
    # are ensured SEPARATELY because saveAsTable cannot publish
    # atomically: the bucketed files are written under throwaway
    # pid-keyed catalog names into the tmp dir, published by one
    # rename, and the durable catalog tables are then declared as
    # EXTERNAL bucketed tables over the published path (explicit DDL —
    # CLUSTERED BY requires a column list)
    key = _stage_key(
        sf_dir, "orders", "bucket8:" + _stage_key(sf_dir, "lineitem", "bucket8")
    )
    o_name, l_name = f"orders_b_{key}", f"lineitem_b_{key}"

    def _build(tmp: str) -> None:
        for tbl, col in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            wname = f"{tbl}_bw_p{os.getpid()}"
            spark.sql(f"DROP TABLE IF EXISTS {wname}")
            write_bucketed_table(
                load_table(spark, sf_dir, tbl),
                wname,
                os.path.join(tmp, tbl),
                [col],
            )
            # external table: dropping the name leaves the files
            spark.sql(f"DROP TABLE IF EXISTS {wname}")

    base = ensure_stage(
        os.path.join(tempfile.gettempdir(), f"sparkobs_bucket_{key}"),
        _build,
        marker="_BUCKETS_STAGED",
    )
    for tbl, nm, col in (
        ("orders", o_name, "o_orderkey"),
        ("lineitem", l_name, "l_orderkey"),
    ):
        if not spark.catalog.tableExists(nm):
            ddl = load_table(spark, sf_dir, tbl)._jdf.schema().toDDL()
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {nm} ({ddl}) USING parquet "
                f"CLUSTERED BY ({col}) SORTED BY ({col}) INTO 8 BUCKETS "
                f"LOCATION '{os.path.join(base, tbl)}'"
            )
    return (
        spark.table(o_name)
        .join(
            spark.table(l_name),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Monitor compositions (OP-11/12/13) + struct flatten (OP-51)
# ---------------------------------------------------------------------------

def _table_monitor_oracle(cols: list[str], table: str, proj_sql: str) -> str:
    per_col = []
    for c in cols:
        d = f"CAST({c} AS DOUBLE)"
        per_col.append(f"""
        SELECT '{table}.{c}' AS entity, m.metric, m.value FROM (
          SELECT CAST(count(*) AS DOUBLE) AS n_rows,
                 CAST(coalesce(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END),0) AS DOUBLE) AS n_nulls,
                 CAST(count(DISTINCT {c}) AS DOUBLE) AS n_distinct,
                 min({d}) AS min_val, max({d}) AS max_val,
                 round(avg({d}), 4) AS mean_val,
                 round(stddev_samp({d}), 4) AS std_val,
                 round(quantile_cont({d}, 0.50), 4) AS median_val
          FROM ({proj_sql})) w,
          LATERAL (VALUES ('n_rows', w.n_rows), ('n_nulls', w.n_nulls),
                          ('n_distinct', w.n_distinct), ('min_val', w.min_val),
                          ('max_val', w.max_val), ('mean_val', w.mean_val),
                          ('std_val', w.std_val), ('median_val', w.median_val)) AS m(metric, value)
        """)
    dup = f"""
        SELECT '{table}' AS entity, 'duplicate_rows' AS metric,
               CAST(coalesce(sum(cnt - 1), 0) AS DOUBLE) AS value
        FROM (SELECT count(*) AS cnt FROM ({proj_sql}) GROUP BY {', '.join(cols)})
    """
    return " UNION ALL ".join(per_col + [dup])


@query(
    "sql_monitor_lineitem",
    oracle=_table_monitor_oracle(
        ["l_quantity", "l_extendedprice"],
        "q",
        "SELECT l_quantity, l_extendedprice FROM lineitem",
    ),
)
def sql_monitor_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-SQL source → profile metric stream (OP-11/12/13);
    ref DataFrames/databand_tracking_template.py:5-31 — one execution,
    not the reference's double query."""
    from sparkobs.io import register_views
    from sparkobs.monitors import sql_monitor

    register_views(spark, sf_dir)
    return sql_monitor(spark, "SELECT l_quantity, l_extendedprice FROM lineitem", "q")


@query(
    "database_monitor_metrics",
    oracle="""
    WITH shapes AS (
        SELECT 'region' AS table_name, CAST(count(*) AS BIGINT) AS row_count,
               (SELECT CAST(count(*) AS BIGINT) FROM pragma_table_info('region')) AS col_count FROM region UNION ALL
        SELECT 'nation', count(*), (SELECT count(*) FROM pragma_table_info('nation')) FROM nation UNION ALL
        SELECT 'customer', count(*), (SELECT count(*) FROM pragma_table_info('customer')) FROM customer UNION ALL
        SELECT 'supplier', count(*), (SELECT count(*) FROM pragma_table_info('supplier')) FROM supplier UNION ALL
        SELECT 'part', count(*), (SELECT count(*) FROM pragma_table_info('part')) FROM part UNION ALL
        SELECT 'orders', count(*), (SELECT count(*) FROM pragma_table_info('orders')) FROM orders UNION ALL
        SELECT 'lineitem', count(*), (SELECT count(*) FROM pragma_table_info('lineitem')) FROM lineitem UNION ALL
        SELECT 'events', count(*), (SELECT count(*) FROM pragma_table_info('events')) FROM events UNION ALL
        SELECT 'documents', count(*), (SELECT count(*) FROM pragma_table_info('documents')) FROM documents UNION ALL
        SELECT 'embeddings', count(*), (SELECT count(*) FROM pragma_table_info('embeddings')) FROM embeddings),
    s AS (SELECT CAST(count(*) AS DOUBLE) AS table_count,
                 CAST(sum(row_count) AS DOUBLE) AS total_rows,
                 CAST(max(row_count) AS DOUBLE) AS max_rows,
                 round(avg(row_count), 4) AS mean_rows,
                 round(quantile_cont(CAST(row_count AS DOUBLE), 0.5), 4) AS median_rows,
                 CAST(max(col_count) AS DOUBLE) AS max_cols,
                 CAST(min(col_count) AS DOUBLE) AS min_cols
          FROM shapes)
    SELECT 'schema' AS entity, m.metric, m.value
    FROM s, LATERAL (VALUES ('table_count', s.table_count), ('total_rows', s.total_rows),
                            ('max_rows', s.max_rows), ('mean_rows', s.mean_rows),
                            ('median_rows', s.median_rows), ('max_cols', s.max_cols),
                            ('min_cols', s.min_cols)) AS m(metric, value)
    """,
)
def database_monitor_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Database-monitor composition → metric stream (OP-12 + OP-23..27/37);
    ref redshift_database_monitor.py:59-116."""
    from sparkobs.monitors import database_monitor

    return database_monitor(spark, sf_dir)


@query(
    "flatten_struct_events",
    oracle="""
    SELECT event_id,
           event_type AS ev__etype,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS ev__k
    FROM events
    """,
)
def flatten_struct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct flatten to path-joined columns (OP-51);
    ref databand_airflow_monitor.py:66-87 (config dict → env names)."""
    from pyspark.sql import functions as F

    from sparkobs.functions import flatten_struct

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.struct(
            F.col("event_type").alias("etype"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        ).alias("ev"),
    )
    return flatten_struct(ev)


# ---------------------------------------------------------------------------
# Join/set-op extensions: as-of join, zip join, set ops, rollup, salting
# ---------------------------------------------------------------------------


@query(
    "asof_join_events_orders",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             max_by(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate)
    SELECT e.event_id, e.user_id, e.ts,
           r.o_orderkey AS o_orderkey_asof,
           r.o_totalprice AS o_totalprice_asof
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension): latest order at-or-before each event per
    user — union + window last_value(ignorenulls): ONE shuffle on the
    key, no range self-join; semantics = DuckDB ASOF JOIN (the oracle).
    Right side deduped to one row per (key, ts) for determinism."""
    from pyspark.sql import functions as F

    from sparkobs.operators.joins import asof_join

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"))
    )
    right = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ts"))
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    return asof_join(ev, right, key="user_id", ts="ts").select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderkey_asof"),
        F.col("o_totalprice_asof"),
    )


@query(
    "set_except_users",
    oracle="""
    SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-30 20:00:00'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-30 20:00:00'
    """,
)
def set_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (§2.7, the drift primitive OP-40 generalized):
    users active only in the first half of the stream."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-30 20:00:00").cast("timestamp")
    first = ev.where(F.col("ts") < cut).select("user_id")
    second = ev.where(F.col("ts") >= cut).select("user_id")
    return first.subtract(second)


@query(
    "rollup_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregation (§2.4 note: free from Spark) —
    subtotals per flag and grand total in one Expand-based pass."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "zip_join_nation_supplier",
    oracle="""
    WITH l AS (SELECT n_nationkey, n_name,
                      row_number() OVER (ORDER BY n_nationkey) AS idx FROM nation),
         r AS (SELECT s_suppkey, s_name,
                      row_number() OVER (ORDER BY s_suppkey) AS idx
               FROM (SELECT * FROM supplier ORDER BY s_suppkey LIMIT 25))
    SELECT l.n_nationkey, l.n_name, r.s_suppkey, r.s_name
    FROM l JOIN r ON l.idx = r.idx
    """,
)
def zip_join_nation_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional zip join (OP-20); ref s3_key_monitor.py:159,190 list
    zipping — materialized row index + equi-join."""
    from pyspark.sql import functions as F

    from sparkobs.operators.joins import zip_join

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .orderBy("s_suppkey")
        .limit(25)
        .select("s_suppkey", "s_name")
    )
    return zip_join(nation, supp, ["n_nationkey"], ["s_suppkey"])


@query(
    "salted_group_count_suppkey",
    oracle="""
    SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY l_suppkey
    """,
)
def salted_group_count_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage salted aggregation (scale utility):
    result identical to a plain groupBy count — the oracle proves it."""
    from sparkobs.operators.joins import salted_group_count

    return salted_group_count(load_table(spark, sf_dir, "lineitem"), "l_suppkey")


@query(
    "collect_metric_lists_supplier",
    oracle=_SUPPLIER_METRICS_CTE
    + """
    SELECT metric,
           array_to_string(list_sort(list(CAST(round(value * 10000) AS BIGINT))), ',')
             AS values_csv
    FROM long GROUP BY metric
    """,
)
def collect_metric_lists_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal map<metric, sorted list<value>> fan-in (OP-21);
    ref s3_bucket_monitor.py:115-124. Values are scaled to 1e-4-unit
    BIGINTs on both sides (exact cross-engine representation — double
    formatting differs between engines, integers don't) and the sorted
    list is serialized to a comma-joined string so the driver
    canonicalizer can hash it."""
    from pyspark.sql import functions as F

    from sparkobs.operators.metrics import collect_metric_lists

    return collect_metric_lists(
        _supplier_metrics_long(spark, sf_dir).withColumn(
            "value", F.expr("CAST(round(value * 10000) AS BIGINT)")
        )
    ).select(
        "metric",
        F.concat_ws(
            ",", F.expr("transform(values, v -> CAST(v AS STRING))")
        ).alias("values_csv"),
    )


@query(
    "ngram_jaccard_pairs_hi",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    sh AS (SELECT doc_id,
                  CASE WHEN len(t) >= 3
                       THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                         i -> array_to_string(t[i:i+2], ' ')))
                       ELSE [array_to_string(t, ' ')] END AS s
           FROM toks),
    ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS sh FROM sh),
    inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, a.sz AS sza, b.sz AS szb, count(*) AS i
              FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
    SELECT ia AS id_a, ib AS id_b,
           round(i / (sza + szb - i), 4) AS jaccard
    FROM inter
    WHERE round(i / (sza + szb - i), 4) >= 0.8
    """,
)
def ngram_jaccard_pairs_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold exact Jaccard pairs via PPJoin-style prefix
    filtering (extension: dedup tier 2b) — prefix shingles under a
    global rarity order are the only join keys, plus a set-size bound;
    full verification on candidates only."""
    from sparkobs.operators.dedup import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


@query(
    "set_intersect_users",
    oracle="""
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    """,
)
def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (§2.7): users with both purchases and errors."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "purchase").select("user_id")
    b = ev.where(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@query(
    "bucket_monitor_metrics",
    oracle="""
    WITH l AS (
      SELECT regexp_replace('file:' || filename, '/[^/]*$', '') AS prefix,
             size
      FROM read_blob('{SF_DIR}/*.parquet')),
    agg AS (
      SELECT prefix, count(*) AS n, sum(size) AS tb,
             round(avg(size) / 1048576.0, 4) AS mmb
      FROM l GROUP BY prefix)
    SELECT prefix AS entity, 'n_objects' AS metric, CAST(n AS DOUBLE) AS value
    FROM agg
    UNION ALL SELECT prefix, 'total_bytes', CAST(tb AS DOUBLE) FROM agg
    UNION ALL SELECT prefix, 'mean_size_mb', mmb FROM agg
    UNION ALL SELECT '<store>', 'n_objects',
                     (SELECT CAST(count(*) AS DOUBLE) FROM l)
    UNION ALL SELECT '<store>', 'total_mb',
                     (SELECT round(sum(size) / 1048576.0, 4) FROM l)
    """,
)
def bucket_monitor_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-monitor composition over a distributed listing (OP-07/08 +
    OP-12 fan-in); ref s3_bucket_monitor.py:42-135. Hash-checked:
    DuckDB replays the per-prefix and whole-store rollup over the same
    files via read_blob."""
    from sparkobs.monitors import bucket_monitor

    return bucket_monitor(spark, sf_dir, glob="*.parquet")


@query(
    "cosine_topk_ivf",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS vn
      FROM v),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vn AS cv
      FROM n ORDER BY vec_id LIMIT 16),
    dots AS (
      SELECT n.vec_id, n.vn, c.cid,
             list_sum(list_transform(range(1, len(n.vn) + 1), i -> n.vn[i] * c.cv[i])) AS d
      FROM n, cents c),
    assign AS (
      SELECT vec_id, vn, cid AS cluster
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
            FROM dots)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id, vn, cid AS probe
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
            FROM dots)
      WHERE rn <= 4),
    cand AS (
      SELECT p.vec_id, p.vn AS qv, a.vec_id AS neighbor_id, a.vn AS cv
      FROM probes p JOIN assign a ON a.cluster = p.probe AND a.vec_id <> p.vec_id),
    scored AS (
      SELECT vec_id, neighbor_id,
             round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), 6) AS cosine
      FROM cand)
    SELECT vec_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def cosine_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate cosine top-k (extension: similarity
    tier 3), fully distributed: deterministic coarse quantizer (lowest-
    id seed centroids) + n_probe inverted lists, exact re-rank inside
    probed lists. Deterministic → full value-hash oracle (the same
    quantize/probe/re-rank pipeline in DuckDB list ops); recall vs
    brute force also unit-tested."""
    from sparkobs.operators.similarity import cosine_topk_ivf

    return cosine_topk_ivf(load_table(spark, sf_dir, "embeddings"), k=5)


@query(
    "embedding_near_dup_pairs",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS norm FROM v)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]))
                 / (a.norm * b.norm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]))
                / (a.norm * b.norm), 6) >= 0.35
    """,
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (extension: dedup by
    semantic similarity) — broadcast-matrix kernel emits only
    above-threshold pairs, the n² matrix never materializes."""
    from sparkobs.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


@query(
    "streaming_session_events",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    y AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
    SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
    FROM y GROUP BY user_id, sid
    """,
)
def streaming_session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows executed AS A STREAM (OP-53/55/56): same
    micro-batch drain as streaming_tumbling_events; the Catalyst
    session_window merge must equal the batch islands oracle."""
    from sparkobs.streaming.monitors import run_to_memory, stream_events, streaming_session

    stage_dir = _stage_events(spark, sf_dir)
    out = streaming_session(stream_events(spark, stage_dir), "30 minutes")
    tbl = run_to_memory(out, "session_stream", output_mode="complete",
                        shuffle_partitions=4)
    return spark.table(tbl).select("user_id", "session_start", "n_events")


@query(
    "pivot_returnflag_linestatus",
    oracle="""
    SELECT l_returnflag,
           round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS qty_O,
           round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation; §2.4 note): per-flag quantity by status
    as columns — Catalyst rewrites to conditional aggregation, exactly
    the oracle's CASE form."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.coalesce(F.sum("l_quantity"), F.lit(0.0)), 2))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
    )


@query(
    "topk_orders_per_status",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rank
    FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def topk_orders_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General per-group top-k (§2.6, k>1 form of OP-34): rank window
    with deterministic tiebreak; one shuffle on the group key."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.desc("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )


def _approx_certify_oracle_one(col: str) -> str:
    d = f"CAST({col} AS DOUBLE)"
    return f"""
    SELECT '{col}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
           min({d}) AS min_val,
           max({d}) AS max_val,
           round(avg({d}), 4) AS mean_val,
           round(stddev_samp({d}), 4) AS std_val,
           true AS hll_ok, true AS p25_ok, true AS median_ok, true AS p75_ok
    FROM lineitem"""


@query(
    "profile_lineitem_approx",
    oracle=" UNION ALL ".join(
        _approx_certify_oracle_one(c) for c in LINEITEM_NUMERIC
    ),
)
def profile_lineitem_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profile mode (OP-36 scale form), CERTIFIED: HLL
    distinct and percentile_approx sketches are bound-checked in-engine
    against their exact twins (see certify_approx_profile), so this row
    is value-hash-checked — the exact-in-both-modes stats compare
    directly and the within-documented-error flags must all come back
    true to match the oracle's literal TRUEs. The raw sketch profile is
    ``table_profile(df, name, exact=False)`` (single pass)."""
    from sparkobs.operators.profile import certify_approx_profile

    return certify_approx_profile(load_table(spark, sf_dir, "lineitem"))


@query(
    "top_shingles",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    sh AS (SELECT doc_id,
                  CASE WHEN len(t) >= 3
                       THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                         i -> array_to_string(t[i:i+2], ' ')))
                       ELSE [array_to_string(t, ' ')] END AS s
           FROM toks),
    ex AS (SELECT unnest(s) AS shingle FROM sh)
    SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq
    FROM ex GROUP BY shingle
    ORDER BY doc_freq DESC, shingle ASC LIMIT 20
    """,
)
def top_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-k shingles by document frequency (extension:
    text analysis; the hot-key diagnostic for the dedup self-join) —
    TakeOrderedAndProject, deterministic tiebreak."""
    from pyspark.sql import functions as F

    from sparkobs.operators.dedup import shingle_expr, tokenize

    docs = load_table(spark, sf_dir, "documents")
    return (
        tokenize(docs, "doc_id", "text")
        .select(F.explode(shingle_expr("__toks", 3)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(20)
    )


@query(
    "asof_join_forward",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS o_orderkey,
             max_by(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate)
    SELECT e.event_id, e.user_id, e.ts,
           r.o_orderkey AS o_orderkey_asof
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts <= r.o_orderdate
    """,
)
def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (earliest right row at-or-after each event):
    the direction DuckDB writes as ``ASOF ... ON l.ts <= r.ts``."""
    from pyspark.sql import functions as F

    from sparkobs.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    right = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("ts"))
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    return asof_join(
        ev, right, key="user_id", ts="ts", right_value_cols=["o_orderkey"], direction="forward"
    ).select("event_id", "user_id", "ts", "o_orderkey_asof")


@query(
    "pipeline_filtered_corpus",
    oracle="""
    WITH t AS (SELECT doc_id, text, lang, string_split_regex(text, '\\s+') AS toks FROM documents),
    q AS (SELECT doc_id, text, lang,
                 len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_unique,
                 len(list_filter(toks, x -> x in ('the', 'a'))) AS n_stop
          FROM t),
    scored AS (SELECT doc_id, text, lang,
                      round(least(1.0, n_tokens / 50.0) * 0.4
                            + (n_unique / n_tokens) * 0.4
                            + (1.0 - n_stop / n_tokens) * 0.2, 4) AS quality
               FROM q),
    kept AS (SELECT * FROM scored WHERE quality >= 0.7),
    deduped AS (SELECT min(doc_id) AS doc_id, text FROM kept GROUP BY text)
    SELECT k.lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(k.quality), 4) AS avg_quality
    FROM deduped d JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY k.lang
    """,
)
def pipeline_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline composition: quality-score →
    threshold filter → exact dedup (keep lowest id) → per-language corpus
    stats. One lazy plan across four operator-library stages — the shape
    a reference user's production pipeline takes."""
    from pyspark.sql import functions as F

    from sparkobs.operators.dedup import exact_dedup
    from sparkobs.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.join(
        quality_score(docs).select("doc_id", "quality"), "doc_id"
    )
    kept = scored.where(F.col("quality") >= 0.7)
    deduped_ids = exact_dedup(kept, ["text"]).select("doc_id")
    return (
        kept.join(deduped_ids, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


@query(
    "mode_columns_lineitem",
    oracle="""
    SELECT 'l_returnflag' AS col_name, mode_val, CAST(cnt AS BIGINT) AS mode_count FROM (
      SELECT l_returnflag AS mode_val, count(*) AS cnt FROM lineitem
      GROUP BY 1 ORDER BY cnt DESC, mode_val DESC LIMIT 1)
    UNION ALL
    SELECT 'l_linestatus', mode_val, cnt FROM (
      SELECT l_linestatus AS mode_val, count(*) AS cnt FROM lineitem
      GROUP BY 1 ORDER BY cnt DESC, mode_val DESC LIMIT 1)
    """,
)
def mode_columns_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column mode (most frequent value, deterministic tiebreak) —
    profiling addition over the categorical histogram: max_by over
    (count, value) per column, unioned long-format."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for c in ["l_returnflag", "l_linestatus"]:
        counts = li.groupBy(F.col(c).alias("mode_val")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        parts.append(
            counts.agg(
                F.lit(c).alias("col_name"),
                F.max_by(
                    F.col("mode_val"), F.struct(F.col("cnt"), F.col("mode_val"))
                ).alias("mode_val"),
                F.max(F.struct(F.col("cnt"), F.col("mode_val")))["cnt"].alias(
                    "mode_count"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube aggregation (all grouping-set combinations; §2.4 note) —
    one Expand-based pass, subtotals across both dimensions."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "streaming_sliding_events",
    oracle="""
    WITH s AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events)
    SELECT ws AS window_start, CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY 1
    """,
)
def streaming_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows executed AS A STREAM (OP-53/55): 1h windows every
    30min through the micro-batch drain — third stream≡batch proof."""
    from pyspark.sql import functions as F

    from sparkobs.streaming.monitors import _event_time, _to_ntz, run_to_memory, stream_events

    stage_dir = _stage_events(spark, sf_dir)
    ev = _event_time(stream_events(spark, stage_dir)).withWatermark("ts", "2 hours")
    out = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(_to_ntz("w.start").alias("window_start"), "n_events")
    )
    tbl = run_to_memory(out, "sliding_stream", output_mode="complete",
                        shuffle_partitions=4)
    return spark.table(tbl)


@query(
    "grouped_percentiles_orders",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders GROUP BY o_orderstatus
    """,
)
def grouped_percentiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact percentiles (OP-27 grouped form): one hash agg
    with per-group percentile state; percentile_approx is the scale
    switch (mergeable KLL-style sketches)."""
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
            F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
        )
    )


@query(
    "corr_lineitem",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(corr(l_discount, l_tax), 4) AS corr_disc_tax
    FROM lineitem
    """,
)
def corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column correlation/covariance (profile extension of OP-36):
    single-pass co-moment aggregates, map-side mergeable."""
    from pyspark.sql import functions as F

    return load_table(spark, sf_dir, "lineitem").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 4).alias("corr_disc_tax"),
    )


# ---------------------------------------------------------------------------
# Phase 7 (r2) — external JDBC source tier (OP-01/OP-11 over a real DB)
# ---------------------------------------------------------------------------


def _stage_derby_nation(spark: SparkSession, sf_dir: str) -> str:
    """Stage the nation table into an embedded Derby database so the
    JDBC queries exercise a REAL external-DB pull (the driver that
    ships in Spark's own jars — no external service). Cache key =
    resolved sf_dir + source mtime, same staleness rule as
    _stage_events; returns the JDBC URL."""
    import hashlib
    import os
    import shutil
    import tempfile

    from sparkobs.sources.jdbc import (
        DERBY_EMBEDDED_DRIVER,
        derby_url,
        write_jdbc,
    )

    from sparkobs.io import ensure_stage

    src = os.path.join(os.path.realpath(sf_dir), "nation.parquet")
    mtime = int(os.stat(src).st_mtime_ns) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{src}:{mtime}".encode()).hexdigest()[:16]
    db_dir = os.path.join(tempfile.gettempdir(), f"sparkobs_derby_{key}")

    def _build(tmp: str) -> None:
        shutil.rmtree(tmp, ignore_errors=True)  # Derby insists on create
        nation = load_table(spark, sf_dir, "nation")
        strcols = [c for c, t in nation.dtypes if t == "string"]
        # Derby's dialect maps StringType to CLOB (not comparable in
        # WHERE); force VARCHAR so string columns stay filterable
        write_jdbc(
            nation,
            derby_url(tmp, create=True),
            "nation",
            driver=DERBY_EMBEDDED_DRIVER,
            column_types=", ".join(f"{c} VARCHAR(1024)" for c in strcols) or None,
        )
        # de-boot the tmp database BEFORE the publish rename: embedded
        # Derby keeps a created db booted in this JVM (open handles on
        # the tmp path) — renaming a booted db risks a double boot on
        # the same files when the published path is first connected.
        # Derby signals successful shutdown via SQLException 08006.
        try:
            jvm_class(spark, "java.sql.DriverManager").getConnection(
                f"jdbc:derby:{tmp};shutdown=true"
            )
        except Exception:  # noqa: BLE001 — 08006 IS the success signal
            pass

    # marker lives INSIDE the db dir: Derby ignores foreign files, and
    # the old sibling ".staged" file could outlive a swept dir (stale
    # marker, no database)
    ensure_stage(db_dir, _build, marker="_STAGED")
    return derby_url(db_dir)


@query(
    "jdbc_roundtrip_nation",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           min(n_name) AS first_name,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey
    """,
)
def jdbc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-source tier (OP-01 over JDBC): nation staged into an
    embedded Derby DB, pulled back with a stride-PARTITIONED jdbc scan
    (4 concurrent remote cursors), aggregated per region — values must
    equal the parquet oracle, proving the roundtrip is lossless.
    Ref redshift_table_monitor.py:22-24 (SELECT * over psycopg2)."""
    from pyspark.sql import functions as F

    from sparkobs.sources.jdbc import DERBY_EMBEDDED_DRIVER, read_jdbc

    url = _stage_derby_nation(spark, sf_dir)
    back = read_jdbc(
        spark,
        url,
        table="nation",
        driver=DERBY_EMBEDDED_DRIVER,
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.sum("n_nationkey").alias("key_sum"),
    )


@query(
    "jdbc_monitor_nation",
    oracle=_table_monitor_oracle(
        ["n_nationkey", "n_regionkey"],
        "nation",
        "SELECT n_nationkey, n_regionkey FROM nation",
    ),
)
def jdbc_monitor_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table monitor over a REAL external JDBC source (OP-11/12/13 over
    a warehouse): the reference's core composition
    (redshift_table_monitor.py:39-80) with the remote DB as the scan —
    the pushed-down projection ships only the profiled columns."""
    from sparkobs.sources.jdbc import DERBY_EMBEDDED_DRIVER, jdbc_table_monitor

    url = _stage_derby_nation(spark, sf_dir)
    return jdbc_table_monitor(
        spark,
        url,
        "nation",
        query='SELECT "n_nationkey", "n_regionkey" FROM nation',
        driver=DERBY_EMBEDDED_DRIVER,
    )


@query(
    "profile_preview_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS total_price
    FROM orders ORDER BY o_orderkey LIMIT 10
    """,
)
def profile_preview_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic head-n preview — the with_preview half of the
    profile sink (OP-13; ref databand_tracking_template.py:23-28) as a
    TakeOrderedAndProject, no global sort."""
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import preview

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
    )
    return preview(orders, n=10, order_cols=["o_orderkey"])


@query(
    "decode_real_media",
    oracle="""
    WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                      octet_length(encode(text)) AS n
               FROM documents),
    m AS (SELECT doc_id,
                 list_sum(list_transform(generate_series(1, 64),
                   i -> CASE WHEN i <= n THEN
                          (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
                          + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1)
                        ELSE 0 END)) / 64.0 AS mean_value
          FROM b)
    SELECT doc_id AS id, 'pgm' AS format, 'image' AS kind,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(1 AS INT) AS n_channels, CAST(NULL AS BIGINT) AS n_samples,
           CAST(NULL AS INT) AS sample_rate, mean_value,
           CAST(NULL AS VARCHAR) AS error
    FROM m
    """,
)
def decode_real_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode through the driver contract (extension:
    multimodal): each document's first 64 bytes become an 8x8 PGM image
    payload (built JVM-side with binary concat/substring — no UDF),
    then decode_real parses the netpbm container and computes true
    pixel stats in the Arrow-batched kernel. The oracle predicts the
    decoded mean from hex(encode(text)) byte arithmetic — the container
    parse + pixel stats are value-hash-checked (decode_synth_media
    additionally certifies PNG/zlib/unfiltering)."""
    from pyspark.sql import functions as F

    from sparkobs.operators.multimodal import decode_real

    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit(b"P5\n8 8\n255\n"),
        F.substring(F.concat(F.encode("text", "UTF-8"), F.lit(bytes(64))), 1, 64),
    )
    media = docs.select(F.col("doc_id").alias("id"), payload.alias("content"))
    return decode_real(media)


def _closure_ctes() -> str:
    """Shared oracle fragment: transitive closure of an undirected pair
    list ``pairs(id_a, id_b)`` as CTEs ``sym``/``reach``/``nodes``/
    ``allr(u, v)`` — follow with ``SELECT u, min(v) ... GROUP BY u``
    for min-label components. The oracle must open WITH RECURSIVE."""
    return """sym AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (SELECT u, v FROM sym
                    UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
    nodes AS (SELECT DISTINCT u FROM sym),
    allr AS (SELECT u, v FROM reach UNION SELECT u, u FROM nodes)"""


# TOMBSTONE (r12): near_dup_groups_documents RETIRED — swap-ledger
# entry #1 (SURVEY §2.11), the slot staged to filter_funnel. It was the EXACT-tier comparison leg of the
# near-dup family (exact 3-gram Jaccard pairs ≥ 0.2 → min-label
# components), a 3.0 s headline-profile top row whose certified claim
# keeps TWO carriers without a dedicated gate slot:
# `canonical_dedup_documents` (directly below) composes the IDENTICAL
# `near_dup_groups(n=3, threshold=0.2)` exact-tier call inside its
# own oracle-certified pipeline — so the exact tier still has a
# driver witness every time that entry gates — and the groups ≡
# pairs-closure contract stays unit-tested
# (tests/test_dedup_similarity.py::test_near_dup_groups_match_pairs).
# The LSH scale tier remains separately certified
# (`near_dup_groups_lsh`). Same retirement discipline as
# sparse_cosine_powerlaw_exact (r11).


@query(
    "canonical_dedup_documents",
    oracle="""
    WITH RECURSIVE toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    sh AS (SELECT doc_id,
                  CASE WHEN len(t) >= 3
                       THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                         i -> array_to_string(t[i:i+2], ' ')))
                       ELSE [array_to_string(t, ' ')] END AS s
           FROM toks),
    ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY 1),
    inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
              FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (
      SELECT ia AS id_a, ib AS id_b
      FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
      WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.2),
    """ + _closure_ctes() + """,
    comp AS (SELECT u AS doc_id, min(v) AS component FROM allr GROUP BY u),
    ranked AS (SELECT c.doc_id, c.component,
                      row_number() OVER (PARTITION BY c.component
                                         ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
               FROM comp c JOIN documents d USING (doc_id)),
    grouped AS (SELECT doc_id, component, rn = 1 AS is_canonical FROM ranked),
    singles AS (SELECT doc_id, doc_id AS component, TRUE AS is_canonical
                FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM comp))
    SELECT * FROM grouped UNION ALL SELECT * FROM singles
    """,
)
def canonical_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection (extension: dedup curation): the
    near-dup groups of `near_dup_groups_documents` resolved to one
    kept document per group — highest n_chars wins, ties to lowest
    doc_id; ungrouped docs keep themselves. The full (doc_id,
    component, is_canonical) frame is the curation audit trail;
    filtering is_canonical yields the deduped corpus."""
    from sparkobs.operators.dedup import keep_best_canonical, near_dup_groups

    docs = load_table(spark, sf_dir, "documents")
    groups = near_dup_groups(docs, n=3, threshold=0.2)
    return keep_best_canonical(docs, groups, "n_chars")


@query(
    "vocab_topk_documents",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         unnest(list_filter(string_split_regex(text, '\s+'),
                                            x -> x <> '')) AS token
                  FROM documents)
    SELECT token,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM toks GROUP BY token
    ORDER BY n_occurrences DESC, token LIMIT 20
    """,
)
def vocab_topk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head (extension: corpus census): top-20 tokens
    by occurrence count with document frequency; deterministic
    tie-break on the token string. Plan: map-side-combined hash agg +
    TakeOrderedAndProject."""
    from sparkobs.operators.text import vocab_topk

    return vocab_topk(load_table(spark, sf_dir, "documents"), k=20)


@query(
    "pack_sequences_documents",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         CAST(len(list_filter(string_split_regex(text, '\s+'),
                                              x -> x <> '')) AS BIGINT) AS n_tokens
                  FROM documents),
    cum AS (SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS c
            FROM toks)
    SELECT doc_id, n_tokens,
           CAST(c - n_tokens AS BIGINT) AS token_start,
           CAST((c - n_tokens) // 512 AS BIGINT) AS pack_first,
           CAST(CASE WHEN n_tokens > 0 THEN (c - 1) // 512
                     ELSE (c - n_tokens) // 512 END AS BIGINT) AS pack_last,
           CAST(CASE WHEN n_tokens > 0 THEN (c - 1) // 512
                     ELSE (c - n_tokens) // 512 END
                - (c - n_tokens) // 512 + 1 AS BIGINT) AS n_packs
    FROM cum
    """,
)
def pack_sequences_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (extension: LLM-pretraining
    batching): documents laid end-to-end by doc_id, token stream cut
    every 512 tokens; per doc its stream offset and spanned packs.
    Oracle = the same running-sum arithmetic as one DuckDB window."""
    from sparkobs.operators.text import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), budget=512
    )


@query(
    "range_join_value_bands",
    oracle="""
    WITH bands AS (SELECT s_suppkey,
                          CAST((s_suppkey % 30) * 10.0 AS DOUBLE) AS lo,
                          CAST((s_suppkey % 30) * 10.0
                               + (s_suppkey % 3 + 1) * 5.0 AS DOUBLE) AS hi
                   FROM supplier)
    SELECT b.s_suppkey, round(b.lo, 1) AS lo, round(b.hi, 1) AS hi,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM bands b JOIN events e ON e.value >= b.lo AND e.value <= b.hi
    GROUP BY 1, 2, 3
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (extension: point-in-interval without the
    BroadcastNestedLoopJoin a raw theta join gets): supplier-derived
    value bands joined to event values via interval bucketization —
    equi-join on bucket id + residual predicate, each true pair
    produced exactly once (plan-pinned: no nested-loop join). Oracle =
    the plain theta join in DuckDB."""
    from pyspark.sql import functions as F

    from sparkobs.operators.joins import range_join

    k = F.col("s_suppkey")
    bands = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((k % 30) * 10.0).alias("lo"),
        ((k % 30) * 10.0 + (k % 3 + 1) * 5.0).alias("hi"),
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return (
        range_join(ev, bands, "value", "lo", "hi", bucket_width=10.0)
        .groupBy(
            "s_suppkey",
            F.round("lo", 1).alias("lo"),
            F.round("hi", 1).alias("hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "cdc_compact_events",
    oracle="""
    SELECT user_id, ts, event_type, round(value, 4) AS value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def cdc_compact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction (extension: upsert materialization): the events
    log collapsed to each user's latest row — newest ts wins, event_id
    breaks equal-ts ties deterministically. WindowGroupLimit prunes
    map-side (plan-pinned)."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import latest_by_key

    ev = load_table(spark, sf_dir, "events")
    return latest_by_key(ev, ["user_id"], "ts", ["event_id"]).select(
        "user_id", "ts", "event_type", F.round("value", 4).alias("value")
    )


@query(
    "fk_orphans_lineitem",
    oracle="""
    WITH par AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 != 0),
    orph AS (SELECT l.l_orderkey FROM lineitem l
             LEFT JOIN par p ON p.o_orderkey = l.l_orderkey
             WHERE p.o_orderkey IS NULL)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
           CAST(count(*) AS BIGINT) AS n_orphans,
           round(count(*) / (SELECT count(*) FROM lineitem), 6) AS orphan_rate,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orphan_keys
    FROM orph
    """,
)
def fk_orphans_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity monitor (extension: data quality): count
    lineitem rows whose order key has no parent — orphans planted by
    withholding every 10th order from the parent side (the corpus
    itself is FK-clean, so the check must fire on a known set).
    LEFT ANTI join, keys-only projection."""
    from pyspark.sql import functions as F

    from sparkobs.operators.shape import referential_orphans

    return referential_orphans(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders").where(
            F.col("o_orderkey") % 10 != 0
        ),
        "l_orderkey",
        "o_orderkey",
    )


_BLOOM_SJ_M_WORDS = 8192
_BLOOM_SJ_HASHES = 4


def _bloom_semi_join_oracle() -> str:
    m_bits = _BLOOM_SJ_M_WORDS * 32
    js = ", ".join(str(j) for j in range(_BLOOM_SJ_HASHES))
    mask = "(CAST(1 AS BIGINT) << CAST(p & 31 AS INT))"
    return f"""
    WITH dk AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS k
                FROM orders WHERE o_orderpriority = '1-URGENT'),
    sp AS (SELECT {_hex15_sql('d')} % 100000000000000000 AS a,
                  {_hex15_sql('d', start=16)} % 100000000000000000 AS b
           FROM (SELECT md5(k) AS d FROM dk)),
    pos AS (SELECT (a + j * b) % {m_bits} AS p
            FROM sp CROSS JOIN (SELECT unnest([{js}]) AS j)),
    bm AS (SELECT p >> 5 AS widx, bit_or({mask}) AS word_bits
           FROM pos GROUP BY 1),
    fk AS (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1),
    fp_ AS (SELECT l_orderkey, cnt,
                   {_hex15_sql('d')} % 100000000000000000 AS a,
                   {_hex15_sql('d', start=16)} % 100000000000000000 AS b
            FROM (SELECT l_orderkey, cnt,
                         md5(CAST(l_orderkey AS VARCHAR)) AS d FROM fk)),
    ppos AS (SELECT l_orderkey, cnt, (a + j * b) % {m_bits} AS p
             FROM fp_ CROSS JOIN (SELECT unnest([{js}]) AS j)),
    probed AS (SELECT l_orderkey, any_value(cnt) AS cnt,
                      sum(CASE WHEN (coalesce(word_bits, 0) & {mask}) = {mask}
                               THEN 1 ELSE 0 END) = {_BLOOM_SJ_HASHES} AS pass
               FROM ppos LEFT JOIN bm ON (p >> 5) = bm.widx
               GROUP BY 1),
    matched AS (SELECT l_orderkey FROM probed
                WHERE CAST(l_orderkey AS VARCHAR) IN (SELECT k FROM dk))
    SELECT CAST(sum(cnt) AS BIGINT) AS n_fact,
           CAST(sum(CASE WHEN pass THEN cnt ELSE 0 END) AS BIGINT) AS n_bloom_pass,
           CAST(sum(CASE WHEN l_orderkey IN (SELECT l_orderkey FROM matched)
                         THEN cnt ELSE 0 END) AS BIGINT) AS n_match,
           round((sum(CASE WHEN pass THEN cnt ELSE 0 END)
                  - sum(CASE WHEN l_orderkey IN (SELECT l_orderkey FROM matched)
                             THEN cnt ELSE 0 END))
                 / (sum(cnt)
                    - sum(CASE WHEN l_orderkey IN (SELECT l_orderkey FROM matched)
                               THEN cnt ELSE 0 END)), 6) AS fp_rate_nonmatch
    FROM probed
    """


@query("bloom_semi_join_lineitem_orders", oracle=_bloom_semi_join_oracle())
def bloom_semi_join_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join audit (extension: 100 TB join pruning):
    the urgent-orders key set becomes a portable bitmap, inlined as a
    literal-array expression into the lineitem scan
    (:func:`sparkobs.operators.dedup.bloom_member_expr` — zero
    shuffle, zero join on the fact side), with the exact semi join
    removing false positives afterwards. Output certifies the bitmap
    decision bit for bit: fact rows, bloom survivors, true matches,
    and the FP rate over non-matching rows."""
    from pyspark.sql import functions as F

    from sparkobs.operators.dedup import bloom_build, bloom_member_expr

    li = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = dim.select(F.col("o_orderkey").cast("string").alias("__k")).distinct()
    bloom = bloom_build(
        keys, "__k", m_words=_BLOOM_SJ_M_WORDS, n_hashes=_BLOOM_SJ_HASHES
    )
    passing = bloom_member_expr(
        bloom, "l_orderkey", m_words=_BLOOM_SJ_M_WORDS, n_hashes=_BLOOM_SJ_HASHES
    )
    base = li.agg(
        F.count("*").alias("n_fact"),
        F.sum(passing.cast("long")).alias("n_bloom_pass"),
    )
    n_match = (
        li.join(
            keys, li["l_orderkey"].cast("string") == keys["__k"], "left_semi"
        )
        .agg(F.count("*").alias("n_match"))
    )
    return base.crossJoin(n_match).select(
        "n_fact",
        "n_bloom_pass",
        "n_match",
        F.round(
            (F.col("n_bloom_pass") - F.col("n_match"))
            / (F.col("n_fact") - F.col("n_match")),
            6,
        ).alias("fp_rate_nonmatch"),
    )


@query(
    "key_skew_stats_lineitem",
    oracle="""
    WITH freq AS (SELECT l_suppkey AS k, count(*) AS freq
                  FROM lineitem GROUP BY 1),
    hot AS (SELECT string_agg(CAST(k AS VARCHAR) || ':' || CAST(freq AS VARCHAR),
                              ',' ORDER BY freq DESC, CAST(k AS VARCHAR) ASC) AS top_keys
            FROM (SELECT k, freq FROM freq
                  ORDER BY freq DESC, CAST(k AS VARCHAR) ASC LIMIT 5))
    SELECT CAST(sum(freq) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(freq) AS BIGINT) AS max_freq,
           round(avg(freq), 4) AS mean_freq,
           round(max(freq) / avg(freq), 4) AS skew_ratio,
           (SELECT top_keys FROM hot) AS top_keys
    FROM freq
    """,
)
def key_skew_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg key skew diagnostic (extension: shuffle health): the
    frequency distribution of l_suppkey as one row — the measurement
    behind the salting / AQE-skew-join / broadcast decisions in
    SCALE.md. One map-side-combined hash agg + a 5-row top-n."""
    from sparkobs.operators.joins import key_skew_stats

    return key_skew_stats(
        load_table(spark, sf_dir, "lineitem"), "l_suppkey", top_n=5
    )


@query(
    "normalize_text_documents",
    oracle=r"""
    WITH t0 AS (SELECT doc_id,
                       text || chr(9) || ' MiXeD ' || chr(10) || '  Case ' AS t
                FROM documents),
    n AS (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(t),
                      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS text_norm,
                 t
          FROM t0)
    SELECT doc_id, text_norm,
           CAST(len(t) - len(text_norm) AS BIGINT) AS n_chars_removed
    FROM n
    """,
)
def normalize_text_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (extension: canonical form for tokenizers +
    dedup): planted tab/newline/mixed-case suffix per doc (so every row
    exercises each rule), then lowercase + control-strip + whitespace
    collapse + trim; value-hash of the normalized text against the same
    regex pipeline in DuckDB."""
    from pyspark.sql import functions as F

    from sparkobs.operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit("\t MiXeD \n  Case ")
        ),
    )
    return normalize_text(docs)


@query(
    "pack_manifest_documents",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         CAST(len(list_filter(string_split_regex(text, '\s+'),
                                              x -> x <> '')) AS BIGINT) AS n_tokens
                  FROM documents),
    cum AS (SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS c
            FROM toks),
    spans AS (SELECT doc_id,
                     CAST(c - n_tokens AS BIGINT) AS s, CAST(c AS BIGINT) AS e,
                     CAST((c - n_tokens) // 512 AS BIGINT) AS pf,
                     CAST((c - 1) // 512 AS BIGINT) AS pl
              FROM cum WHERE n_tokens > 0),
    seg AS (SELECT doc_id, s, e, unnest(generate_series(pf, pl)) AS pack_id
            FROM spans)
    SELECT pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(e, (pack_id + 1) * 512) - greatest(s, pack_id * 512))
                AS BIGINT) AS n_tokens,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM seg GROUP BY 1
    """,
)
def pack_manifest_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack manifest (extension: the writer side of sequence
    packing): docs per pack, tokens per pack (= budget except the last
    cut), contributing doc ids in order as csv. Oracle = the same
    cumsum + span-intersection arithmetic in DuckDB."""
    from sparkobs.operators.text import pack_manifest

    return pack_manifest(
        load_table(spark, sf_dir, "documents"), budget=512
    )


@query(
    "dup_span_coverage_documents",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
                  FROM documents),
    occ AS (SELECT doc_id, i AS pos0, md5(array_to_string(t[i:i+4], ' ')) AS k
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
                  FROM toks WHERE len(t) >= 5)),
    dup AS (SELECT k FROM occ GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
    cov AS (SELECT doc_id, count(DISTINCT cp) AS dup_tokens
            FROM (SELECT o.doc_id, unnest(generate_series(o.pos0, o.pos0 + 4)) AS cp
                  FROM occ o JOIN dup d ON o.k = d.k)
            GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CASE WHEN len(b.t) > 0
                THEN round(coalesce(c.dup_tokens, 0) / len(b.t), 4)
                ELSE 0.0 END AS dup_span_frac
    FROM toks b LEFT JOIN cov c USING (doc_id)
    """,
)
def dup_span_coverage_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage (extension: exact-
    substring-dedup signal, Lee et al. 2022): fraction of each doc's
    token positions covered by a 5-gram that also occurs in >=1 other
    document. Oracle = identical positional-shingle pipeline in DuckDB
    (md5 shingle keys on both sides; Spark's 0-based posexplode and
    DuckDB's 1-based slice index denote the same token positions)."""
    from sparkobs.operators.dedup import duplicated_ngram_spans

    return duplicated_ngram_spans(
        load_table(spark, sf_dir, "documents"), n=5, min_docs=2
    )


@query(
    "near_dup_groups_lsh",
    oracle="WITH RECURSIVE " + _minhash_pair_ctes() + ",\n    "
    + _closure_ctes() + """
    SELECT u AS doc_id, min(v) AS component FROM allr GROUP BY u
    """,
)
def near_dup_groups_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS via the SCALE tier (extension: dedup clustering):
    MinHash-LSH candidate pairs (portable md5 mode, exact-verified)
    -> connected components -> (doc_id, component). This is the 100 TB
    path — pair cost scales with band collisions, not document pairs;
    oracle = the same md5 signature pipeline + recursive-CTE closure in
    DuckDB."""
    from sparkobs.operators.dedup import near_dup_groups

    return near_dup_groups(
        load_table(spark, sf_dir, "documents"),
        n=3, threshold=0.2, tier="lsh", hash_fn="md5",
    )


@query(
    "chunk_documents",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
                  FROM documents),
    st AS (SELECT doc_id, t,
                  unnest(generate_series(1, greatest(1, len(t) - 16), 48)) AS s
           FROM toks)
    SELECT doc_id,
           CAST((s - 1) // 48 AS INT) AS chunk_idx,
           CAST(s AS INT) AS token_start,
           CAST(least(64, len(t) - s + 1) AS INT) AS n_tokens,
           array_to_string(t[s:s+63], ' ') AS chunk_text
    FROM st
    """,
)
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token chunking with overlap (extension: training-data prep):
    64-token chunks, 16-token overlap, stride 48 — split + stride
    sequence + posexplode + slice, all Catalyst."""
    from sparkobs.operators.text import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@query(
    "source_quota_cap",
    oracle="""
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def source_quota_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (extension: data mixing): keep the 20
    lowest-id docs per source — deterministic domain balancing."""
    from sparkobs.operators.text import source_quota_cap

    return source_quota_cap(
        load_table(spark, sf_dir, "documents").select("source", "doc_id"), quota=20
    )


@query(
    "contamination_check",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
    sh AS (SELECT doc_id,
                  CASE WHEN len(t) >= 5
                       THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
                                                         i -> array_to_string(t[i:i+4], ' ')))
                       ELSE [array_to_string(t, ' ')] END AS s
           FROM toks),
    ex AS (SELECT doc_id, md5(unnest(s)) AS k FROM sh),
    ev AS (SELECT DISTINCT k FROM ex WHERE doc_id % 10 = 0),
    tr AS (SELECT DISTINCT doc_id, k FROM ex WHERE doc_id % 10 <> 0)
    SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM tr JOIN ev ON tr.k = ev.k
    GROUP BY tr.doc_id HAVING count(*) >= 3
    """,
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (extension: train/eval hygiene):
    docs with doc_id % 10 == 0 stand in as the benchmark suite; flag
    training docs sharing >= 3 distinct 5-gram shingles with it
    (md5 keys, broadcast eval side)."""
    from sparkobs.operators.dedup import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    return contamination_check(
        docs.where("doc_id % 10 != 0"),
        docs.where("doc_id % 10 = 0"),
        n=5,
        min_shared=3,
    )


def _lsh_pairs_ctes(threshold: float, dim: int = 64, num_planes: int = 12, band_planes: int = 4) -> str:
    """DuckDB CTE chain mirroring embedding_near_dup_pairs_lsh
    (deterministic hyperplanes inlined; candidates from band buckets,
    exact cosine filter at threshold); ends in a
    ``pairs(id_a, id_b, cosine)`` CTE for reuse by the group/dedup
    oracles."""
    from sparkobs.operators.similarity import _hyperplane

    planes = [_hyperplane(dim, p) for p in range(num_planes)]
    plane_lits = ", ".join(
        "[" + ", ".join(f"{c:.1f}" for c in pl) + "]" for pl in planes
    )
    bands = num_planes // band_planes
    bit_exprs = ", ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {dim}+1), i -> e[i] * planes[{p+1}][i])) >= 0 "
        f"THEN 1 ELSE 0 END) AS s{p}"
        for p in range(num_planes)
    )
    key_exprs = ", ".join(
        "concat(" + ", ".join(f"s{bi*band_planes+r}" for r in range(band_planes)) + f") AS k{bi}"
        for bi in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, e, norm, {bi} AS band, k{bi} AS key FROM sigk"
        for bi in range(bands)
    )
    return f"""
    p AS (SELECT [{plane_lits}] AS planes),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS norm FROM v),
    sig AS (SELECT vec_id, e, norm, {bit_exprs} FROM n, p),
    sigk AS (SELECT vec_id, e, norm, {key_exprs} FROM sig),
    banded AS ({band_union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT c.id_a, c.id_b,
             round(list_sum(list_transform(range(1, {dim}+1), i -> na.e[i] * nb.e[i]))
                   / (na.norm * nb.norm), 6) AS cosine
      FROM cand c
      JOIN n na ON na.vec_id = c.id_a
      JOIN n nb ON nb.vec_id = c.id_b
      WHERE round(list_sum(list_transform(range(1, {dim}+1), i -> na.e[i] * nb.e[i]))
                  / (na.norm * nb.norm), 6) >= {threshold})
    """


def _lsh_pairs_oracle(threshold: float, dim: int = 64, num_planes: int = 12, band_planes: int = 4) -> str:
    """Complete DuckDB mirror of embedding_near_dup_pairs_lsh."""
    return (
        "WITH "
        + _lsh_pairs_ctes(threshold, dim, num_planes, band_planes)
        + " SELECT id_a, id_b, cosine FROM pairs"
    )


@query("embedding_near_dup_pairs_lsh", oracle=_lsh_pairs_oracle(0.35))
def embedding_near_dup_pairs_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed embedding near-dup pairs (extension: the 100 TB tier
    of embedding_near_dup_pairs): LSH band-bucket candidates -> exact
    cosine filter, no broadcast matrix; deterministic -> value-hash
    oracle."""
    from sparkobs.operators.similarity import embedding_near_dup_pairs_lsh

    return embedding_near_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


@query(
    "semantic_dedup_embeddings",
    oracle="WITH RECURSIVE " + _lsh_pairs_ctes(0.35) + ",\n    "
    + _closure_ctes() + """,
    comp AS (SELECT u AS vec_id, min(v) AS component FROM allr GROUP BY u)
    SELECT e.vec_id,
           coalesce(c.component, e.vec_id) AS rep_id,
           coalesce(c.component, e.vec_id) = e.vec_id AS is_kept
    FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (extension: embedding dedup
    end-to-end): LSH-candidate cosine pairs >= 0.35 -> connected
    components -> keep the lowest-id representative per group; every
    vector gets a (rep_id, is_kept) verdict. Oracle = the same
    deterministic hyperplane pipeline + recursive-CTE closure in
    DuckDB."""
    from sparkobs.operators.similarity import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35
    )


@query(
    "semantic_dedup_ivf_embeddings",
    oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    n AS (
      SELECT vec_id,
             list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS vn
      FROM v),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vn AS cv
      FROM n ORDER BY vec_id LIMIT 16),
    dots AS (
      SELECT n.vec_id, n.vn, c.cid,
             list_sum(list_transform(range(1, len(n.vn) + 1), i -> n.vn[i] * c.cv[i])) AS d
      FROM n, cents c),
    member AS (
      SELECT vec_id, cid AS g
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
            FROM dots)
      WHERE rn <= 2),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM member a JOIN member b ON a.g = b.g AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN n na ON na.vec_id = c.id_a
      JOIN n nb ON nb.vec_id = c.id_b
      WHERE round(list_sum(list_transform(range(1, len(na.vn) + 1),
                                          i -> na.vn[i] * nb.vn[i])), 6) >= 0.35),
    """ + _closure_ctes() + """,
    comp AS (SELECT u AS vec_id, min(v) AS component FROM allr GROUP BY u)
    SELECT e.vec_id,
           coalesce(c.component, e.vec_id) AS rep_id,
           coalesce(c.component, e.vec_id) = e.vec_id AS is_kept
    FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
    """,
)
def semantic_dedup_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup via the CLUSTERED-corpus tier (extension: the paper's
    own shape): deterministic IVF quantization, per-bucket dense-BLAS
    cosine pairs at >= 0.35 (n_probe=2 for Voronoi-boundary recall),
    connected components, keep-lowest-id. This is the tier to use when
    embeddings have cluster structure — sign-LSH hot buckets measured
    52x wall-clock at 10x data there (SCALE.md). Oracle = the same
    quantize/bucket/score pipeline + recursive-CTE closure in DuckDB."""
    from sparkobs.operators.similarity import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.35,
        tier="ivf",
        n_clusters=16,
        n_probe=2,
    )


@query(
    "repetition_stats_documents",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
                  FROM documents),
    lns AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents),
    base AS (SELECT toks.doc_id,
                    CASE WHEN len(l) > 0
                         THEN round(1 - len(list_distinct(l)) / len(l), 4) END AS dup_line_frac,
                    CASE WHEN len(t) > 0
                         THEN round(1 - len(list_distinct(t)) / len(t), 4) END AS dup_token_frac
             FROM toks JOIN lns USING (doc_id)),
    bg AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1])) AS b
           FROM toks WHERE len(t) >= 2),
    bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
    bga AS (SELECT doc_id, round(max(c) / sum(c), 4) AS top_bigram_frac
            FROM bgc GROUP BY 1)
    SELECT base.doc_id, dup_line_frac, dup_token_frac, top_bigram_frac
    FROM base LEFT JOIN bga USING (doc_id)
    """,
)
def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (extension: text
    analysis): duplicate-line fraction, duplicate-token fraction,
    top-bigram fraction per document — the boilerplate/spam filters a
    training corpus is cleaned with."""
    from sparkobs.operators.text import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


def _hash_sample_pred(key_sql: str, one_in: int) -> str:
    return f"({_hex15_sql(f'md5(CAST({key_sql} AS VARCHAR))')}) % {one_in} = 0"


@query(
    "hash_sample_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE {_hash_sample_pred('o_orderkey', 16)}
    """,
)
def hash_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-mod sample (extension: reproducible OP-03):
    ~1/16 of orders keyed by md5(o_orderkey) — identical selection on
    every engine/run/partitioning, unlike seed-based Dataset.sample
    (which stays available as the probabilistic sample_scan)."""
    from sparkobs.operators.sampling import hash_sample

    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    return hash_sample(orders, "o_orderkey", 16).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "split_assign_documents",
    oracle=f"""
    WITH b AS (SELECT *,
                      ({_hex15_sql("md5(CAST(doc_id AS VARCHAR))")}) % 100 AS bucket
               FROM documents)
    SELECT CASE WHEN bucket < 98 THEN 'train'
                WHEN bucket < 99 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1
    """,
)
def split_assign_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test split assignment (extension:
    eval-split hygiene): md5-mod buckets over doc_id, key-coherent so
    duplicates sharing the key can never straddle the train/eval
    boundary; summarized per split. Oracle = the same bucket arithmetic
    in DuckDB."""
    from pyspark.sql import functions as F

    from sparkobs.operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    return (
        split_assign(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "decode_synth_media",
    oracle="""
    WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
    mv AS (SELECT doc_id,
                  list_sum(list_transform(generate_series(1, 32),
                                          i -> ord(substr(h, i, 1)))) / 32.0 AS mean_value
           FROM m)
    SELECT doc_id AS id, 'pgm' AS format, CAST(32 AS INT) AS width,
           CAST(1 AS INT) AS height, CAST(1 AS INT) AS n_channels, mean_value
    FROM mv
    UNION ALL
    SELECT doc_id AS id, 'png' AS format, CAST(32 AS INT) AS width,
           CAST(1 AS INT) AS height, CAST(1 AS INT) AS n_channels, mean_value
    FROM mv
    """,
)
def decode_synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decoder certification (extension: multimodal): synthesize a
    genuine PGM and PNG per document whose pixels are the ASCII codes
    of md5(text), run them through decode_real (container parse, zlib
    inflate, unfilter, stats), and value-hash the decoded
    width/height/channels/mean against DuckDB's prediction — the decode
    kernels themselves are inside the oracle-checked path, not just
    unit tests."""
    from sparkobs.operators.multimodal import decode_real, synth_media

    docs = load_table(spark, sf_dir, "documents")
    return decode_real(synth_media(docs)).select(
        "id", "format", "width", "height", "n_channels", "mean_value"
    )


@query(
    "pii_scrub_documents",
    oracle=r"""
    WITH t0 AS (SELECT doc_id,
                       text || ' contact u' || CAST(doc_id AS VARCHAR)
                            || '@example.com or call 555-123-4567 at 10.0.0.1'
                         AS t
                FROM documents),
    s1 AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
           FROM t0),
    s2 AS (SELECT doc_id, n_email,
                  CAST(len(regexp_extract_all(t, '(\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}')) AS BIGINT) AS n_phone,
                  regexp_replace(t, '(\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}', '<PHONE>', 'g') AS t
           FROM s1),
    s3 AS (SELECT doc_id, n_email, n_phone,
                  CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                  regexp_replace(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IPV4>', 'g') AS t
           FROM s2)
    SELECT doc_id, n_email, n_phone, n_ipv4, t AS scrubbed_text FROM s3
    """,
)
def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (extension: training-data cleaning): plant one
    email/phone/IP per document (so replacement is exercised on every
    row, not just counted zeros), scrub with RE2-compatible regexes,
    and value-hash the scrubbed text + per-kind counts against the
    identical regex pipeline in DuckDB."""
    from pyspark.sql import functions as F

    from sparkobs.operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-123-4567 at 10.0.0.1"),
        ),
    )
    return pii_scrub(docs)


@query(
    "stratified_sample_orders",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE ({_hex15_sql("md5(CAST(o_orderkey AS VARCHAR))")})
          % (CASE WHEN o_orderstatus = 'O' THEN 8
                  WHEN o_orderstatus = 'F' THEN 4
                  ELSE 2 END) = 0
    """,
)
def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group deterministic sampling (extension: data mixing): keep
    1-in-8 of 'O' orders, 1-in-4 of 'F', 1-in-2 of the rest, selected
    by md5(o_orderkey) — a pure row-local predicate, reproducible on
    any engine; the oracle applies the identical arithmetic."""
    from sparkobs.operators.sampling import stratified_hash_sample

    orders = load_table(spark, sf_dir, "orders")
    return stratified_hash_sample(
        orders, "o_orderstatus", "o_orderkey", {"O": 8, "F": 4}, default_one_in=2
    ).select("o_orderkey", "o_orderstatus")


def _stage_documents(
    spark: SparkSession, sf_dir: str, n_files: int = 2, spread: bool = False
) -> str:
    """Stage the documents table as a deterministic multi-file parquet
    directory for file-source streams (same mtime-keyed cache scheme as
    _stage_events). ``spread=True`` hash-partitions on doc_id instead
    of coalescing — near-dup documents are ADJACENT in the corpus, so
    coalesce keeps whole dup clusters inside one file; the hash spread
    puts them in different files (= different micro-batches), which is
    what cross-batch incremental-index tests need. Both assignments are
    deterministic."""
    import os
    import tempfile

    from sparkobs.io import ensure_stage

    key = _stage_key(sf_dir, "documents", f"{n_files}:{spread}")
    stage_dir = os.path.join(tempfile.gettempdir(), f"sparkobs_docstream_{key}")

    def _build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        docs = (
            docs.repartition(n_files, "doc_id") if spread else docs.coalesce(n_files)
        )
        docs.write.mode("overwrite").parquet(tmp)

    return ensure_stage(stage_dir, _build)


@query(
    "streaming_dedup_documents",
    oracle="SELECT DISTINCT md5(text) AS fp FROM documents",
)
def streaming_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (extension: dedup under OP-53 execution):
    documents drained through a file-source micro-batch stream with
    stateful ``dropDuplicates`` on the content fingerprint — the
    emitted fingerprint SET is order-independent, so the streaming
    state machinery is value-hash-checked against batch DISTINCT.
    The 100 TB shape for continuous ingest dedup: state store keyed by
    16-byte fingerprints, not document text."""
    from pyspark.sql import functions as F

    from sparkobs.streaming.monitors import run_to_memory

    stage_dir = _stage_documents(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .parquet(stage_dir)
        .select(F.md5("text").alias("fp"))
        .dropDuplicates(["fp"])
    )
    tbl = run_to_memory(stream, "dedup_stream", output_mode="append",
                        shuffle_partitions=4)
    return spark.table(tbl)


@query(
    "quality_topk_per_source",
    oracle="""
    WITH t AS (SELECT doc_id, source, string_split_regex(text, '\\s+') AS toks
               FROM documents),
    m AS (SELECT doc_id, source,
                 len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_unique,
                 len(list_filter(toks, t -> t in ('the', 'a'))) AS n_stop
          FROM t),
    q AS (SELECT doc_id, source,
                 round(least(1.0, n_tokens / 50.0) * 0.4
                       + (n_unique / n_tokens) * 0.4
                       + (1.0 - n_stop / n_tokens) * 0.2, 4) AS quality
          FROM m)
    SELECT doc_id, source, quality, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY quality DESC, doc_id) AS rn
          FROM q)
    WHERE rn <= 25
    """,
)
def quality_topk_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked curation (extension: data mixing): the 25
    highest-quality docs per source, deterministic tie-break by id —
    select-the-best counterpart of source_quota_cap."""
    from pyspark.sql import functions as F

    from sparkobs.operators.text import quality_topk_per_source

    docs = load_table(spark, sf_dir, "documents")
    out = quality_topk_per_source(docs, k=25)
    return out.select("doc_id", "source", "quality", F.col("rank").cast("int").alias("rank"))


@query(
    "anomaly_hourly_events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS DOUBLE) AS value
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT event_type, bucket_ts, value,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS s,
             count(value) OVER w AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT event_type, bucket_ts, value,
           round(CASE WHEN n >= 2 AND s > 0 THEN (value - m) / s END, 4) AS zscore,
           CASE WHEN n >= 2 AND s > 0 THEN abs((value - m) / s) > 2.0 END AS is_anomaly
    FROM scored
    """,
)
def anomaly_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric anomaly detection (extension of OP-39 drift): hourly event
    counts per type z-scored against the trailing 24 observations
    (baseline excludes the point under test); |z| > 2 flags. The
    alert-on-drift half of the reference's monitoring loop, as one
    window query."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import metric_anomalies

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return metric_anomalies(
        hourly, ["event_type"], ts_col="bucket_ts", value_col="value"
    )


@query(
    "ewma_hourly_events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS DOUBLE) AS value
      FROM events GROUP BY 1, 2),
    lsts AS (
      SELECT event_type, bucket_ts, value,
             list(value) OVER (PARTITION BY event_type
                               ORDER BY bucket_ts, value
                               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS lst
      FROM hourly)
    SELECT event_type, bucket_ts, value,
           round(list_reduce(lst, (a, x) -> a + 0.25 * (x - a)), 4) AS ewma,
           round(value - list_reduce(lst, (a, x) -> a + 0.25 * (x - a)), 4) AS residual
    FROM lsts
    """,
)
def ewma_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA level tracking (extension: monitoring): hourly event counts
    per type smoothed with the standard ``acc ← acc + α(x − acc)``
    recursion over a bounded 24-observation frame — the level-shift
    detector that complements the z-score's spike detector. The fold
    runs over an in-row array on both engines (Spark ``aggregate``,
    DuckDB ``list_reduce``), so the float sequence is identical bit
    for bit."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import ewma_smooth

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return ewma_smooth(
        hourly, ["event_type"], ts_col="bucket_ts", value_col="value"
    )


@query(
    "heavy_hitters_tokens_documents",
    oracle=r"""
    WITH toks AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                            x -> x <> '')) AS token
                  FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM toks)
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM toks GROUP BY token
    HAVING count(*) * 40 > (SELECT total FROM n)
    """,
)
def heavy_hitters_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the token stream (extension: corpus
    census at scale): every token occurring in more than 1/40th of all
    token positions. A per-partition Misra-Gries pass bounds the
    candidate space without shuffling the full vocabulary, then one
    exact recount of candidates — deterministic output regardless of
    partitioning; the oracle is the plain frequency filter."""
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import heavy_hitters
    from sparkobs.operators.text import tokens_nonempty

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens_nonempty("text")).alias("token")
    )
    return heavy_hitters(toks, "token", k=40)


@query(
    "psi_drift_hourly_events",
    oracle="""
    WITH binned AS (
      SELECT date_trunc('hour', ts) AS period,
             least(10, greatest(0, CAST(floor(value / 10.0) AS INT))) AS bin
      FROM events),
    counts AS (SELECT period, bin, count(*) AS c FROM binned GROUP BY 1, 2),
    totals AS (SELECT period, sum(c) AS n FROM counts GROUP BY 1),
    fracs AS (SELECT counts.period, bin, c / n AS frac
              FROM counts JOIN totals ON counts.period = totals.period),
    grid AS (SELECT p.period, b.bin
             FROM (SELECT DISTINCT period FROM totals) p
             CROSS JOIN (SELECT unnest(generate_series(0, 10)) AS bin) b),
    dense AS (SELECT grid.period, grid.bin, coalesce(frac, 0.0) AS frac
              FROM grid LEFT JOIN fracs
                ON grid.period = fracs.period AND grid.bin = fracs.bin),
    paired AS (SELECT period, bin, frac,
                      lag(frac) OVER (PARTITION BY bin ORDER BY period) AS prev_frac
               FROM dense)
    SELECT period,
           round(sum((greatest(frac, 1e-6) - greatest(prev_frac, 1e-6))
                     * ln(greatest(frac, 1e-6) / greatest(prev_frac, 1e-6))), 4) AS psi
    FROM paired WHERE prev_frac IS NOT NULL
    GROUP BY period
    """,
)
def psi_drift_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift via PSI (extension of OP-39/40): hourly PSI of
    the events value column against the previous hour over 10 fixed
    bins — catches shape changes row counts and schemas miss. Fixed
    data-independent bins keep it two hash aggs + one lag window."""
    from sparkobs.operators.state import distribution_drift_psi

    return distribution_drift_psi(
        load_table(spark, sf_dir, "events"), "ts", "value", n_bins=10, lo=0.0, hi=100.0
    )


@query("minhash_lsh_pairs_xx64")
def minhash_lsh_pairs_xx64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs in the PRODUCTION hash tier (xxhash64 — 8-byte
    JVM-side signature hashes, the 100 TB default). Engine-specific
    hash → rows-only here; the algorithm is value-hash-certified via
    its portable md5 twin (minhash_lsh_pairs) and recall-tested vs the
    exact tier. Registered so the bench tracks the production tier's
    speed alongside the certified one."""
    from sparkobs.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3, num_hashes=32, bands=8, threshold=0.2, hash_fn="xx64",
    )


@query(
    "resize_synth_media",
    oracle="""
    WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
    mv AS (SELECT doc_id,
                  list_sum(list_transform(generate_series(0, 7),
                                          i -> ord(substr(h, 4*i + 1, 1)))) / 8.0
                    AS mean_value
           FROM m)
    SELECT doc_id AS id, CAST(8 AS INT) AS width, CAST(1 AS INT) AS height,
           CAST(1 AS INT) AS n_channels, mean_value, CAST(NULL AS VARCHAR) AS error
    FROM mv
    UNION ALL
    SELECT doc_id, CAST(8 AS INT), CAST(1 AS INT), CAST(1 AS INT), mean_value,
           CAST(NULL AS VARCHAR)
    FROM mv
    """,
)
def resize_synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode+resize certification (extension: multimodal
    transform): the synthetic 32x1 PGM and PNG payloads are decoded and
    nearest-neighbor-resized to 8x1 — source pixel i*4 for output i —
    so DuckDB predicts the resized mean from every 4th md5 hex char.
    Both container paths (netpbm parse; PNG inflate+unfilter) feed the
    same resample kernel."""
    from sparkobs.operators.multimodal import resize_media, synth_media

    docs = load_table(spark, sf_dir, "documents")
    return resize_media(synth_media(docs), out_w=8, out_h=1)


@query(
    "winnowing_fingerprints_documents",
    oracle="""
    WITH g AS (SELECT doc_id, text,
                      greatest(1, length(text) - 7) AS ng
               FROM documents),
    h AS (SELECT doc_id, ng,
                 list_transform(generate_series(1, ng),
                   i -> """ + _hex15_sql("md5(substr(text, CAST(i AS INT), 8))") + """)
                   AS hashes
          FROM g)
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_transform(
             generate_series(1, greatest(1, ng - 3)),
             j -> list_min(hashes[j:j+3])))), ',') AS fingerprints_csv
    FROM h
    """,
)
def winnowing_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (extension: the MOSS scheme —
    char 8-grams, window 4) in the portable md5 mode, value-hash-checked
    against the identical pipeline in DuckDB; xx64 is the production
    hash tier. The sorted BIGINT fingerprint list is serialized to a
    comma-joined string so the driver canonicalizer can hash it
    (integer→string formatting is engine-portable)."""
    from pyspark.sql import functions as F

    from sparkobs.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(
        load_table(spark, sf_dir, "documents"), k=8, window=4, hash_fn="md5"
    ).select(
        "doc_id",
        F.concat_ws(
            ",", F.expr("transform(fingerprints, f -> CAST(f AS STRING))")
        ).alias("fingerprints_csv"),
    )


def _snd_batch_cands(batch_df: DataFrame, index: DataFrame) -> DataFrame:
    """Per-batch stream-static candidate generation for the near-dup
    screening twin — one scan of the micro-batch (signature pipeline
    on the odd-id rows) broadcast-joined against the PERSISTED static
    band index, whose recoverable lineage does not re-scan per batch
    (r14 streaming scan audit pin)."""
    from sparkobs.operators.dedup import minhash_banded

    return (
        # fan_out=False: micro-batches are small and the per-batch
        # exchange measured slower (r14 streaming A/B)
        minhash_banded(
            batch_df.where(F.col("doc_id") % 2 == 1),
            hash_fn="md5",
            fan_out=False,
        )
        .withColumnRenamed("id", "stream_id")
        .join(F.broadcast(index), ["band", "bucket"])
        .select("stream_id", "index_id")
        .distinct()
    )


@query(
    "streaming_near_dup_candidates",
    oracle="WITH " + _minhash_pair_ctes() + """
    , banded2 AS (SELECT doc_id AS id, band, bucket FROM banded)
    SELECT DISTINCT a.id AS stream_id, b.id AS index_id
    FROM banded2 a JOIN banded2 b
      ON a.band = b.band AND a.bucket = b.bucket
    WHERE a.id % 2 = 1 AND b.id % 2 = 0
    """,
)
def streaming_near_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest near-dup screening (extension: dedup × OP-53):
    odd-id documents arrive as a file-source micro-batch stream and are
    checked against a STATIC MinHash band index built from the even-id
    reference corpus — per batch, band the new docs with the identical
    portable signature pipeline and broadcast-join them against the
    index (foreachBatch, the standard stream-static enrichment shape;
    candidate generation per doc is batch-boundary-independent, so the
    emitted candidate set is deterministic). The oracle replays the
    same banding on both parities in DuckDB. At 100 TB the index is a
    bucketed table and each micro-batch joins only its colliding
    buckets; exact-Jaccard verification runs downstream on candidates
    exactly as in minhash_lsh_pairs."""
    from pyspark.sql import functions as F

    from sparkobs.operators.dedup import minhash_banded
    from sparkobs.streaming.monitors import drain

    stage_dir = _stage_documents(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # persist the static band index ONCE before the stream starts —
    # without this, every foreachBatch call (and every bench rep) would
    # re-run the whole signature pipeline from the parquet scan
    index = (
        minhash_banded(docs.where(F.col("doc_id") % 2 == 0), hash_fn="md5")
        .withColumnRenamed("id", "index_id")
        .persist()
    )
    index.count()
    out_dir = _fresh_scratch("sparkobs_snd", sf_dir)

    def enrich(batch_df, batch_id):
        _snd_batch_cands(batch_df, index).write.mode("append").parquet(out_dir)

    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).parquet(stage_dir)
    try:
        drain(stream.writeStream.foreachBatch(enrich), "streaming_near_dup")
    finally:
        index.unpersist()
    return spark.read.parquet(out_dir).distinct()


def _sibi_cands(banded: DataFrame, index: DataFrame) -> DataFrame:
    """Per-batch candidate generation for the incremental band index
    twin: the batch's (persisted) band table joined against the
    on-disk index UNION itself — the rename sidesteps self-join
    column ambiguity (banded appears on both sides for the in-batch
    collisions). Per-batch scan budget: 1 parquet scan (the index
    read); the persisted band table's lineage (the batch signature
    pipeline) does not re-scan (r14 streaming scan audit pin)."""
    other = index.unionByName(banded).withColumnRenamed("id", "id2")
    return (
        banded.join(other, ["band", "bucket"])
        .where(F.col("id") != F.col("id2"))
        .select(
            F.least("id", "id2").alias("id_a"),
            F.greatest("id", "id2").alias("id_b"),
        )
        .distinct()
    )


@query(
    "streaming_incremental_band_index",
    oracle="WITH " + _minhash_pair_ctes() + """
    SELECT ia AS id_a, ib AS id_b FROM cand
    """,
)
def streaming_incremental_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup with an INCREMENTALLY GROWING band index
    (extension: dedup × OP-53; the follow-on to
    streaming_near_dup_candidates' static index): documents arrive in
    micro-batches (maxFilesPerTrigger=1 over a 4-file stage); per batch
    the new docs are MinHash-banded, joined against the index
    accumulated from all PRIOR batches — so a doc in batch N is caught
    as a near-dup candidate of any colliding doc from batches < N —
    plus the in-batch self-collisions, and then UPSERTED into the index
    (parquet append). The emitted candidate set is batch-order
    independent: a colliding pair is discovered exactly when its later
    member arrives, so the union over batches equals one-shot batch
    banding over the whole corpus — which is exactly what the DuckDB
    oracle replays. At 100 TB the index is a bucket-partitioned table
    and each micro-batch joins only its colliding buckets; the append
    becomes a partition-local upsert."""
    import os

    from sparkobs.operators.dedup import minhash_banded
    from sparkobs.streaming.monitors import drain

    stage_dir = _stage_documents(spark, sf_dir, n_files=4, spread=True)
    base = _fresh_scratch("sparkobs_sibi", sf_dir)
    index_dir = os.path.join(base, "index")
    out_dir = os.path.join(base, "cands")

    band_schema = "id bigint, band int, bucket bigint"
    spark.createDataFrame([], band_schema).write.parquet(index_dir)

    def ingest(batch_df, batch_id):
        # persist() is enough: the cands write below computes the band
        # table into the cache (both of its references share the same
        # in-flight cached partitions) and the index append reuses it —
        # an explicit count() here was one pure extra job PER BATCH
        # fan_out=False: the 4-file drain is deliberately narrow and a
        # per-batch repartition measured slower (r14 streaming A/B)
        banded = minhash_banded(batch_df, hash_fn="md5", fan_out=False).persist()
        index = spark.read.schema(band_schema).parquet(index_dir)
        cands = _sibi_cands(banded, index)
        cands.write.mode("append").parquet(out_dir)
        banded.write.mode("append").parquet(index_dir)
        banded.unpersist()

    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    # narrow shuffle width: each micro-batch joins ~1/4 of the staged
    # fixture — 32-wide exchanges per batch are pure scheduling
    # overhead here (measured 6.0 → 4.2 s at sf0.1). Chosen for the
    # bounded 4-file certification stage; the 100 TB shape is the
    # bucket-partitioned index join described above, which wants full
    # width.
    drain(
        stream.writeStream.foreachBatch(ingest),
        "streaming_incremental_band_index",
        shuffle_partitions=4,
    )
    return spark.read.schema("id_a bigint, id_b bigint").parquet(out_dir).distinct()


@query(
    "entropy_lineitem_columns",
    oracle="""
    WITH f AS (SELECT 'l_returnflag' AS col, l_returnflag AS v, count(*) AS cnt
               FROM lineitem GROUP BY 2
               UNION ALL
               SELECT 'l_linestatus', l_linestatus, count(*) FROM lineitem GROUP BY 2),
    t AS (SELECT col, sum(cnt) AS n FROM f GROUP BY 1)
    SELECT f.col AS "column",
           round(sum(-(cnt / n) * log2(cnt / n)), 4) AS entropy_bits
    FROM f JOIN t ON f.col = t.col
    GROUP BY 1
    """,
)
def entropy_lineitem_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of categorical columns (extension: profiling) —
    constants score 0, uniform scores log2(distinct); the
    "is this column informative" metric."""
    from sparkobs.operators.profile import column_entropy

    return column_entropy(
        load_table(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"]
    )


@query(
    "fd_check_orders",
    oracle="""
    WITH per AS (SELECT o_custkey, count(DISTINCT o_orderstatus) AS n_dep,
                        count(*) AS n_rows
                 FROM orders GROUP BY 1)
    SELECT CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_keys,
           CAST(coalesce(sum(CASE WHEN n_dep > 1 THEN n_rows END), 0) AS BIGINT) AS violating_rows
    FROM per
    """,
)
def fd_check_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency probe (extension: profiling): does
    o_custkey -> o_orderstatus hold? Counts determinant values mapping
    to more than one dependent value (it won't hold — customers have
    orders in several statuses — which is exactly what the probe
    reports)."""
    from sparkobs.operators.profile import fd_violations

    return fd_violations(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_orderstatus"
    )


# ---------------------------------------------------------------------------
# Round-4 extension wave 2 — corpus cleaning / LM scoring / search
# ---------------------------------------------------------------------------

_DOC_TOKS_CTE = (
    "t AS (SELECT doc_id, "
    "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk "
    "FROM documents)"
)


@query(
    "line_dedup_documents",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    ln0 AS (SELECT doc_id,
                   unnest(list_transform(range(0, CAST(ceil(len(tk) / 8.0) AS INT)),
                                         i -> {{'pos': i, 'line': array_to_string(tk[i*8+1:i*8+8], ' ')}})) AS l
            FROM t),
    lp AS (SELECT doc_id, l.pos AS pos, l.line AS line FROM ln0 WHERE l.line <> ''),
    bp AS (SELECT line FROM lp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
    kept AS (SELECT doc_id, pos, line FROM lp WHERE line NOT IN (SELECT line FROM bp)),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean_text
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, count(*) AS n_lines FROM lp GROUP BY 1)
    SELECT t.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           CAST(coalesce(tot.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
    FROM t LEFT JOIN agg USING(doc_id) LEFT JOIN tot USING(doc_id)
    """,
)
def line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document boilerplate line removal (extension:
    dedup). The corpus is single-line, so the query first stages each
    document into deterministic 8-token lines (the same staging both
    engines compute), then drops every line that appears verbatim in
    >= 3 documents and reassembles the survivors in order."""
    from pyspark.sql import functions as F

    from sparkobs.operators.text import drop_boilerplate_lines, tokens_nonempty

    # tokens materialize as a column FIRST: slicing inside the
    # transform lambda must reference the attribute, not the
    # filter(split(...)) expression — a lambda body re-evaluates its
    # free subexpressions per element (the O(tokens²) trap documented
    # in sparkobs/operators/lm.py doc_bigrams)
    toks_df = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_nonempty("text").alias("__tk")
    )
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


@query(
    "bigram_ppl_documents",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    bg0 AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(tk)),
                                         i -> {{'w1': tk[i], 'w2': tk[i+1]}})) AS b
            FROM t WHERE len(tk) >= 2),
    bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
    m12 AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY 1, 2),
    m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM m12 GROUP BY 1),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM m1),
    sc AS (SELECT doc_id,
                  ln((c12 + 0.5) / (c1 + 0.5 * vocab_size)) AS lp
           FROM bgf JOIN m12 USING(w1, w2) JOIN m1 USING(w1) CROSS JOIN v)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-avg(lp), 4) AS avg_nll,
           round(exp(-avg(lp)), 4) AS ppl
    FROM sc GROUP BY 1
    """,
)
def bigram_ppl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (extension: text analysis):
    self-trained add-0.5-smoothed bigram model, per-document
    perplexity — the "how surprising is this document" curation
    signal."""
    from sparkobs.operators.lm import bigram_perplexity

    return bigram_perplexity(load_table(spark, sf_dir, "documents"))


def _bloom_oracle(m_words: int = 256, n_hashes: int = 4) -> str:
    m_bits = m_words * 32
    js = ", ".join(str(j) for j in range(n_hashes))
    mask = "(CAST(1 AS BIGINT) << CAST(p & 31 AS INT))"
    return f"""
    WITH sd AS (SELECT md5(text) AS d FROM documents WHERE doc_id % 2 = 0),
    sp AS (SELECT {_hex15_sql('d')} % 100000000000000000 AS a,
                  {_hex15_sql('d', start=16)} % 100000000000000000 AS b
           FROM sd),
    pos AS (SELECT (a + j * b) % {m_bits} AS p
            FROM sp CROSS JOIN (SELECT unnest([{js}]) AS j)),
    bm AS (SELECT p >> 5 AS widx, bit_or({mask}) AS word_bits
           FROM pos GROUP BY 1),
    pr AS (SELECT doc_id, md5(text) AS d FROM documents),
    pp AS (SELECT doc_id,
                  {_hex15_sql('d')} % 100000000000000000 AS a,
                  {_hex15_sql('d', start=16)} % 100000000000000000 AS b
           FROM pr),
    ppos AS (SELECT doc_id, (a + j * b) % {m_bits} AS p
             FROM pp CROSS JOIN (SELECT unnest([{js}]) AS j)),
    hits AS (SELECT doc_id,
                    CASE WHEN (coalesce(word_bits, 0) & {mask}) = {mask}
                         THEN 1 ELSE 0 END AS hit
             FROM ppos LEFT JOIN bm ON (p >> 5) = bm.widx)
    SELECT doc_id, sum(hit) = {n_hashes} AS maybe_seen,
           doc_id % 2 = 0 AS actually_seen
    FROM hits GROUP BY 1
    """


@query("bloom_probe_documents", oracle=_bloom_oracle())
def bloom_probe_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup via portable Bloom filter
    (extension: dedup): the even-doc_id half of the corpus plays the
    "previous run" whose content hashes built the bitmap; every
    document probes it. maybe_seen false => certainly new;
    actually_seen exposes the false-positive surface for the exact
    re-check stage."""
    from pyspark.sql import functions as F

    from sparkobs.operators.dedup import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    bloom = bloom_build(docs.where(F.col("doc_id") % 2 == 0), "text")
    return bloom_probe(docs, bloom, "text").select(
        "doc_id",
        "maybe_seen",
        (F.col("doc_id") % 2 == 0).alias("actually_seen"),
    )


@query(
    "tfidf_topk_documents",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    sc AS (SELECT doc_id, term, tf,
                  round(tf * ln((n_docs + 1) / (doc_freq + 1)), 4) AS score
           FROM tf JOIN dfq USING(term) CROSS JOIN n),
    rk AS (SELECT doc_id, term, tf, score,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term ASC) AS rnk
           FROM sc)
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= 3
    """,
)
def tfidf_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (extension: text analysis).
    Both engines rank by the ROUNDED score with the term string as
    tie-break, so ordering is engine-exact."""
    from sparkobs.operators.text import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@query(
    "upsample_mixture_documents",
    oracle="""
    WITH w AS (SELECT * FROM (VALUES ('src0', CAST(2.5 AS DOUBLE)),
                                     ('src1', CAST(0.5 AS DOUBLE))) AS v(source, wt)),
    d AS (SELECT doc_id, source, coalesce(wt, 1.0) AS wt
          FROM documents LEFT JOIN w USING(source)),
    h AS (SELECT doc_id, source, wt, md5('mix' || CAST(doc_id AS VARCHAR)) AS dg FROM d),
    e AS (SELECT doc_id, source,
                 CAST(floor(wt) AS BIGINT)
                 + CASE WHEN """ + _hex15_sql("dg") + """ % 10000
                             < CAST(round((wt - floor(wt)) * 10000) AS BIGINT)
                        THEN 1 ELSE 0 END AS n
          FROM h)
    SELECT doc_id, source, CAST(unnest(range(1, n + 1)) AS BIGINT) AS epoch
    FROM e WHERE n >= 1
    """,
)
def upsample_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch mixture materialization (extension: sampling):
    src0 at 2.5 epochs, src1 at 0.5, everything else 1.0 — the
    deterministic "N epochs of source X" data-mixing step."""
    from pyspark.sql import functions as F

    from sparkobs.operators.sampling import upsample_mixture

    docs = load_table(spark, sf_dir, "documents")
    return upsample_mixture(docs, {"src0": 2.5, "src1": 0.5}, salt="mix").select(
        "doc_id", "source", F.col("epoch").cast("long").alias("epoch")
    )


@query(
    "inverted_index_documents",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(tk) AS term FROM t),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
    st AS (SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
                  CAST(sum(tf) AS BIGINT) AS total_tf
           FROM tf GROUP BY 1),
    rk AS (SELECT term, doc_id, tf,
                  row_number() OVER (PARTITION BY term
                                     ORDER BY tf DESC, doc_id ASC) AS rn
           FROM tf),
    top AS (SELECT term,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY tf DESC, doc_id ASC) AS top_doc_ids
            FROM rk WHERE rn <= 5 GROUP BY 1)
    SELECT st.term, doc_freq, total_tf, top_doc_ids
    FROM st JOIN top USING(term)
    """,
)
def inverted_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> postings-summary inverted index (extension: search):
    document frequency, total tf, and the 5 highest-tf docs per term
    as a deterministic csv."""
    from sparkobs.operators.text import inverted_index

    return inverted_index(load_table(spark, sf_dir, "documents"), top_docs=5)


@query(
    "search_and_documents",
    oracle=f"""
    WITH {_DOC_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(tk) AS term FROM t)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM tok WHERE term IN ('table', 'hash')
    GROUP BY 1 HAVING count(DISTINCT term) = 2
    """,
)
def search_and_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive term search (extension: search): documents
    containing BOTH 'table' and 'hash', scored by total occurrences."""
    from sparkobs.operators.text import search_all_terms

    return search_all_terms(
        load_table(spark, sf_dir, "documents"), ("table", "hash")
    )


_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def _table_diff_oracle() -> str:
    eq = " AND ".join(
        f"o.{c} IS NOT DISTINCT FROM n.{c}" for c in _ORDERS_COLS[1:]
    )
    return f"""
    WITH old AS (SELECT * FROM orders WHERE o_orderkey % 100 <> 2),
    new AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 100 = 1
                        THEN round(o_totalprice * 2, 2)
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 100 <> 0),
    j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                 CASE WHEN o.o_orderkey IS NULL THEN 'added'
                      WHEN n.o_orderkey IS NULL THEN 'removed'
                      WHEN {eq} THEN 'unchanged'
                      ELSE 'changed' END AS diff_status
          FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey, diff_status FROM j WHERE diff_status <> 'unchanged'
    """


@query("table_diff_orders", oracle=_table_diff_oracle())
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level table reconciliation (extension: state/delta): two
    deterministic versions of orders — keys ≡0 (mod 100) removed,
    ≡1 changed (price doubled), ≡2 added — diffed down to
    added/removed/changed statuses."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import table_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 100 != 2)
    new = orders.where(F.col("o_orderkey") % 100 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 100 == 1, F.round(F.col("o_totalprice") * 2, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    return table_diff(old, new, ["o_orderkey"])


@query(
    "quantile_bins_lineitem",
    oracle="""
    WITH e AS (SELECT [round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4),
                       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.50), 4),
                       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 4)] AS edges
               FROM lineitem),
    b AS (SELECT CAST(len(list_filter(edges, x -> CAST(l_extendedprice AS DOUBLE) > x)) + 1 AS BIGINT) AS bin,
                 CAST(l_extendedprice AS DOUBLE) AS v
          FROM lineitem CROSS JOIN e)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
           round(min(v), 4) AS min_val, round(max(v), 4) AS max_val
    FROM b GROUP BY 1
    """,
)
def quantile_bins_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency quartile binning of l_extendedprice (extension:
    profiling) — exact interior edges rounded in-query on both engines
    so assignment is reproducible."""
    from sparkobs.operators.state import quantile_bins

    return quantile_bins(load_table(spark, sf_dir, "lineitem"), "l_extendedprice", 4)


@query(
    "quantize_embeddings_vectors",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
    q AS (SELECT vec_id, e, amax,
                 CASE WHEN amax > 0
                      THEN list_transform(e, x -> CAST(round(x / (amax / 127.0)) AS INT))
                      ELSE list_transform(e, x -> 0) END AS codes
          FROM m)
    SELECT vec_id,
           round(CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END, 6) AS scale,
           round(CASE WHEN amax > 0
                      THEN sqrt(list_sum(list_transform(range(1, len(e) + 1),
                                 i -> pow(e[i] - codes[i] * (amax / 127.0), 2))) / len(e))
                      ELSE 0.0 END, 6) AS rms_err,
           array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',') AS codes
    FROM q
    """,
)
def quantize_embeddings_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization + reconstruction error (extension:
    embeddings) — the 4× compression step before broadcast/caching a
    corpus for ANN."""
    from sparkobs.operators.similarity import quantize_embeddings

    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


def _cms_oracle(depth: int = 4, width: int = 256) -> str:
    ds = ", ".join(str(d) for d in range(depth))
    return f"""
    WITH {_DOC_TOKS_CTE},
    tok AS (SELECT unnest(tk) AS token FROM t),
    occ AS (SELECT token, md5(token) AS dg FROM tok),
    h AS (SELECT token,
                 {_hex15_sql('dg')} % 100000000000000000 AS a,
                 {_hex15_sql('dg', start=16)} % 100000000000000000 AS b
          FROM occ),
    cells AS (SELECT d, (a + d * b) % {width} AS w
              FROM h CROSS JOIN (SELECT unnest([{ds}]) AS d)),
    cms AS (SELECT d, w, count(*) AS cnt FROM cells GROUP BY 1, 2),
    tc AS (SELECT token, count(*) AS true_count FROM tok GROUP BY 1),
    top AS (SELECT token, true_count FROM tc
            ORDER BY true_count DESC, token LIMIT 20),
    ph AS (SELECT token, true_count, md5(token) AS dg FROM top),
    ph2 AS (SELECT token, true_count,
                   {_hex15_sql('dg')} % 100000000000000000 AS a,
                   {_hex15_sql('dg', start=16)} % 100000000000000000 AS b
            FROM ph),
    pc AS (SELECT token, true_count, d, (a + d * b) % {width} AS w
           FROM ph2 CROSS JOIN (SELECT unnest([{ds}]) AS d)),
    est AS (SELECT token, true_count,
                   CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
            FROM pc LEFT JOIN cms USING (d, w) GROUP BY 1, 2)
    SELECT token, CAST(true_count AS BIGINT) AS true_count, est_count,
           CAST(est_count - true_count AS BIGINT) AS overcount
    FROM est
    """


@query("cms_vocab_estimates", oracle=_cms_oracle())
def cms_vocab_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation (extension: profiling):
    sketch every token occurrence, then estimate the top-20 vocabulary
    tokens against their true counts — overcount is the sketch's
    collision error, always >= 0."""
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import cms_build, cms_estimate
    from sparkobs.operators.text import tokens_nonempty, vocab_topk

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_nonempty("text")).alias("token"))
    cms = cms_build(toks, "token")
    top = vocab_topk(docs, 20).select(
        "token", F.col("n_occurrences").cast("long").alias("true_count")
    )
    est = cms_estimate(top, cms, "token")
    return top.join(est, "token").select(
        "token",
        "true_count",
        "est_count",
        (F.col("est_count") - F.col("true_count")).cast("long").alias("overcount"),
    )


def _zorder_oracle(bits: int = 11) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    z = " | ".join(terms)
    return f"""
    WITH xy AS (SELECT CAST(user_id AS BIGINT) % 2048 AS x,
                       least(CAST(floor(value) AS BIGINT), 2047) AS y
                FROM events),
    z AS (SELECT x, y, ({z}) AS zkey FROM xy)
    SELECT CAST(zkey >> 6 AS BIGINT) AS tile,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(zkey) AS BIGINT) AS min_zkey,
           CAST(max(zkey) AS BIGINT) AS max_zkey
    FROM z GROUP BY 1
    """


@query("zorder_tiles_events", oracle=_zorder_oracle())
def zorder_tiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout keys (extension: storage layout): Morton-
    interleave (user_id, floor(value)) and summarize 64-key tiles —
    the sort key that makes two-sided range predicates prune parquet
    row-group stats. Writing sorted by zkey is the layout step; the
    tile summary is the oracle-checkable view."""
    from pyspark.sql import functions as F

    from sparkobs.functions import z_order_key

    # quantize defensively: ids wrap mod 2^11, values clamp — the
    # z_order_key guard raises on out-of-range inputs by design
    ev = load_table(spark, sf_dir, "events")
    z = ev.select(
        z_order_key(
            F.col("user_id") % 2048,
            F.least(F.floor(F.col("value")).cast("long"), F.lit(2047)),
            bits=11,
        ).alias("zkey")
    )
    return (
        z.groupBy(F.shiftright("zkey", 6).cast("long").alias("tile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("zkey").cast("long").alias("min_zkey"),
            F.max("zkey").cast("long").alias("max_zkey"),
        )
    )


def _bpe_ctes(n_merges: int) -> str:
    """Chained-CTE replay of the BPE training loop (see
    sparkobs/operators/bpe.py for the canonical-string merge
    representation that makes each round ONE literal replace)."""
    parts = [
        _DOC_TOKS_CTE,
        """wf AS (SELECT word, count(*) AS freq
             FROM (SELECT unnest(tk) AS word FROM t) GROUP BY 1)""",
        """w0 AS (SELECT freq,
                  ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                                                        i -> word[i]), '  ') || ' ' AS sym
           FROM wf)""",
    ]
    for k in range(1, n_merges + 1):
        parts.append(f"""
    p{k} AS (SELECT z[1] AS lhs, z[2] AS rhs, CAST(sum(freq) AS BIGINT) AS pair_freq
             FROM (SELECT freq,
                          unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z
                   FROM (SELECT string_split(trim(sym), '  ') AS syms, freq FROM w{k-1}))
             GROUP BY 1, 2),
    top{k} AS (SELECT lhs, rhs, pair_freq FROM p{k}
               ORDER BY pair_freq DESC, lhs, rhs LIMIT 1),
    w{k} AS (SELECT freq,
                    replace(sym, ' ' || lhs || '  ' || rhs || ' ',
                                 ' ' || lhs || rhs || ' ') AS sym
             FROM w{k-1} CROSS JOIN top{k})""")
    return ",\n".join(parts)


_BPE_N_MERGES = 6


def _bpe_merges_oracle(n_merges: int = _BPE_N_MERGES) -> str:
    steps = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS step, lhs, rhs, lhs || rhs AS merged, pair_freq FROM top{k}"
        for k in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_ctes(n_merges)}\n    {steps}"


@query("bpe_merges_documents", oracle=_bpe_merges_oracle())
def bpe_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (extension: tokenization):
    the first 6 learned merges over the corpus, deterministic
    (frequency desc, pair lexicographic tie-break)."""
    from sparkobs.operators.bpe import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), n_merges=_BPE_N_MERGES)


def _bpe_tokenize_oracle(n_merges: int = _BPE_N_MERGES) -> str:
    applies = []
    prev = "a0"
    for k in range(1, n_merges + 1):
        applies.append(f"""
    a{k} AS (SELECT doc_id, n_chars,
                    replace(sym,
                            (SELECT ' ' || lhs || '  ' || rhs || ' ' FROM top{k}),
                            (SELECT ' ' || lhs || rhs || ' ' FROM top{k})) AS sym
             FROM {prev})""")
        prev = f"a{k}"
    return f"""WITH {_bpe_ctes(n_merges)},
    dw AS (SELECT doc_id, unnest(tk) AS word FROM t),
    a0 AS (SELECT doc_id, length(word) AS n_chars,
                  ' ' || array_to_string(list_transform(range(1, length(word) + 1),
                                                        i -> word[i]), '  ') || ' ' AS sym
           FROM dw),{",".join(applies)}
    SELECT doc_id,
           CAST(sum(n_chars) AS BIGINT) AS n_char_symbols,
           CAST(sum(len(string_split(trim(sym), '  '))) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(len(string_split(trim(sym), '  '))) AS BIGINT)
                 / CAST(sum(n_chars) AS BIGINT), 4) AS compression
    FROM {prev} GROUP BY 1"""


@query("bpe_tokenize_documents", oracle=_bpe_tokenize_oracle())
def bpe_tokenize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply corpus-trained BPE merges back to every document
    (extension: tokenization): per-doc symbol counts before/after and
    the compression ratio — the train→apply round trip, both halves
    oracle-certified."""
    from sparkobs.operators.bpe import bpe_apply, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(docs, n_merges=_BPE_N_MERGES).collect()
    ]
    return bpe_apply(docs, merges)


def _hll_col_oracle(col: str, table: str) -> str:
    from sparkobs.operators.profile import _HLL_ALPHA, _HLL_M

    m = _HLL_M
    num = repr(_HLL_ALPHA * m * m * 2**33)
    return f"""
    SELECT col_name, est_distinct, exact_distinct,
           round(abs(est_distinct - exact_distinct) / exact_distinct, 4) AS rel_err
    FROM (
      SELECT '{col}' AS col_name,
             round(CASE WHEN raw <= {2.5 * m} AND v > 0
                        THEN {float(m)} * ln({m} / v)
                        ELSE raw END, 2) AS est_distinct,
             exact_distinct
      FROM (
        SELECT {num} / s_total AS raw, {m} - n_present AS v, exact_distinct
        FROM (
          SELECT count(*) AS n_present,
                 sum(CAST(1 AS BIGINT) << (33 - reg))
                 + ({m} - count(*)) * CAST(8589934592 AS BIGINT) AS s_total
          FROM (
            SELECT bucket, max(rho) AS reg
            FROM (
              SELECT h % {m} AS bucket,
                     CASE WHEN (h >> 8) % 4294967296 > 0
                          THEN 33 - length(bin((h >> 8) % 4294967296))
                          ELSE 33 END AS rho
              FROM (SELECT {_hex15_sql('dg')} AS h
                    FROM (SELECT md5(CAST({col} AS VARCHAR)) AS dg FROM {table}))
            ) GROUP BY 1
          )
        ) CROSS JOIN (SELECT CAST(count(DISTINCT {col}) AS BIGINT) AS exact_distinct
                      FROM {table})
      )
    )
    """


@query(
    "hll_distinct_lineitem",
    oracle=" UNION ALL ".join(
        _hll_col_oracle(c, "lineitem")
        for c in ("l_orderkey", "l_partkey", "l_suppkey")
    ),
)
def hll_distinct_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct sketches (extension:
    profiling): per-column estimate vs exact with relative error —
    the certified analog of the approx_count_distinct scale mode
    (integer-exact register sums, see profile.py)."""
    from sparkobs.operators.profile import hll_distinct

    return hll_distinct(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_partkey", "l_suppkey"],
    )


def _streaming_cms_oracle(depth: int = 4, width: int = 256) -> str:
    ds = ", ".join(str(d) for d in range(depth))
    return f"""
    WITH k AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
    occ AS (SELECT key, md5(key) AS dg FROM k),
    h AS (SELECT key,
                 {_hex15_sql('dg')} % 100000000000000000 AS a,
                 {_hex15_sql('dg', start=16)} % 100000000000000000 AS b
          FROM occ),
    cells AS (SELECT d, (a + d * b) % {width} AS w
              FROM h CROSS JOIN (SELECT unnest([{ds}]) AS d)),
    cms AS (SELECT d, w, count(*) AS cnt FROM cells GROUP BY 1, 2),
    probes AS (SELECT DISTINCT key FROM k),
    ph AS (SELECT key, md5(key) AS dg FROM probes),
    ph2 AS (SELECT key,
                   {_hex15_sql('dg')} % 100000000000000000 AS a,
                   {_hex15_sql('dg', start=16)} % 100000000000000000 AS b
            FROM ph),
    pc AS (SELECT key, d, (a + d * b) % {width} AS w
           FROM ph2 CROSS JOIN (SELECT unnest([{ds}]) AS d)),
    est AS (SELECT key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
            FROM pc LEFT JOIN cms USING (d, w) GROUP BY 1),
    tc AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS true_count
           FROM events GROUP BY 1)
    SELECT est.key AS user_key, est_count,
           CAST(true_count AS BIGINT) AS true_count
    FROM est JOIN tc USING (key)
    """


def _scms_partial(batch_df: DataFrame) -> DataFrame:
    """Per-batch CMS partial for the streaming twin — one scan of the
    micro-batch into the (d, w, cnt) cell table (r14 streaming scan
    audit pin)."""
    from sparkobs.operators.profile import cms_build

    return cms_build(
        batch_df.select(F.col("user_id").cast("string").alias("key")), "key"
    )


@query("streaming_cms_events", oracle=_streaming_cms_oracle())
def streaming_cms_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable count-min sketch (extension: profiling ×
    OP-53): events arrive in micro-batches; each batch's CMS partials
    (d, w, cnt) append to a state table, and the final sketch is the
    CELLWISE SUM over batches — the mergeability that makes CMS the
    bounded-state streaming frequency monitor. The merged sketch is
    provably identical to one-shot batch sketching (the oracle
    replays exactly that), so estimates match a batch build
    value-for-value."""
    from pyspark.sql import functions as F

    from sparkobs.operators.profile import cms_estimate

    state_dir = _drain_event_partials(spark, sf_dir, "sparkobs_scms", _scms_partial)
    merged = (
        spark.read.schema("d int, w bigint, cnt bigint")
        .parquet(state_dir)
        .groupBy("d", "w")
        .agg(F.sum("cnt").alias("cnt"))
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    true_counts = ev.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    return (
        cms_estimate(ev, merged, "key")
        .join(true_counts, "key")
        .select(F.col("key").alias("user_key"), "est_count", "true_count")
    )


@query(
    "zscore_events_by_type",
    oracle="""
    WITH z AS (SELECT event_type, event_id,
                      CASE WHEN stddev_samp(value) OVER (PARTITION BY event_type) IS NULL
                             OR stddev_samp(value) OVER (PARTITION BY event_type) = 0
                           THEN 0.0
                           ELSE (value - avg(value) OVER (PARTITION BY event_type))
                                / stddev_samp(value) OVER (PARTITION BY event_type)
                      END AS zval
               FROM events)
    SELECT event_type, event_id, round(zval, 4) AS zscore FROM z
    """,
)
def zscore_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise z-score normalization (extension: featurization):
    every event's value standardized within its event_type."""
    from sparkobs.operators.features import group_zscore

    return group_zscore(
        load_table(spark, sf_dir, "events"), ["event_type"], "value",
        keep_cols=["event_id"],
    )


@query(
    "winsorize_events_by_type",
    oracle="""
    WITH e AS (SELECT event_type,
                      round(quantile_cont(CAST(value AS DOUBLE), 0.05), 4) AS p_lo,
                      round(quantile_cont(CAST(value AS DOUBLE), 0.95), 4) AS p_hi
               FROM events GROUP BY 1),
    j AS (SELECT events.event_type, CAST(value AS DOUBLE) AS v, p_lo, p_hi
          FROM events JOIN e USING (event_type))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           CAST(sum(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
           round(avg(v), 4) AS mean_raw,
           round(avg(least(greatest(v, p_lo), p_hi)), 4) AS mean_winsorized,
           max(p_lo) AS p_lo, max(p_hi) AS p_hi
    FROM j GROUP BY 1
    """,
)
def winsorize_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization audit (extension: featurization): clip
    value to each event_type's [p5, p95] and report tail clip counts
    and the mean shift."""
    from sparkobs.operators.features import winsorize_summary

    return winsorize_summary(
        load_table(spark, sf_dir, "events"), ["event_type"], "value"
    )


@query(
    "streaming_join_click_purchase",
    oracle="""
    SELECT c.event_id AS left_id, p.event_id AS right_id, c.user_id
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def streaming_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (extension: streaming ×
    OP-55/56): every click matched to the same user's purchases within
    the following hour, both sides streaming. The stage drains as ONE
    availableNow batch — with the corpus's random event order, a
    multi-batch drain would (correctly, per late-data semantics) evict
    state for events older than the watermark, which a batch oracle
    can't replay; the single-batch drain keeps streaming semantics ≡
    batch join while still exercising the stream-stream state plan."""
    from pyspark.sql import functions as F

    from sparkobs.streaming.monitors import (
        run_to_memory,
        stream_events,
        stream_stream_join_within,
    )

    stage_dir = _stage_events(spark, sf_dir, n_files=4)
    left = stream_events(spark, stage_dir).where(F.col("event_type") == "click")
    right = stream_events(spark, stage_dir).where(
        F.col("event_type") == "purchase"
    )
    j = stream_stream_join_within(left, right, key_col="user_id", within="1 hour")
    name = run_to_memory(j, "ssj_click_purchase", output_mode="append",
                          shuffle_partitions=4)
    return spark.table(name)


_MARKOV_TRANS_CTE = """
    ord AS (SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_state
            FROM events),
    tr AS (SELECT event_type AS from_state, to_state, count(*) AS n
           FROM ord WHERE to_state IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT from_state, sum(n) AS tot FROM tr GROUP BY 1),
    p AS (SELECT from_state, to_state, CAST(n AS BIGINT) AS n, n / tot AS p
          FROM tr JOIN tot USING (from_state))
"""


@query(
    "markov_transitions_events",
    oracle=f"""
    WITH {_MARKOV_TRANS_CTE}
    SELECT from_state, to_state, n, round(p, 4) AS p FROM p
    """,
)
def markov_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user journey transition matrix (extension: behavioral
    analytics): p(next event_type | event_type) with deterministic
    (ts, event_id) ordering."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import transition_matrix

    t = transition_matrix(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )
    return t.select("from_state", "to_state", "n", F.round("p", 4).alias("p"))


def _markov_stationary_oracle(n_iter: int = 5) -> str:
    # mirror the operator's absorbing-state self-loops: a state with
    # no outgoing transitions keeps its mass instead of dropping it
    xs = [
        """st AS (SELECT DISTINCT from_state AS state FROM p
              UNION SELECT DISTINCT to_state FROM p),
    paug AS (SELECT from_state, to_state, p FROM p
             UNION ALL
             SELECT state, state, 1.0 FROM st
             WHERE state NOT IN (SELECT from_state FROM p)),
    x0 AS (SELECT state, 1.0 / (SELECT count(*) FROM st) AS prob FROM st)"""
    ]
    for k in range(1, n_iter + 1):
        xs.append(f"""
    x{k} AS (SELECT to_state AS state, sum(prob * paug.p) AS prob
             FROM x{k-1} JOIN paug ON x{k-1}.state = paug.from_state
             GROUP BY 1)""")
    return f"""
    WITH {_MARKOV_TRANS_CTE},
    {",".join(xs)}
    SELECT state, round(prob, 4) AS prob FROM x{n_iter}
    """


@query("markov_stationary_events", oracle=_markov_stationary_oracle())
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the journey chain via 5
    power-iteration steps (extension: iterative relational
    algorithms) — the PageRank shape over the transition table,
    oracle-replayed as chained CTEs."""
    from sparkobs.operators.state import stationary_distribution, transition_matrix

    t = transition_matrix(
        load_table(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )
    return stationary_distribution(t, n_iter=5)


@query(
    "funnel_events",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
           WHERE e.event_type = 'click' GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
           WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT CAST(1 AS INT) AS step, 'signup' AS event_type,
           (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_keys,
           CAST(NULL AS DOUBLE) AS conversion
    UNION ALL
    SELECT 2, 'click', (SELECT CAST(count(*) AS BIGINT) FROM s2),
           round((SELECT count(*) FROM s2) / (SELECT count(*) FROM s1), 4)
    UNION ALL
    SELECT 3, 'purchase', (SELECT CAST(count(*) AS BIGINT) FROM s3),
           round((SELECT count(*) FROM s3) / (SELECT count(*) FROM s2), 4)
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch ordered funnel (extension: behavioral analytics):
    signup → later click → later purchase, per-user anchored at each
    stage's earliest qualifying time."""
    from sparkobs.operators.behavior import funnel_steps

    return funnel_steps(
        load_table(spark, sf_dir, "events"), ["signup", "click", "purchase"]
    )


@query(
    "cohort_retention_events",
    oracle="""
    WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
               FROM events GROUP BY 1),
    a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period FROM events),
    j AS (SELECT f.cohort,
                 CAST(datediff('day', f.cohort, a.period) / 7 AS BIGINT) AS "offset",
                 a.user_id
          FROM a JOIN f USING (user_id)),
    cells AS (SELECT cohort, "offset", count(DISTINCT user_id) AS n_active
              FROM j GROUP BY 1, 2),
    sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1)
    SELECT CAST(cohort AS TIMESTAMP) AS cohort_start, "offset",
           CAST(n_active AS BIGINT) AS n_active,
           round(n_active / cohort_size, 4) AS retention
    FROM cells JOIN sz USING (cohort)
    """,
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (extension: behavioral
    analytics): users cohorted by first-event week, activity counted
    per week offset."""
    from sparkobs.operators.behavior import cohort_retention

    return cohort_retention(load_table(spark, sf_dir, "events"))


@query(
    "resample_locf_events",
    oracle="""
    WITH actual AS (SELECT event_type AS k, date_trunc('hour', ts) AS b,
                           round(avg(value), 4) AS v
                    FROM events GROUP BY 1, 2),
    spans AS (SELECT k, min(b) AS lo, max(b) AS hi FROM actual GROUP BY 1),
    spine AS (SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
              FROM spans),
    j AS (SELECT spine.k, spine.b, actual.v
          FROM spine LEFT JOIN actual USING (k, b))
    SELECT k AS event_type, b AS bucket_ts,
           last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           v IS NULL AS is_gap
    FROM j
    """,
)
def resample_locf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resampling with LOCF gap fill (extension: time series):
    per event_type, a full hourly spine between first and last
    activity with empty buckets carried forward and flagged."""
    from sparkobs.operators.behavior import resample_fill

    return resample_fill(
        load_table(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


@query(
    "fuzzy_match_supplier_customer",
    oracle="""
    WITH l AS (SELECT DISTINCT regexp_replace(s_name, '^Supplier#', '') AS lv
               FROM supplier),
    r AS (SELECT DISTINCT regexp_replace(c_name, '^Customer#', '') AS rv
          FROM customer),
    cand AS (SELECT lv, rv, levenshtein(lv, rv) AS dist
             FROM l JOIN r ON substr(lv, 1, 6) = substr(rv, 1, 6)
             WHERE levenshtein(lv, rv) <= 1),
    rk AS (SELECT lv, rv, dist,
                  row_number() OVER (PARTITION BY lv ORDER BY dist, rv) AS rn
           FROM cand)
    SELECT lv AS left_value, rv AS right_value, CAST(dist AS BIGINT) AS dist
    FROM rk WHERE rn = 1
    """,
)
def fuzzy_match_supplier_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching (extension: record linkage):
    supplier name suffixes matched to their closest customer suffix
    within edit distance 1, candidates pruned by a 6-char blocking
    equi-join."""
    from pyspark.sql import functions as F

    from sparkobs.operators.joins import fuzzy_best_match

    sup = load_table(spark, sf_dir, "supplier").select(
        F.regexp_replace("s_name", "^Supplier#", "").alias("sname")
    )
    cus = load_table(spark, sf_dir, "customer").select(
        F.regexp_replace("c_name", "^Customer#", "").alias("cname")
    )
    return fuzzy_best_match(sup, cus, "sname", "cname", block_len=6, max_dist=1)


@query(
    "session_stats_events",
    oracle="""
    WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                      lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS prev_us
               FROM events),
    m AS (SELECT user_id, event_id, us,
                 CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM o),
    s AS (SELECT user_id, us,
                 sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM m)
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(us) - min(us) AS BIGINT) AS duration_us
    FROM s GROUP BY 1, 2
    """,
)
def session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-rule sessionization (extension: behavioral analytics):
    30-minute-gap sessions per user with exact integer-microsecond
    durations."""
    from sparkobs.operators.behavior import session_stats

    return session_stats(load_table(spark, sf_dir, "events"))


# DuckDB replay of the curation pipeline's survivor sets (raw ->
# quality-kept -> exact-deduped -> near-dup-kept), shared verbatim by
# the curation_funnel_documents oracle and the
# funnel_pipeline_parity_documents twin (r13 swap-ledger #2
# successor) so the two certifications can never
# drift onto different pipeline semantics. Requires WITH RECURSIVE.
_CURATION_CTES = """
    raw AS (SELECT doc_id, text FROM documents),
    q AS (SELECT doc_id, text,
                 len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_unique,
                 len(list_filter(toks, x -> x in ('the', 'a'))) AS n_stop
          FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks
                FROM raw)),
    kept AS (SELECT doc_id, text FROM q
             WHERE round(least(1.0, n_tokens / 50.0) * 0.4
                         + (n_unique / n_tokens) * 0.4
                         + (1.0 - n_stop / n_tokens) * 0.2, 4) >= 0.6),
    ex_kept AS (SELECT min(doc_id) AS doc_id, text FROM kept GROUP BY text),
    toks2 AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM ex_kept),
    sh AS (SELECT doc_id,
                  CASE WHEN len(t) >= 3
                       THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                                                         i -> array_to_string(t[i:i+2], ' ')))
                       ELSE [array_to_string(t, ' ')] END AS s
           FROM toks2),
    exs AS (SELECT doc_id, unnest(s) AS sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS sz FROM exs GROUP BY 1),
    inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
              FROM exs a JOIN exs b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT ia AS id_a, ib AS id_b
              FROM inter JOIN sizes sa ON sa.doc_id = ia
                         JOIN sizes sb ON sb.doc_id = ib
              WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5),
    sym AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (SELECT u, v FROM sym
                    UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
    nodes AS (SELECT DISTINCT u FROM sym),
    allr AS (SELECT u, v FROM reach UNION SELECT u, u FROM nodes),
    comp AS (SELECT u AS doc_id, min(v) AS component FROM allr GROUP BY u),
    surv AS (SELECT e.doc_id FROM ex_kept e LEFT JOIN comp c USING (doc_id)
             WHERE c.component IS NULL OR c.component = e.doc_id)
"""


def _curation_stage_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The curation capstone's survivor frames — (raw, kept, ex_kept,
    surv) for quality filter → exact dedup → near-dup keep-one — each
    stage PINNED (recoverable persist) so downstream consumers of ONE
    call read materialized frames instead of re-running the pipeline
    once per branch (Catalyst reuses no subtree statically; the parity
    twin alone references them 6 times). Shared by
    ``curation_funnel_documents`` and the
    ``funnel_pipeline_parity_documents`` twin, the Spark-side mirror
    of the shared ``_CURATION_CTES`` oracle text: retuning the
    pipeline edits ONE function and ONE CTE string, so the two
    certifications cannot drift onto different semantics.

    DELIBERATELY NOT memoized across calls (an r14 build-round memo
    keyed on (applicationId, corpus dir) was removed in the r14
    optimization round): a cross-call memo keyed on the corpus dir
    let a bench's timed rep ride frames built in its warm-up rep —
    result caching, not computation. Every call rebuilds from the
    parquet inputs; the pins only serve the multiple consumers of the
    returned tuple within that call's query."""
    from pyspark.sql import functions as F

    from sparkobs.operators.dedup import (
        connected_components,
        exact_dedup,
        ngram_jaccard_pairs,
    )
    from sparkobs.operators.text import quality_score

    from sparkobs.io import pin_corpus_frame

    # the stage frames carry full document text (corpus-scale), so
    # the pins are recoverable DISK_ONLY persists, not
    # localCheckpoints — the r14 pin_corpus_frame policy (executor
    # loss recomputes from lineage instead of stranding the session's
    # memoized frames)
    raw = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = quality_score(raw, keep_cols=("text",))
    kept = pin_corpus_frame(
        scored.where(F.col("quality") >= 0.6).select("doc_id", "text")
    )
    ex_kept = pin_corpus_frame(
        exact_dedup(kept, ["text"]).select("doc_id", "text")
    )
    pairs = ngram_jaccard_pairs(ex_kept, n=3, threshold=0.5)
    comps = connected_components(pairs)
    dropped = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    surv = pin_corpus_frame(
        ex_kept.join(dropped, "doc_id", "left_anti").select("doc_id")
    )
    return (raw, kept, ex_kept, surv)


@query(
    "curation_funnel_documents",
    oracle="WITH RECURSIVE "
    + _CURATION_CTES
    + """,
    sp AS (SELECT doc_id,
                  ("""
    + _hex15_sql("md5(CAST(doc_id AS VARCHAR))")
    + """) % 100 AS b
           FROM surv)
    SELECT * FROM (
      SELECT CAST(1 AS INT) AS stage_idx, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs FROM raw
      UNION ALL SELECT 2, 'quality_kept', CAST(count(*) AS BIGINT) FROM kept
      UNION ALL SELECT 3, 'exact_deduped', CAST(count(*) AS BIGINT) FROM ex_kept
      UNION ALL SELECT 4, 'near_dup_kept', CAST(count(*) AS BIGINT) FROM surv
      UNION ALL SELECT 5, 'train', CAST(count(*) AS BIGINT) FROM sp WHERE b < 98
      UNION ALL SELECT 6, 'val', CAST(count(*) AS BIGINT) FROM sp WHERE b = 98
      UNION ALL SELECT 7, 'test', CAST(count(*) AS BIGINT) FROM sp WHERE b = 99
    )
    """,
)
def curation_funnel_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone corpus-curation funnel (extension: pipeline
    composition): quality filter → exact dedup → near-dup keep-one →
    train/val/test split, reported as per-stage surviving-document
    counts — the audit trail a production curation run ships with its
    output. Stage frames come checkpointed from
    ``_curation_stage_frames`` (see its docstring for the
    checkpoint-vs-lazy-subtree rationale; the row's remaining wall is
    the exact n-gram pair tier itself — the funnel exists to compose
    the exact tiers; the LSH tier is the scale swap). No driver-side
    counts, unlike funnel_steps."""
    from pyspark.sql import functions as F

    from sparkobs.operators.sampling import split_assign

    raw, kept, ex_kept, surv = _curation_stage_frames(spark, sf_dir)
    sp = split_assign(surv, "doc_id").localCheckpoint(eager=True)

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )

    out = stage(1, "raw", raw)
    for i, (name, d) in enumerate(
        [
            ("quality_kept", kept),
            ("exact_deduped", ex_kept),
            ("near_dup_kept", surv),
            ("train", sp.where(F.col("split") == "train")),
            ("val", sp.where(F.col("split") == "val")),
            ("test", sp.where(F.col("split") == "test")),
        ],
        start=2,
    ):
        out = out.unionByName(stage(i, name, d))
    return out


def _funnel_parity_oracle() -> str:
    """The oracle replays the ENTIRE contract independently: the
    curation pipeline's survivor sets via the same CTE text the
    certified ``curation_funnel_documents`` oracle uses (shared
    constant — the two certifications cannot drift apart), then the
    funnel arithmetic over the nested membership flags. Membership
    sets are nested (surv ⊆ ex_kept ⊆ kept ⊆ raw), so corpus-wide
    failing = n - c_k, marginal failing = c_{k-1} - c_k, and running
    survivors = c_k = the pipeline's own stage count."""
    return (
        "WITH RECURSIVE "
        + _CURATION_CTES
        + """,
    c AS (SELECT CAST((SELECT count(*) FROM raw) AS BIGINT) AS n,
                 CAST((SELECT count(*) FROM kept) AS BIGINT) AS c1,
                 CAST((SELECT count(*) FROM ex_kept) AS BIGINT) AS c2,
                 CAST((SELECT count(*) FROM surv) AS BIGINT) AS c3)
    SELECT 1 AS step, 'quality_kept' AS rule, n AS n_input,
           n - c1 AS n_failing, n - c1 AS n_failing_marginal,
           c1 AS n_survivors, c1 AS n_docs_pipeline FROM c
    UNION ALL SELECT 2, 'exact_survivor', n, n - c2, c1 - c2, c2, c2 FROM c
    UNION ALL SELECT 3, 'near_dup_survivor', n, n - c3, c2 - c3, c3, c3 FROM c
    """
    )


@query("funnel_pipeline_parity_documents", oracle=_funnel_parity_oracle())
def funnel_pipeline_parity_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Certification twin (r13 swap-ledger #2 successor, r12 verdict
    stretch 8; staged r13, promoted r14): run the EXT-152
    ``filter_funnel`` audit over the SAME pipeline
    ``curation_funnel_documents`` executes — per-doc membership flags
    in each stage's survivor set (quality-kept → exact-deduped →
    near-dup-kept, derived from the identical checkpointed stage
    frames the capstone builds) — and certify that the funnel's
    one-scan running-survivor arithmetic reproduces the capstone's
    per-stage audit counts exactly (``n_survivors ==
    n_docs_pipeline`` row by row). Two independent counting
    implementations of one contract: 3·k conditional sums over one
    flag scan vs per-stage direct aggregation over checkpointed
    frames. The flags are nested memberships, so the funnel's
    corpus-wide/marginal split is also pinned: corpus-wide failing ≡
    marginal-at-position + earlier-stage losses. The stage frames
    come from the SAME ``_curation_stage_frames`` helper the capstone
    calls (and the oracle from the same ``_CURATION_CTES`` text), so
    retuning the pipeline cannot drift the twin and the capstone
    apart on either engine side.

    Scale shape: the pipeline cost is the capstone's own (the exact
    n-gram tier is the certified-composition point; the LSH tier is
    the documented 100 TB swap); the funnel adds ONE scan over a
    3-boolean frame and the stage counts re-read eagerly checkpointed
    frames — no recomputation, no extra shuffle beyond three 1-row
    aggregates. Reference analogue: the reference ships per-monitor
    check counts (s3_key_monitor.py:141-220) but never cross-checks
    two audit paths; this entry makes the cross-check itself the
    certified value."""
    from sparkobs.operators.text import filter_funnel

    raw, kept, ex_kept, surv = _curation_stage_frames(spark, sf_dir)

    flags = (
        raw.select("doc_id")
        .join(
            kept.select("doc_id", F.lit(True).alias("q_kept")),
            "doc_id",
            "left",
        )
        .join(
            ex_kept.select("doc_id", F.lit(True).alias("x_kept")),
            "doc_id",
            "left",
        )
        .join(
            surv.select("doc_id", F.lit(True).alias("n_kept")),
            "doc_id",
            "left",
        )
    )
    funnel = filter_funnel(
        flags,
        [
            ("quality_kept", "q_kept"),
            ("exact_survivor", "x_kept"),
            ("near_dup_survivor", "n_kept"),
        ],
    )

    def stage_count(idx: int, d: DataFrame) -> DataFrame:
        return d.agg(
            F.lit(idx).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_docs_pipeline"),
        )

    stages = (
        stage_count(1, kept)
        .unionAll(stage_count(2, ex_kept))
        .unionAll(stage_count(3, surv))
    )
    return funnel.join(stages, "step").select(
        "step",
        "rule",
        "n_input",
        "n_failing",
        "n_failing_marginal",
        "n_survivors",
        "n_docs_pipeline",
    )


def _hll_grouped_oracle(group_col: str, col: str, table: str) -> str:
    from sparkobs.operators.profile import _HLL_ALPHA, _HLL_M

    m = _HLL_M
    num = repr(_HLL_ALPHA * m * m * 2**33)
    return f"""
    WITH h0 AS (SELECT {group_col} AS g, md5(CAST({col} AS VARCHAR)) AS dg
                FROM {table} WHERE {col} IS NOT NULL),
    h AS (SELECT g, {_hex15_sql('dg')} AS hv FROM h0),
    regs AS (SELECT g, hv % {m} AS bucket,
                    max(CASE WHEN (hv >> 8) % 4294967296 > 0
                             THEN 33 - length(bin((hv >> 8) % 4294967296))
                             ELSE 33 END) AS reg
             FROM h GROUP BY 1, 2),
    agg AS (SELECT g, count(*) AS n_present,
                   sum(CAST(1 AS BIGINT) << (33 - reg))
                   + ({m} - count(*)) * CAST(8589934592 AS BIGINT) AS s_total
            FROM regs GROUP BY 1),
    est AS (SELECT g,
                   round(CASE WHEN {num} / s_total <= {2.5 * m}
                               AND {m} - n_present > 0
                              THEN {float(m)} * ln({m} / ({m} - n_present))
                              ELSE {num} / s_total END, 2) AS est_distinct
            FROM agg),
    ex AS (SELECT {group_col} AS g, CAST(count(DISTINCT {col}) AS BIGINT) AS exact_distinct
           FROM {table} GROUP BY 1)
    SELECT est.g AS {group_col}, est_distinct, exact_distinct,
           round(abs(est_distinct - exact_distinct) / exact_distinct, 4) AS rel_err
    FROM est JOIN ex USING (g)
    """


@query(
    "hll_grouped_users_by_type",
    oracle=_hll_grouped_oracle("event_type", "user_id", "events"),
)
def hll_grouped_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group portable-HLL distinct sketches (extension: profiling):
    distinct users per event_type, estimate vs exact — the grouped
    register tables that roll up across time partitions by cellwise
    max."""
    from sparkobs.operators.profile import hll_grouped

    return hll_grouped(load_table(spark, sf_dir, "events"), ["event_type"], "user_id")


def _hist_quantiles_oracle(
    col: str, table: str, lo: float, hi: float, n_bins: int, qs: tuple
) -> str:
    width = (hi - lo) / n_bins
    arms = []
    for q in qs:
        arms.append(f"""
    SELECT CAST({q} AS DOUBLE) AS quantile,
           round({lo!r} + (bin + (ceil(CAST({q} AS DOUBLE) * total) - (cum - cnt)) / cnt)
                 * {width!r}, 4) AS est_value
    FROM cum WHERE cum >= ceil(CAST({q} AS DOUBLE) * total) ORDER BY bin LIMIT 1""")
    body = "\n    UNION ALL".join(f"(SELECT * FROM ({a}))" for a in arms)
    return f"""
    WITH v AS (SELECT CAST({col} AS DOUBLE) AS v FROM {table}
               WHERE {col} IS NOT NULL),
    hist AS (SELECT least({n_bins - 1},
                          greatest(0, CAST(floor((v - {lo!r}) / {width!r}) AS INT))) AS bin,
                    count(*) AS cnt
             FROM v GROUP BY 1),
    cum AS (SELECT bin, cnt,
                   sum(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER () AS total
            FROM hist)
    {body}
    """


@query(
    "hist_quantiles_lineitem",
    oracle=_hist_quantiles_oracle(
        "l_extendedprice", "lineitem", 900.0, 105000.0, 100, (0.25, 0.5, 0.75)
    ),
)
def hist_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable histogram-quantile sketch (extension: profiling): the
    third mergeable sketch next to HLL and CMS — fixed-bin counts →
    cumulative → in-bin interpolation, every step exact integer
    counting so the estimate certifies cross-engine (unlike
    percentile_approx's KLL internals)."""
    from sparkobs.operators.profile import histogram_quantiles

    return histogram_quantiles(
        load_table(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        900.0,
        105000.0,
        100,
        (0.25, 0.5, 0.75),
    )


@query(
    "group_sample_orders_by_status",
    oracle=f"""
    WITH h AS (SELECT o_orderkey, o_orderstatus,
                      {_hex15_sql("md5(CAST(o_orderkey AS VARCHAR))")} AS hv
               FROM orders),
    rk AS (SELECT o_orderkey, o_orderstatus,
                  row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY hv, o_orderkey) AS rn
           FROM h)
    SELECT o_orderkey, o_orderstatus FROM rk WHERE rn <= 50
    """,
)
def group_sample_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50 deterministic sample per order status (extension:
    sampling) — fixed-size per-group samples via salted hash rank,
    reservoir semantics without order-dependence."""
    from sparkobs.operators.sampling import group_hash_topk_sample

    return group_hash_topk_sample(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderstatus",
        "o_orderkey",
        50,
    )


@query(
    "shipping_priority_q3",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY 1, 3
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered
    customer⋈orders⋈lineitem, top-10 open orders by pending revenue.
    Dimension filter pushes to the customer scan; the two fact joins
    shuffle on the order key; the top-10 is TakeOrderedAndProject —
    per-partition heaps, never a global sort."""
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1995-03-15"
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1995-03-15"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("timestamp")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "returned_items_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, 5
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): which customers
    returned the most revenue. Returnflag filter pushes to the
    lineitem scan; nation broadcasts; top-20 via
    TakeOrderedAndProject."""
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "n_name", "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "audio_frame_rms_media",
    oracle="""
    WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                      octet_length(encode(text)) AS n
               FROM documents),
    fr AS (SELECT doc_id, h, n, unnest(range(0, 4)) AS frame_idx FROM b),
    r AS (SELECT doc_id, frame_idx,
                 round(sqrt(list_sum(list_transform(generate_series(1, 16),
                    j -> pow(CASE WHEN frame_idx * 16 + j <= n THEN
                            (strpos('0123456789ABCDEF', substr(h, 2*(frame_idx*16+j)-1, 1)) - 1) * 16
                            + (strpos('0123456789ABCDEF', substr(h, 2*(frame_idx*16+j), 1)) - 1)
                          ELSE 0 END - 128.0, 2))) / 16.0), 4) AS rms
          FROM fr)
    SELECT doc_id AS id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(16 AS INT) AS n_samples, rms
    FROM r
    """,
)
def audio_frame_rms_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio DSP through the driver contract (extension:
    multimodal): each document's first 64 bytes become the PCM payload
    of a valid u8/mono/8kHz WAV (fixed-size header built JVM-side as a
    binary literal), then the Arrow-batched kernel parses the RIFF
    container and computes per-16-sample-frame RMS. The oracle
    recomputes each frame from hex byte arithmetic — squared-integer
    sums are float64-exact, so the whole decode→frame→RMS path is
    value-hash-certified."""
    import struct

    from pyspark.sql import functions as F

    from sparkobs.operators.multimodal import audio_frame_features

    header = (
        b"RIFF"
        + struct.pack("<I", 36 + 64)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data"
        + struct.pack("<I", 64)
    )
    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit(header),
        F.substring(F.concat(F.encode("text", "UTF-8"), F.lit(bytes(64))), 1, 64),
    )
    media = docs.select(F.col("doc_id").alias("id"), payload.alias("content"))
    return audio_frame_features(media, frame_size=16)


_HASHED_VEC_CTES = f"""
    tok AS (SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS token
            FROM documents),
    hv AS (SELECT doc_id, {_hex15_sql('dg')} AS h
           FROM (SELECT doc_id, md5(token) AS dg FROM tok)),
    signed AS (SELECT doc_id, h % 64 AS dim_idx,
                      CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END AS s
               FROM hv),
    counts AS (SELECT doc_id, dim_idx, CAST(sum(s) AS BIGINT) AS c
               FROM signed GROUP BY 1, 2 HAVING sum(s) <> 0),
    norms AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
              FROM counts GROUP BY 1),
    vecs AS (SELECT counts.doc_id, dim_idx, c / nrm AS weight
             FROM counts JOIN norms USING (doc_id))
"""


@query(
    "hashed_vectors_documents",
    oracle=f"""
    WITH {_HASHED_VEC_CTES}
    SELECT doc_id, CAST(dim_idx AS INT) AS dim_idx,
           round(weight, 6) AS weight
    FROM vecs
    """,
)
def hashed_vectors_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed sparse document vectors (extension: text →
    vector bridge): signed hashing-trick counts, L2-normalized, long
    form — embeddings without a model, integer-exact and
    cross-engine-reproducible."""
    from pyspark.sql import functions as F

    from sparkobs.operators.similarity import hashed_tf_vectors

    return hashed_tf_vectors(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "dim_idx", F.round("weight", 6).alias("weight")
    )


# RETIRED (r10, per the r9 verdict's one perf-weak):
# sparse_cosine_pairs_documents ran the EXACT dim-join tier over the
# 31-token-vocabulary documents fixture, where every hashed dim (64)
# is dense — the plan is effectively all-pairs (measured 12.4 M
# candidate pairs, 48.4 s at sf0.1 = ~30% of all tail wall time) and
# goes quadratic at 100×. The exact tier's certification now lives on
# the power-law synth corpus (sparse_cosine_powerlaw_exact, Phase 10
# below), where the quadratic head term is the DOCUMENTED comparison
# leg for the absolute-cap prune rather than an accidental property of
# a degenerate fixture. EXT-57 is carried by the powerlaw pair +
# hashed_vectors_documents (the vector bridge stays registered).


# RETIRED (r9, per the r8 verdict's one `weak`):
# sparse_cosine_pairs_pruned_documents registered the df-prune tier
# with a RELATIVE median-df cap over the 31-token-vocabulary documents
# fixture, where the prune cannot bite (all 24 hashed dims dense) — it
# paid dedup + rescore ON TOP of the exact dim-join (79.4 s vs 46.8 s
# at sf0.1) and would go quadratic at 100×, contradicting the
# operator's own ABSOLUTE-cap guidance (similarity.py
# sparse_cosine_pairs docstring). The production tier's machinery AND
# its measured win now certify on a power-law-vocabulary corpus
# instead: sparse_cosine_powerlaw_exact / _pruned (queue → r10 gate),
# over synth_powerlaw_corpus, where the absolute cap bounds candidates
# at dim·cap²/2 and the bench shows pruned ≪ exact.


@query(
    "vocab_jsd_documents",
    oracle="""
    WITH ta AS (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '')) AS token
                FROM documents WHERE doc_id % 2 = 0),
    tb AS (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                     x -> x <> '')) AS token
           FROM documents WHERE doc_id % 2 = 1),
    ca AS (SELECT token, count(*) AS n FROM ta GROUP BY 1),
    cb AS (SELECT token, count(*) AS n FROM tb GROUP BY 1),
    pa AS (SELECT token, n / (SELECT sum(n) FROM ca) AS p FROM ca),
    pb AS (SELECT token, n / (SELECT sum(n) FROM cb) AS p FROM cb),
    j AS (SELECT coalesce(pa.p, 0.0) AS p, coalesce(pb.p, 0.0) AS q
          FROM pa FULL OUTER JOIN pb USING (token))
    SELECT CAST(count(*) AS BIGINT) AS vocab_union,
           CAST(sum(CASE WHEN p > 0 AND q > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_shared,
           round(sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END
                     + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END) / 2,
                 6) AS jsd_nats
    FROM j
    """,
)
def vocab_jsd_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between corpus versions (extension: drift):
    Jensen-Shannon divergence of the token mixes of the even- and
    odd-doc_id halves — the categorical companion to PSI."""
    from pyspark.sql import functions as F

    from sparkobs.operators.text import vocab_jsd

    docs = load_table(spark, sf_dir, "documents")
    return vocab_jsd(
        docs.where(F.col("doc_id") % 2 == 0), docs.where(F.col("doc_id") % 2 == 1)
    )


@query(
    "corr_matrix_lineitem",
    oracle="""
    SELECT * FROM (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
             round(corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)), 4) AS pearson
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_discount',
             round(corr(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)), 4)
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity', 'l_tax',
             round(corr(CAST(l_quantity AS DOUBLE), CAST(l_tax AS DOUBLE)), 4)
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount',
             round(corr(CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)), 4)
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax',
             round(corr(CAST(l_extendedprice AS DOUBLE), CAST(l_tax AS DOUBLE)), 4)
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', 'l_tax',
             round(corr(CAST(l_discount AS DOUBLE), CAST(l_tax AS DOUBLE)), 4)
      FROM lineitem
    )
    """,
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix over lineitem measures (extension:
    profiling) — all 6 coefficients in ONE aggregation pass."""
    from sparkobs.operators.profile import corr_matrix

    return corr_matrix(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@query(
    "contract_checks_orders",
    oracle="""
    SELECT * FROM (
      SELECT CAST(0 AS INT) AS check_idx, 'not_null' AS check_type,
             'o_orderkey' AS "column",
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
             sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
      FROM orders
      UNION ALL
      SELECT 1, 'unique', 'o_orderkey',
             CAST(coalesce((SELECT sum(c - 1) FROM
                    (SELECT count(*) AS c FROM orders
                     WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)), 0) AS BIGINT),
             coalesce((SELECT sum(c - 1) FROM
                    (SELECT count(*) AS c FROM orders
                     WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)), 0) = 0
      UNION ALL
      SELECT 2, 'accepted_values', 'o_orderstatus',
             CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O', 'F', 'P')
                           THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) = 0
      FROM orders
      UNION ALL
      SELECT 3, 'range', 'o_totalprice',
             CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 200000
                           THEN 1 ELSE 0 END) AS BIGINT),
             sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 200000
                      THEN 1 ELSE 0 END) = 0
      FROM orders
      UNION ALL
      SELECT 4, 'row_count_between', '',
             CAST(CASE WHEN count(*) BETWEEN 100 AND 100000000 THEN 0
                       WHEN count(*) < 100 THEN 100 - count(*)
                       ELSE count(*) - 100000000 END AS BIGINT),
             count(*) BETWEEN 100 AND 100000000
      FROM orders
    )
    """,
)
def contract_checks_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data contract over orders (extension: quality
    suites): nullability, key uniqueness, accepted statuses, a price
    range (intentionally tight — violation counts quantify the blast
    radius) and row-count bounds, evaluated in one shared agg pass +
    one uniqueness agg."""
    from sparkobs.operators.checks import run_checks

    return run_checks(
        load_table(spark, sf_dir, "orders"),
        [
            ("not_null", "o_orderkey"),
            ("unique", "o_orderkey"),
            ("accepted_values", "o_orderstatus", ("O", "F", "P")),
            ("range", "o_totalprice", 0, 200000),
            ("row_count_between", 100, 100000000),
        ],
    )


@query(
    "retention_purge_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id % 100 = 7 AS erased,
             user_id % 100 <> 7 AND ts < TIMESTAMP '2024-01-08 00:00:00' AS expired
      FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_input,
           CAST(sum(CASE WHEN erased THEN 1 ELSE 0 END) AS BIGINT) AS n_erased_key,
           CAST(sum(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
           CAST(sum(CASE WHEN NOT erased AND NOT expired THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM flagged
    """,
)
def retention_purge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance purge audit (extension: compliance): erase every
    event of the tombstoned users (user_id % 100 == 7 plays the
    right-to-be-forgotten list) and expire rows before the retention
    cutoff, in ONE conditional-aggregate pass — the audit row a
    deletion obligation requires. The kept frame (same single-pass
    plan) feeds downstream; the query certifies the audit counts."""
    from pyspark.sql import functions as F

    from sparkobs.operators.checks import retention_purge

    ev = load_table(spark, sf_dir, "events")
    tombs = ev.select("user_id").where(F.col("user_id") % 100 == 7)
    _, audit = retention_purge(
        ev, "user_id", tombstones=tombs, ts_col="ts",
        cutoff="2024-01-08 00:00:00",
    )
    return audit


@query(
    "join_size_lineitem_orders",
    oracle="""
    WITH lc AS (SELECT l_orderkey AS k, count(*) AS nl FROM lineitem GROUP BY 1),
    rc AS (SELECT o_orderkey AS k, count(*) AS nr FROM orders GROUP BY 1),
    contrib AS (SELECT lc.k, nl * nr AS rows_k FROM lc JOIN rc USING (k)),
    top AS (SELECT sum(rows_k) AS top_rows,
                   string_agg(CAST(k AS VARCHAR), ',' ORDER BY rows_k DESC, k) AS top_keys
            FROM (SELECT k, rows_k FROM contrib
                  ORDER BY rows_k DESC, k LIMIT 5)),
    tot AS (SELECT CAST(coalesce(sum(rows_k), 0) AS BIGINT) AS est_join_rows,
                   CAST(count(*) AS BIGINT) AS n_shared_keys
            FROM contrib)
    SELECT est_join_rows, n_shared_keys,
           CASE WHEN est_join_rows > 0
                THEN round(top_rows / est_join_rows, 4) ELSE 0.0 END AS top_key_share,
           coalesce(top_keys, '') AS top_keys
    FROM tot CROSS JOIN top
    """,
)
def join_size_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion diagnostic (extension: planning): the exact
    lineitem⋈orders output cardinality and its hottest-key
    concentration, computed from the two COUNT tables — never the
    data."""
    from sparkobs.operators.joins import join_size_diagnostic

    return join_size_diagnostic(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )


# ---------------------------------------------------------------------------
# Phase 10 — round-5 wave: OLAP breadth (TPC-H shapes, rollup/pivot/
# unpivot/rank), quality rules, entropy, distributed PCA, incremental
# aggregate maintenance, monitor-of-monitors.
# ---------------------------------------------------------------------------


@query(
    "local_supplier_volume_q5",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1997-01-01'
    GROUP BY n_name
    """,
)
def local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): 6-table star join with
    the customer-and-supplier-share-a-nation constraint. The three
    dimension tables broadcast (region filter prunes before the join);
    the two fact joins shuffle on the order key then the supp key —
    the revenue agg is partial+final on nation (25 groups)."""
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "forecast_revenue_q6",
    oracle="""
    SELECT round(coalesce(sum(l_extendedprice * l_discount), 0), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure scan-filter-agg —
    every predicate pushes to the parquet scan, no shuffle beyond the
    single partial+final global agg. The query Catalyst should turn
    into a one-stage footer-to-scalar plan."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_dir, "lineitem")
    return l.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.coalesce(F.sum(F.col("l_extendedprice") * F.col("l_discount")), F.lit(0.0)),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "late_shipment_priority_q4",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def late_shipment_priority_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking), adapted to this
    schema's columns: orders in a half-year window having at least one
    line item shipped more than 90 days after the order date, counted
    by priority. EXISTS = LEFT SEMI join (no row multiplication, no
    distinct): one shuffle on the order key, then a 5-group agg."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "promo_revenue_q14",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'
    """,
)
def promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): month-filtered lineitem
    joined to part, conditional-aggregate ratio. The part table
    broadcasts (it's a dimension); the month filter pushes to the fact
    scan, so the join input is ~1/80th of lineitem."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "large_orders_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(big.sum_qty, 2) AS sum_qty
    FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY 1
          HAVING sum(l_quantity) > 300) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def large_orders_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large volume customers): orders whose total
    quantity exceeds the threshold. The HAVING aggregate runs FIRST
    (partial+final on the order key) so the joins only see the
    handful of qualifying keys — never the full lineitem."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .where(F.col("__sq") > 300)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("__sq", 2).alias("sum_qty"),
        )
    )


@query(
    "rollup_revenue_region_nation",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           round(sum(s_acctbal), 2) AS total_acctbal,
           CAST(count(*) AS BIGINT) AS n_suppliers
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup_revenue_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (region → nation → grand
    total) in one pass — Catalyst's Expand operator emits the three
    grouping sets map-side, so the cube costs ONE shuffle, not three
    queries. NULL grouping levels are labeled 'ALL' for a stable
    cross-engine contract."""
    from pyspark.sql import functions as F

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "total_acctbal",
            "n_suppliers",
        )
    )


@query(
    "pivot_priority_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS urgent,
           CAST(count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS high,
           CAST(count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS medium,
           CAST(count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS not_specified,
           CAST(count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order counts by status × priority using the
    DataFrame pivot API with an EXPLICIT value list — no extra
    distinct-values job, deterministic column order, and the pivot
    compiles to the same single-pass conditional aggregation the
    oracle spells out."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", pri)
        .agg(F.count(F.lit(1)))
    )
    renames = dict(
        zip(pri, ["urgent", "high", "medium", "not_specified", "low"])
    )
    out = wide
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "o_orderstatus",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in renames.values()],
    )


@query(
    "unpivot_order_measures",
    oracle="""
    WITH agg AS (
      SELECT o_orderstatus,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(sum(o_totalprice), 2) AS sum_total,
             round(round(sum(o_totalprice), 4) / count(*), 4) AS mean_total
      FROM orders GROUP BY 1)
    SELECT o_orderstatus, 'n_orders' AS metric_name, n_orders AS value FROM agg
    UNION ALL
    SELECT o_orderstatus, 'sum_total', sum_total FROM agg
    UNION ALL
    SELECT o_orderstatus, 'mean_total', mean_total FROM agg
    """,
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): per-status order measures melted into the
    long-form (key, metric_name, value) metric-stream contract via
    ``stack`` — a pure projection after the one aggregation pass, no
    join, no union of re-scans (the oracle's UNION ALL re-reads the
    agg CTE three times; the engine reads it once)."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    # mean via the repo's stable round(round(sum,4)/n,4) convention:
    # round(avg,4) on 2-decimal money can land exactly on a .00005
    # boundary where a 1-ulp summation-order difference flips the
    # rounded digit across engines (see monitor_health)
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        F.round(
            F.round(F.sum("o_totalprice"), 4) / F.count(F.lit(1)), 4
        ).alias("mean_total"),
    )
    return agg.select(
        "o_orderstatus",
        F.expr(
            "stack(3, 'n_orders', n_orders, 'sum_total', sum_total,"
            " 'mean_total', mean_total) as (metric_name, value)"
        ),
    )


@query(
    "top_customers_per_nation",
    oracle="""
    SELECT n_name, c_name, round(c_acctbal, 2) AS acctbal,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT n_name, c_name, c_acctbal,
                 row_number() OVER (PARTITION BY n_name
                                    ORDER BY c_acctbal DESC, c_custkey) AS rnk
          FROM customer JOIN nation ON c_nationkey = n_nationkey)
    WHERE rnk <= 3
    """,
)
def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via ranking window with a deterministic
    tiebreak. rank<=K right after row_number compiles to
    WindowGroupLimit: each partition keeps a K-row heap per group
    BEFORE the shuffle, so the exchange moves ≤ K·groups rows, not
    the table."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "n_name",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query(
    "token_entropy_documents",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.t AS tok
      FROM documents,
           unnest(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS u(t)),
    c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_unique_tokens,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy_bits
    FROM c GROUP BY doc_id
    """,
)
def token_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (extension: text quality).
    H = log2(N) − Σc·log2(c)/N so one count pass suffices."""
    from sparkobs.operators.text import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


@query(
    "gopher_quality_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             len(toks) AS n,
             len(list_distinct(toks)) AS uniq,
             list_sum(list_transform(toks, x -> length(x))) AS chars,
             len(list_distinct(list_filter(toks, x -> x IN ('the', 'a')))) AS nstop
      FROM t)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_words,
           round(chars * 1.0 / n, 4) AS mean_word_len,
           round(uniq * 1.0 / n, 4) AS unique_frac,
           CAST(nstop AS BIGINT) AS n_distinct_stopwords,
           (n >= 50 AND n <= 100000) AS ok_n_words,
           (chars * 1.0 / n >= 3.0 AND chars * 1.0 / n <= 10.0) AS ok_mean_word_len,
           (uniq * 1.0 / n >= 0.2) AS ok_unique_frac,
           (nstop >= 2) AS ok_stopwords,
           ((n >= 50 AND n <= 100000)
            AND (chars * 1.0 / n >= 3.0 AND chars * 1.0 / n <= 10.0)
            AND (uniq * 1.0 / n >= 0.2)
            AND (nstop >= 2)) AS passes_gopher
    FROM s
    """,
)
def gopher_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality screen (extension: text quality; Rae et al.
    2021 §A1.1): four published document-quality rules evaluated as
    pure scan-side expressions — no shuffle, no UDF."""
    from sparkobs.operators.text import gopher_quality_flags

    return gopher_quality_flags(load_table(spark, sf_dir, "documents"))


@query(
    "gram_matrix_embeddings",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) AS INT) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings)
    SELECT a.i AS i, b.i AS j, round(sum(a.x * b.x), 4) AS dot
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def gram_matrix_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix of the embedding corpus (extension:
    linear algebra over embeddings): per-partition BLAS partials,
    O(partitions·dim²) shuffle — row count never crosses the wire.
    The oracle checks every upper-triangle cell value."""
    from sparkobs.operators.similarity import gram_matrix

    return gram_matrix(load_table(spark, sf_dir, "embeddings"))


@query("pca_project_embeddings")
def pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection (rows-only: eigendecomposition has no
    SQL twin; determinism is sign-fixed and unit-tested, and the
    gramian it derives from IS oracle-checked in
    gram_matrix_embeddings). Only the dim×dim gramian is collected."""
    from sparkobs.operators.similarity import pca_project

    return pca_project(load_table(spark, sf_dir, "embeddings"), n_components=2)


@query(
    "cdc_agg_maintain_events",
    oracle="""
    WITH eff AS (
      SELECT event_type,
             CASE WHEN event_id % 10 = 1 THEN value * 2 ELSE value END AS value
      FROM events
      WHERE (event_id % 10 < 7 AND event_id % 10 <> 3) OR event_id % 10 = 7)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 2) AS sum_value
    FROM eff GROUP BY 1
    """,
)
def cdc_agg_maintain_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (extension: materialized-view
    refresh): a per-type (count, sum) aggregate maintained from a CDC
    batch of inserts/deletes/updates WITHOUT rescanning the base. The
    oracle recomputes the post-change table from scratch — maintained
    ≡ recomputed is the correctness contract."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import cdc_agg_maintain

    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 10 < 7)
    base_agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value")
    )
    inserts = ev.where(F.col("event_id") % 10 == 7).select(
        "event_type",
        F.lit("insert").alias("op"),
        F.col("value"),
        F.lit(None).cast("double").alias("__old_value"),
    )
    deletes = ev.where(F.col("event_id") % 10 == 3).select(
        "event_type",
        F.lit("delete").alias("op"),
        F.col("value"),
        F.lit(None).cast("double").alias("__old_value"),
    )
    updates = ev.where(F.col("event_id") % 10 == 1).select(
        "event_type",
        F.lit("update").alias("op"),
        (F.col("value") * 2).alias("value"),
        F.col("value").alias("__old_value"),
    )
    changes = inserts.unionByName(deletes).unionByName(updates)
    return cdc_agg_maintain(base_agg, changes, ["event_type"])


@query(
    "monitor_health_events",
    oracle="""
    WITH h AS (
      SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS DOUBLE) AS m_row_count,
             round(round(sum(value), 4) / count(*), 4) AS m_mean_value,
             CAST(count(DISTINCT user_id) AS DOUBLE) AS m_distinct_actors
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT key, bucket_ts, 'row_count' AS metric_name, m_row_count AS value FROM h
      UNION ALL
      SELECT key, bucket_ts, 'mean_value', m_mean_value FROM h
      UNION ALL
      SELECT key, bucket_ts, 'distinct_actors', m_distinct_actors FROM h),
    scored AS (
      SELECT metric_name, key, bucket_ts, value,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS sd,
             count(value) OVER w AS n
      FROM s
      WINDOW w AS (PARTITION BY metric_name, key ORDER BY bucket_ts
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT metric_name, key, bucket_ts, value,
           round(CASE WHEN n >= 2 AND sd > 0 THEN (value - m) / sd END, 4) AS zscore,
           CASE WHEN n >= 2 AND sd > 0 THEN abs((value - m) / sd) > 2.0 END AS is_anomaly
    FROM scored
    """,
)
def monitor_health_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitor-of-monitors (ref databand_airflow_monitor.py:102-115
    analog): three per-hour metric series fanned out of ONE
    aggregation pass, stacked long-form, anomaly-screened per
    (metric, key) — a single lazy plan end to end."""
    from sparkobs.operators.state import monitor_health

    return monitor_health(
        load_table(spark, sf_dir, "events"),
        key_col="event_type",
        ts_col="ts",
        value_col="value",
        user_col="user_id",
    )


@query(
    "volume_shipping_q7",
    oracle="""
    SELECT supp_nation, cust_nation, yr,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
        AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01')
    GROUP BY 1, 2, 3
    """,
)
def volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade between two
    nations by ship year. Both nation legs broadcast (the pair filter
    prunes them to 2 rows each BEFORE the join); the OR-pair predicate
    evaluates post-join on two dictionary columns — no plan blowup."""
    from pyspark.sql import functions as F

    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pair = ("NATION_2", "NATION_7")
    n1 = (
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    )
    return (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("yr"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "customer_distribution_q13",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY 1)
    GROUP BY c_count
    """,
)
def customer_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order distribution): outer join so
    zero-order customers survive with count 0, then a histogram of the
    per-customer counts — two cheap aggs on top of one shuffle join."""
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "small_qty_revenue_q17",
    oracle="""
    WITH pa AS (SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS lim
                FROM lineitem GROUP BY 1)
    SELECT round(coalesce(sum(l_extendedprice), 0) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#2' AND l_quantity < lim
    """,
)
def small_qty_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    per-part average becomes a pre-aggregated (part → 0.2·avg) side
    joined back to lineitem — one extra hash agg instead of a
    re-executed subquery per row. BOTH legs derive from the same
    Brand-filtered ``lineitem ⋈ broadcast(part)`` frame, so the
    pre-aggregate only ever shuffles the ~1/|brands| of lineitem that
    can match — Catalyst cannot push the brand filter through the
    aggregate by itself, and an unfiltered per-part average is a full
    lineitem shuffle at 100 TB (the oracle's unfiltered CTE computes
    identical averages for the surviving parts, so results agree).
    Quantities are integer-valued, so the sum/n/×0.2 chain is
    bit-identical across engines and the strict < comparison cannot
    straddle an ulp."""
    from pyspark.sql import functions as F

    from pyspark.sql import Window as W

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#2")
    lp = l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    # the per-part average rides a WINDOW over the same frame instead
    # of a re-aggregated self-join: ONE lineitem scan, ONE partkey
    # shuffle (the static plan otherwise scans lineitem twice — no
    # exchange reuse fires for the two legs)
    lim = 0.2 * F.avg("l_quantity").over(W.partitionBy("l_partkey"))
    return (
        lp.withColumn("lim", lim)
        .where(F.col("l_quantity") < F.col("lim"))
        .agg(
            F.round(
                F.coalesce(F.sum("l_extendedprice"), F.lit(0.0)) / 7.0, 2
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "global_sales_opportunity_q22",
    oracle="""
    WITH avg_bal AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
    eligible AS (
      SELECT c_custkey, c_nationkey, c_acctbal
      FROM customer, avg_bal
      WHERE c_acctbal > ab
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT'))
    SELECT CAST(c_nationkey AS INT) AS nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM eligible GROUP BY 1
    """,
)
def global_sales_opportunity_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted: above-
    average-balance customers with no urgent orders, by nation. The
    scalar average is a 1-row broadcast cross join (evaluated once,
    inlined into the filter); NOT EXISTS is a LEFT ANTI join."""
    from pyspark.sql import functions as F

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__ab"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "streaming_monitor_health_events",
    oracle="""
    WITH h AS (
      SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS DOUBLE) AS m_row_count,
             round(round(sum(round(value, 4)), 4) / count(*), 4) AS m_mean_value
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT key, bucket_ts, 'row_count' AS metric_name, m_row_count AS value FROM h
      UNION ALL
      SELECT key, bucket_ts, 'mean_value', m_mean_value FROM h),
    scored AS (
      SELECT metric_name, key, bucket_ts, value,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS sd,
             count(value) OVER w AS n
      FROM s
      WINDOW w AS (PARTITION BY metric_name, key ORDER BY bucket_ts
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT metric_name, key, bucket_ts, value,
           round(CASE WHEN n >= 2 AND sd > 0 THEN (value - m) / sd END, 4) AS zscore,
           CASE WHEN n >= 2 AND sd > 0 THEN abs((value - m) / sd) > 2.0 END AS is_anomaly
    FROM scored
    """,
)
def streaming_monitor_health_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of monitor_health_events: the metric series are
    COLLECTED BY A STREAM (watermarked hourly agg over the file
    micro-batch source, complete mode into a memory sink), then the
    anomaly screen runs as a batch window over the drained series —
    the lambda-free shape for "monitor the monitors" where collection
    is continuous and scoring is a cheap follow-up query. Both sides
    round values at ingest (symmetric no-op on the 2-decimal parquet
    doubles) so the series are bit-identical."""
    from pyspark.sql import functions as F

    from sparkobs.operators.state import metric_anomalies
    from sparkobs.streaming.monitors import (
        _event_time,
        _to_ntz,
        run_to_memory,
        stream_events,
    )

    stage_dir = _stage_events(spark, sf_dir)
    ev = _event_time(stream_events(spark, stage_dir))
    hourly = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(
            F.col("event_type").alias("key"),
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("m_row_count"),
            F.round(
                F.round(F.sum(F.round("value", 4)), 4) / F.count(F.lit(1)), 4
            ).alias("m_mean_value"),
        )
    )
    tbl = run_to_memory(
        hourly, "monitor_health_stream", output_mode="complete",
        shuffle_partitions=4,
    )
    series = spark.table(tbl).select(
        "key",
        _to_ntz("w.start").alias("bucket_ts"),
        F.expr(
            "stack(2, 'row_count', m_row_count, 'mean_value', m_mean_value)"
            " as (metric_name, value)"
        ),
    )
    return metric_anomalies(
        series, ["metric_name", "key"], ts_col="bucket_ts", value_col="value"
    ).select("metric_name", "key", "bucket_ts", "value", "zscore", "is_anomaly")


@query("bpe_merges_batched_documents")
def bpe_merges_batched_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (rows-only: the batched merge ORDER is the
    engine's own scale contract — symbol-disjoint top-B per driver
    round — with no tractable SQL twin; the B=1 sequential mode IS
    oracle-certified in bpe_merges_documents, and batched-vs-
    sequential equivalence on disjoint corpora is unit-tested)."""
    from sparkobs.operators.bpe import bpe_train

    return bpe_train(
        load_table(spark, sf_dir, "documents"), n_merges=6, batch_size=3
    )


# ---------------------------------------------------------------------------
# Phase r6 — promoted from the round-6 queue (OLAP Q8/Q15, statistical
# profiling, featurization, reconciliation, corpus budgeting)
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402  (section-level: the
# r6 wave uses module-level F in oracle helpers and closures)


@query(
    "market_share_q8",
    oracle="""
    SELECT yr,
           round(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share,
           round(sum(volume), 2) AS total_volume
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             n1.n_name AS supp_nation,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01')
    GROUP BY yr
    """,
)
def market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of a
    region's import volume by order year — conditional-sum ratio over
    a 6-table star join, nation/region legs broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_regionkey").alias("rk2")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # ASIA semi-reduction FIRST: region[ASIA] ⋈ nation is a handful of
    # rows; joining customer against its broadcast prunes ~80% of
    # customers BEFORE any fact join, so the supplier join (the widest
    # remaining shuffle) sees ~1/5 the rows. CBO is off, so Catalyst
    # will not reorder inner joins — the plan order here IS the
    # execution order at 100 TB.
    c_asia = c.join(
        F.broadcast(n2.join(F.broadcast(r), F.col("rk2") == F.col("r_regionkey"))),
        F.col("c_nationkey") == F.col("nk2"),
    ).select("c_custkey")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c_asia, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
    )


@query(
    "top_supplier_q15",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS sk,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON s_suppkey = sk
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarter revenue per supplier,
    keep the maximum-revenue supplier(s). The max is a 1-row broadcast
    (no collect, no second scan of lineitem — the revenue agg is
    reused for both the max and the filter legs)."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    # materialized once (eager checkpoint, supplier-sized): the max
    # leg and the filter leg otherwise EACH re-scan lineitem — the
    # static plan has no exchange reuse across the two references
    rev = l.groupBy(F.col("l_suppkey").alias("sk")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    ).localCheckpoint(eager=True)
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("__mx"))
        .join(s, F.col("s_suppkey") == F.col("sk"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "zipf_fit_documents",
    oracle="""
    WITH counts AS (
      SELECT t.tok, count(*) AS freq
      FROM (SELECT u.t AS tok
            FROM documents,
                 unnest(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS u(t)) t
      GROUP BY 1 HAVING count(*) >= 2),
    ranked AS (
      SELECT tok, freq,
             row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
      FROM counts)
    SELECT round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
           CAST(count(*) AS BIGINT) AS vocab_size,
           min_by(tok, rank) AS top_token,
           CAST(max(freq) AS BIGINT) AS top_freq
    FROM ranked
    """,
)
def zipf_fit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf-law fit (extension: corpus health)."""
    from sparkobs.operators.text import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"))


@query(
    "minmax_norm_events_by_type",
    oracle="""
    SELECT event_type, event_id, value,
           round(CASE WHEN mx > mn THEN (value - mn) / (mx - mn) ELSE 0.0 END, 4)
             AS v_norm,
           round(mn, 4) AS g_min,
           round(mx, 4) AS g_max
    FROM (SELECT event_type, event_id, value,
                 min(value) OVER (PARTITION BY event_type) AS mn,
                 max(value) OVER (PARTITION BY event_type) AS mx
          FROM events)
    """,
)
def minmax_norm_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max normalization (extension: featurization)."""
    from sparkobs.operators.features import group_minmax_norm

    return group_minmax_norm(
        load_table(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        keep_cols=["event_id"],
    )


@query(
    "hist2d_hour_value_events",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS x,
           CAST(least(greatest(CAST(floor(value / 60.0) AS INT), 0), 9) AS BIGINT)
             AS y_bin,
           round(CAST(least(greatest(CAST(floor(value / 60.0) AS INT), 0), 9) * 60.0 AS DOUBLE), 4)
             AS y_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2, 3
    """,
)
def hist2d_hour_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D heatmap histogram: hour-of-day x value band (extension:
    profiling)."""
    from sparkobs.operators.profile import histogram2d

    return histogram2d(
        load_table(spark, sf_dir, "events"),
        F.hour("ts").cast("int"),
        "value",
        y_lo=0.0,
        y_hi=600.0,
        y_bins=10,
    )


@query(
    "chi_square_events_type_hour",
    oracle="""
    WITH cells AS (
      SELECT event_type AS a, hour(ts) AS b, CAST(count(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2),
    ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
    cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
    nt AS (SELECT sum(o) AS n, count(*) AS n_cells FROM cells)
    SELECT round(sum((o - ra * cb / n) * (o - ra * cb / n) / (ra * cb / n))
                 + CASE WHEN max(n_cells) = count(DISTINCT a) * count(DISTINCT b)
                        THEN 0.0 ELSE max(n) - sum(ra * cb / n) END, 4)
             AS chi2,
           CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT) AS dof,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(n_cells) AS BIGINT) AS n_cells
    FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nt
    """,
)
def chi_square_events_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence of event_type x hour-of-day
    (extension: statistical profiling)."""
    from sparkobs.operators.profile import chi_square_independence

    return chi_square_independence(
        load_table(spark, sf_dir, "events"), F.col("event_type"), F.hour("ts")
    )


_hex15 = _hex15_sql


@query(
    "debounce_events_user_type",
    oracle="""
    SELECT event_id, user_id, event_type, ts, round(value, 4) AS value
    FROM (
      SELECT event_id, user_id, event_type, ts, value,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events)
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) >= 600 * 1000000
    """,
)
def debounce_events_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst debounce (extension: event hygiene): keep only the first
    event of each (user, type) burst under a 10-minute gap rule."""
    from sparkobs.operators.behavior import debounce_first_of_burst

    ev = load_table(spark, sf_dir, "events")
    out = debounce_first_of_burst(
        ev, ["user_id", "event_type"], "ts", "event_id", gap_seconds=600
    )
    return out.select(
        "event_id", "user_id", "event_type", "ts", F.round("value", 4).alias("value")
    )


@query(
    "gini_user_activity_events",
    oracle="""
    WITH freq AS (SELECT user_id, count(*) AS freq FROM events GROUP BY 1),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq ASC, user_id ASC) AS i
      FROM freq)
    SELECT round(2.0 * sum(i * freq) / (count(*) * sum(freq))
                 - (count(*) + 1.0) / count(*), 4) AS gini,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(freq) AS BIGINT) AS n_rows,
           CAST(max(freq) AS BIGINT) AS max_freq
    FROM ranked
    """,
)
def gini_user_activity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event concentration (extension:
    skew diagnostics)."""
    from sparkobs.operators.profile import gini_concentration

    return gini_concentration(load_table(spark, sf_dir, "events"), "user_id")


@query(
    "mad_events_by_type",
    oracle="""
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 4) AS median_val
      FROM events GROUP BY 1)
    SELECT e.event_type, max(m.median_val) AS median_val,
           round(quantile_cont(abs(e.value - m.median_val), 0.5), 4) AS mad,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY 1
    """,
)
def mad_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type (extension: robust
    statistics)."""
    from sparkobs.operators.profile import grouped_mad

    return grouped_mad(load_table(spark, sf_dir, "events"), ["event_type"], "value")


@query(
    "bigram_pmi_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS tk
      FROM documents),
    bi AS (
      SELECT u.p.lhs AS lhs, u.p.rhs AS rhs, count(*) AS c_ab
      FROM (SELECT list_zip(tk[1:len(tk)-1], tk[2:len(tk)]) AS ps FROM toks
            WHERE len(tk) >= 2) z,
           unnest(list_transform(ps, q -> {'lhs': q[1], 'rhs': q[2]})) AS u(p)
      GROUP BY 1, 2 HAVING count(*) >= 5),
    uni AS (
      SELECT u.t AS tok, count(*) AS c
      FROM toks, unnest(tk) AS u(t) GROUP BY 1),
    tot AS (
      SELECT (SELECT sum(c) FROM uni) AS n_uni,
             (SELECT sum(greatest(len(tk) - 1, 0)) FROM toks) AS n_bi)
    SELECT lhs, rhs, CAST(c_ab AS BIGINT) AS c_ab,
           round(ln(c_ab * n_uni * n_uni
                    / (n_bi * ua.c * ub.c)), 4) AS pmi
    FROM bi
    JOIN uni ua ON ua.tok = lhs
    JOIN uni ub ON ub.tok = rhs
    CROSS JOIN tot
    ORDER BY pmi DESC, lhs ASC, rhs ASC
    LIMIT 20
    """,
)
def bigram_pmi_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by PMI over adjacent token pairs
    (extension: phrase mining)."""
    from sparkobs.operators.text import bigram_pmi

    return bigram_pmi(load_table(spark, sf_dir, "documents"), k=20, min_count=5)


@query(
    "weighted_sample_documents",
    oracle=f"""
    SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
           round(pow(u, 1.0 / n_chars), 10) AS score
    FROM (
      SELECT doc_id, n_chars,
             ({_hex15("md5('ws' || CAST(doc_id AS VARCHAR))")} + 1.0)
               / (power(16, 15) + 2) AS u
      FROM documents)
    ORDER BY score DESC, doc_id ASC
    LIMIT 50
    """,
)
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted sample of 50 docs by
    length (extension: weighted sampling)."""
    from sparkobs.operators.sampling import weighted_sample

    return weighted_sample(
        load_table(spark, sf_dir, "documents"), "n_chars", k=50
    )


def _merkle_side_sql(pred: str, tag: str) -> str:
    """DuckDB bucket summary over orders rows matching ``pred`` —
    md5-portable twin of state.merkle_bucket_summary(hash_fn='md5')."""
    key_h = _hex15("md5(CAST(o_orderkey AS VARCHAR))")
    row_h = _hex15(
        "md5(CAST(o_orderkey AS VARCHAR) || chr(31) || "
        "CAST(o_orderstatus AS VARCHAR) || chr(31) || "
        "CAST(round(o_totalprice, 2) AS VARCHAR))"
    )
    return f"""
      SELECT ({key_h}) % 64 AS bucket,
             count(*) AS n_{tag},
             bit_xor({row_h}) AS sig_{tag}
      FROM (SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE {pred})
      GROUP BY 1"""


@query(
    "merkle_diff_orders",
    oracle=f"""
    WITH a AS ({_merkle_side_sql("o_orderkey % 100 <> 1", "old")}),
    b AS ({_merkle_side_sql("o_orderkey % 100 <> 0", "new")})
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
           CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
    FROM a FULL OUTER JOIN b USING (bucket)
    WHERE coalesce(sig_old <> sig_new, TRUE)
       OR coalesce(n_old, 0) <> coalesce(n_new, 0)
    """,
)
def merkle_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy bucket diff (extension: table
    reconciliation at scale): two order snapshots exchange 64 bucket
    signatures; only buckets whose XOR-of-row-hashes or count differs
    need row-level diffing. md5-portable hash mode so the decision is
    engine-reproducible bit for bit."""
    from sparkobs.operators.state import merkle_diff

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    old = o.where(F.col("o_orderkey") % 100 != 1)
    new = o.where(F.col("o_orderkey") % 100 != 0)
    return merkle_diff(
        old,
        new,
        ["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
        n_buckets=64,
        hash_fn="md5",
    )


@query(
    "ks_drift_events_halves",
    oracle="""
    WITH a AS (
      SELECT least(greatest(CAST(floor(value / 6.0) AS INT), 0), 99) AS bin,
             count(*) AS c_a
      FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
    b AS (
      SELECT least(greatest(CAST(floor(value / 6.0) AS INT), 0), 99) AS bin,
             count(*) AS c_b
      FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
    cells AS (
      SELECT coalesce(a.bin, b.bin) AS bin,
             coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
      FROM a FULL OUTER JOIN b ON a.bin = b.bin),
    tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM cells),
    cdfs AS (
      SELECT sum(c_a) OVER (ORDER BY bin) * 1.0 / n_a AS cdf_a,
             sum(c_b) OVER (ORDER BY bin) * 1.0 / n_b AS cdf_b,
             n_a, n_b
      FROM cells CROSS JOIN tot)
    SELECT round(max(abs(cdf_a - cdf_b)), 4) AS ks_d,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b
    FROM cdfs
    """,
)
def ks_drift_events_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov distance between the even
    and odd event halves (extension: distribution-shift testing, the
    exact-up-to-bin-width companion of PSI)."""
    from pyspark.sql import functions as F_  # noqa: F401

    from sparkobs.operators.profile import ks_drift_binned

    ev = load_table(spark, sf_dir, "events")
    return ks_drift_binned(
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
        "value",
        lo=0.0,
        hi=600.0,
        n_bins=100,
    )


@query(
    "target_encode_events_type",
    oracle="""
    WITH agg AS (
      SELECT event_type, round(sum(value), 4) AS s, count(value) AS n
      FROM events GROUP BY 1)
    SELECT e.event_type, e.event_id, e.value,
           CASE WHEN n > 1 THEN (s - e.value) / (n - 1) END AS te_loo,
           CAST(n AS BIGINT) AS cat_n
    FROM events e JOIN agg USING (event_type)
    """,
)
def target_encode_events_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type by value
    (extension: leakage-safe ML featurization)."""
    from sparkobs.operators.features import target_encode_loo

    return target_encode_loo(
        load_table(spark, sf_dir, "events"),
        "event_type",
        "value",
        keep_cols=["event_id"],
    )


@query(
    "vocab_segments_documents",
    oracle="""
    WITH counts AS (
      SELECT u.t AS tok, count(*) AS freq
      FROM documents,
           unnest(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS u(t)
      GROUP BY 1),
    tot AS (SELECT sum(freq) AS tt FROM counts),
    ranked AS (
      SELECT freq,
             sum(freq) OVER (ORDER BY freq DESC, tok ASC) * 1.0 / tt AS cum_share,
             tt
      FROM counts CROSS JOIN tot)
    SELECT CASE WHEN cum_share <= 0.5 THEN 'head'
                WHEN cum_share <= 0.9 THEN 'torso'
                ELSE 'tail' END AS segment,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(freq) AS BIGINT) AS occurrences,
           round(sum(freq) * 1.0 / max(tt), 4) AS share
    FROM ranked GROUP BY 1
    """,
)
def vocab_segments_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/torso/tail vocabulary segmentation by cumulative frequency
    share (extension: corpus budgeting)."""
    from sparkobs.operators.text import vocab_segments

    return vocab_segments(load_table(spark, sf_dir, "documents"))


@query(
    "compaction_plan_sf_dir",
    oracle="""
    WITH l AS (SELECT 'file:' || filename AS path, CAST(size AS BIGINT) AS length
               FROM read_blob('{SF_DIR}/*')),
    cum AS (SELECT path, length,
                   sum(length) OVER (ORDER BY path) AS c
            FROM l)
    SELECT CAST(floor((c - length) / 2000000.0) AS BIGINT) AS group_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(length) AS BIGINT) AS total_bytes,
           min(path) AS first_path,
           max(path) AS last_path
    FROM cum GROUP BY 1
    """,
)
def compaction_plan_sf_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan over the data directory's listing
    (extension: lake maintenance): ~2 MB merge groups in path order,
    planned with the distributed prefix sum. DuckDB stats the same
    files via read_blob, so the plan is value-checked end to end."""
    from sparkobs.sources.listing import compaction_plan, list_files

    return compaction_plan(
        list_files(spark, sf_dir).select("path", "length"),
        target_bytes=2_000_000,
    )


@query(
    "robust_outliers_events",
    oracle="""
    WITH med AS (
      SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
      FROM events GROUP BY 1),
    mad AS (
      SELECT e.event_type,
             max(m.med) AS med,
             round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
      FROM events e JOIN med m USING (event_type) GROUP BY 1)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN mad > 0
                         AND abs(e.value - m.med) / (1.4826 * mad) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           max(m.med) AS med,
           max(m.mad) AS mad
    FROM events e JOIN mad m USING (event_type)
    GROUP BY 1
    """,
)
def robust_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (MAD-based) outlier counts per event type (extension:
    outlier-insensitive monitoring — the consistent-estimator z-score
    |v − median| / (1.4826·MAD) > 3.5, immune to the outliers it
    hunts, unlike mean/stddev z-scores)."""
    from pyspark.sql import functions as F_  # noqa: F401

    from sparkobs.operators.profile import grouped_mad

    ev = load_table(spark, sf_dir, "events")
    mad = grouped_mad(ev, ["event_type"], "value")
    j = ev.join(F.broadcast(mad), "event_type")
    is_out = (F.col("mad") > 0) & (
        F.abs(F.col("value") - F.col("median_val")) / (1.4826 * F.col("mad")) > 3.5
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_out.cast("long")).alias("n_outliers"),
        F.max("median_val").alias("med"),
        F.max("mad").alias("mad"),
    )


@query(
    "top_event_trigrams",
    oracle="""
    WITH seq AS (
      SELECT event_type AS s0,
             lead(event_type, 1) OVER w AS s1,
             lead(event_type, 2) OVER w AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT s0 || '>' || s1 || '>' || s2 AS ngram,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM seq WHERE s2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_occurrences DESC, ngram ASC
    LIMIT 20
    """,
)
def top_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step user journeys (extension: behavioral n-gram
    mining via per-key lead windows — no journey collect)."""
    from sparkobs.operators.behavior import top_event_ngrams

    return top_event_ngrams(load_table(spark, sf_dir, "events"), n=3, k=20)


@query(
    "percent_rank_orders_by_status",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice,
           percent_rank() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS pr,
           cume_dist() OVER (PARTITION BY o_orderstatus
                             ORDER BY o_totalprice, o_orderkey) AS cd
    FROM orders
    """,
)
def percent_rank_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic ranking coverage: percent_rank + cume_dist per status
    with a deterministic tiebreak (extension: window-function breadth
    — the relative-standing view of each order within its status)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        # deliberately UNROUNDED: (rank−1)/(n−1) and rank/n are single
        # divisions of identical integers — bit-identical across
        # engines, while rounding diverges when a power-of-two group
        # size puts the exact value on a rounding boundary
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "mutual_info_events_type_hour",
    oracle="""
    WITH cells AS (
      SELECT event_type AS a, hour(ts) AS b, CAST(count(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2),
    ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
    cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
    nt AS (SELECT sum(o) AS n FROM cells),
    mi AS (
      SELECT round(sum((o / n) * ln(o * n / (ra * cb))), 4) AS mi_nats
      FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nt),
    ha AS (SELECT round(sum(-(ra / n) * ln(ra / n)), 4) AS h_a
           FROM ra CROSS JOIN nt),
    hb AS (SELECT round(sum(-(cb / n) * ln(cb / n)), 4) AS h_b
           FROM cb CROSS JOIN nt)
    SELECT mi_nats, h_a, h_b,
           CASE WHEN least(h_a, h_b) > 0
                THEN round(mi_nats / least(h_a, h_b), 4)
                ELSE 0.0 END AS mi_normalized
    FROM mi CROSS JOIN ha CROSS JOIN hb
    """,
)
def mutual_info_events_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day
    (extension: dependence effect size, the bits behind the chi-square
    verdict)."""
    from sparkobs.operators.profile import mutual_information

    return mutual_information(
        load_table(spark, sf_dir, "events"), F.col("event_type"), F.hour("ts")
    )


# ---------------------------------------------------------------------------
# Phase r6b — certification twins: oracle coverage for formerly rows-only
# entries (VERDICT r5 "Next round" #2) + compaction plan EXECUTION
# ---------------------------------------------------------------------------


# TOMBSTONE (r13): minhash_xx64_parity_documents RETIRED — swap-ledger
# entry #2 (SURVEY §2.11), the slot staged to the funnel↔pipeline
# certification twin. It certified that the
# production xxhash64 MinHash tier emits exactly the verified pair
# set of the portable md5 tier (n_sym_diff = 0, driver-green r7-r12
# at sf0.01). Its claim now has THREE carriers without a gate slot,
# scoped HONESTLY by a discovery made during this retirement:
# pair-set equality between the tiers is EMPIRICAL-PER-CORPUS, not a
# theorem — both tiers are precision-exact (the verify stage computes
# exact jaccard), but banding RECALL for mid-band pairs depends on
# the signature hash, and the md5 tier's Kirsch-Mitzenmacher dims
# (all 32 linear in one digest's halves, dedup.py
# _signature_frame) are correlated: on the sf0.001 corpus it
# misses two true j≥0.91 pairs the 32-independent-seed xx64 tier
# catches. Carriers:
#   tests/test_dedup_similarity.py::
#     test_minhash_xx64_md5_pair_parity_gate_corpus   (sf0.01 equality,
#       the exact fact the registry twin certified, deterministic)
#     test_minhash_md5_km_correlation_recall_gap_sf0001 (the measured
#       one-sided recall gap, pinned pair-by-pair)
#   tests/test_properties.py::
#     test_minhash_tier_pair_set_equality_deterministic_regime
#       (hypothesis: equality as a THEOREM on identical-or-disjoint
#       shingle-set corpora)
# The rows-only engine-tier entry `minhash_lsh_pairs_xx64` keeps its
# driver witness. Same retirement discipline as
# sparse_cosine_powerlaw_exact (r11) and near_dup_groups_documents
# (r12).


@query(
    "bpe_batched_parity_documents",
    oracle="""
    SELECT CAST(6 AS BIGINT) AS n_merges_seq,
           CAST(6 AS BIGINT) AS n_merges_batched,
           CAST(0 AS BIGINT) AS n_set_mismatch
    """,
)
def bpe_batched_parity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification twin for bpe_merges_batched_documents (formerly
    rows-only): train the SAME vocabulary sequentially (batch_size=1,
    the mode oracle-certified in bpe_merges_documents) and batched
    (batch_size=3, the scale mode), then emit the merge-TABLE
    set difference — (lhs, rhs, merged, pair_freq) must agree merge
    for merge; only the step ORDER within a batch round may permute,
    which is exactly the batching contract. Scalar contract row:
    (6, 6, 0)."""
    from pyspark.sql import functions as F

    from sparkobs.operators.bpe import bpe_train, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    # both trainings are pure functions of the word-frequency table —
    # build it once (one corpus scan, not one per training run) and
    # hand the checkpointed frame to both (r14 guide §2.4)
    wf = word_frequencies(docs).localCheckpoint(eager=True)
    cols = ["lhs", "rhs", "merged", "pair_freq"]
    seq = bpe_train(docs, n_merges=6, batch_size=1, words=wf).select(
        *cols, F.lit(1).alias("__s")
    )
    bat = bpe_train(docs, n_merges=6, batch_size=3, words=wf).select(
        *cols, F.lit(1).alias("__b")
    )
    return seq.join(bat, cols, "full_outer").agg(
        F.coalesce(F.sum("__s"), F.lit(0)).cast("long").alias("n_merges_seq"),
        F.coalesce(F.sum("__b"), F.lit(0)).cast("long").alias("n_merges_batched"),
        F.coalesce(
            F.sum((F.col("__s").isNull() | F.col("__b").isNull()).cast("long")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_set_mismatch"),
    )


@query(
    "pca_variance_embeddings",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_components,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(2 AS BIGINT) AS n_requested
    """,
)
def pca_variance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification twin for pca_project_embeddings (formerly
    rows-only): the eigendecomposition has no SQL twin, but its
    defining invariant does — per component, the distributed
    (unrounded) projected sum of squares must equal the gramian
    eigenvalue (Σ(x·u_k)² = u_kᵀGu_k = λ_k). Emits the scalar
    contract (n_components=2, n_mismatch=0, n_requested=2); a
    mismatch would expose a partition-fold or broadcast bug in the
    projection path that rows-only checking cannot see."""
    from sparkobs.operators.similarity import pca_variance_check

    return pca_variance_check(
        load_table(spark, sf_dir, "embeddings"), n_components=2
    )


@query("compaction_execute_documents")
def compaction_execute_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction EXECUTION (rows-only: output file sizes
    and the staged fragmentation are engine/layout artifacts with no
    SQL twin; row preservation and the one-file-per-group contract
    are unit-tested in tests/test_corpus_ops.py). Stages documents as
    16 deliberately tiny parquet fragments, bin-packs them with
    compaction_assign, and rewrites each ≈24 KB group as exactly one
    file via a single shuffle (no driver loop over groups) — the
    execution half of compaction_plan_sf_dir's planning half. (The
    tiny target is sized to the test corpus so the audit exercises
    MULTIPLE merge groups; real lakes pass row-group-sized targets.)"""
    import os
    import tempfile

    from sparkobs.sources.listing import compaction_execute, list_files

    from sparkobs.io import ensure_stage, scratch_dir

    key = _stage_key(sf_dir, "documents", "compact16")
    stage = ensure_stage(
        os.path.join(tempfile.gettempdir(), f"sparkobs_frag_{key}"),
        lambda tmp: load_table(spark, sf_dir, "documents")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    # per-process scratch: two concurrent drivers compacting the same
    # corpus must not interleave writes into one output dir
    out_dir = scratch_dir("sparkobs_compact", key)
    listing = list_files(spark, stage).where(
        F.col("path").endswith(".parquet")
    )
    return compaction_execute(
        spark, listing, target_bytes=24 * 1024, out_dir=out_dir,
        src_root=stage,
    ).orderBy("group_id")


# ---------------------------------------------------------------------------
# Round-7 promotion — the first 50 entries of the r7 staging queue,
# oldest-staged first: TPC-H completion
# (Q2/Q9/Q11/Q12/Q16/Q19/Q20/Q21), the statistics/behavior wave, the
# iterative wave (k-means/ARI/PageRank, fixed-point + unrolled
# oracles), streaming twins, exact quantiles, BM25, attribution,
# observability. The 17 newest-staged entries remain queued for r8.
# ---------------------------------------------------------------------------

@query(
    "product_profit_q9",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
               - CAST(round(p_retailprice * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * 100) / 10000.0 AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%a%'
    GROUP BY 1, 2
    """,
)
def product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier
    nation per order year over a 5-table join; the schema has no
    partsupp, so retail price × quantity stands in for supply cost.
    part (filtered) and nation broadcast; the orders leg is the only
    fact-fact shuffle.

    Money discipline: price×(1−discount) products of 2-decimal inputs
    sit EXACTLY on the half-cent grid, so round(sum(·), 2) flips with
    float summation order (observed at sf0.01). Profit is therefore
    accumulated as EXACT integer 10⁻⁴-currency units (cents ×
    discount-percent) — the bigint sum is order-independent — and the
    single final division by 10⁴ of identical integers is bit-identical
    on any engine, left unrounded."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%a%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d100 = F.round(F.col("l_discount") * 100, 0).cast("long")
    rcents = F.round(F.col("p_retailprice") * 100, 0).cast("long")
    scaled = cents * (100 - d100) - rcents * F.col("l_quantity").cast(
        "long"
    ) * 100
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg((F.sum(scaled) / F.lit(10000.0)).alias("profit"))
    )


@query(
    "shipmode_delay_q12",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
           CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
                         THEN 1 ELSE 0 END) AS BIGINT) AS ontime_lines,
           round(avg(CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE)), 4)
             AS mean_delay_days
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def shipmode_delay_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay priority screen): conditional
    late/on-time counts per order priority from the order→ship lag
    (the schema has no ship mode or commit/receipt dates; the
    orderdate→shipdate lag is the available delay signal). Integer
    day-diffs make the mean exact-summable, so round(avg) is stable
    (integer sum / integer count)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum((delay > 90).cast("long")).alias("late_lines"),
            F.sum((delay <= 90).cast("long")).alias("ontime_lines"),
            F.round(F.avg(delay.cast("double")), 4).alias("mean_delay_days"),
        )
    )


@query(
    "disjunctive_revenue_q19",
    oracle="""
    SELECT round(coalesce(sum(l_extendedprice * (1 - l_discount)), 0), 2)
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def disjunctive_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): three OR'd
    brand/size/quantity envelopes across the part join — the classic
    test that OR predicates still prune (part-side conjuncts are
    pushable per-branch; the cross-side residual evaluates post-join
    without row explosion)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q, b, z = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & z.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#3") & z.between(10, 30) & q.between(10, 35))
        | ((b == "Brand#5") & z.between(20, 50) & q.between(20, 50))
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            F.round(
                F.coalesce(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "min_price_supplier_q2",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             round(sum(l_extendedprice), 4) / sum(l_quantity) AS unit_price
      FROM lineitem GROUP BY 1, 2),
    mn AS (SELECT pk, min(unit_price) AS min_price FROM ps GROUP BY 1)
    SELECT ps.pk AS p_partkey, s_name, unit_price,
           CAST(n_suppliers AS BIGINT) AS n_suppliers
    FROM ps
    JOIN mn ON mn.pk = ps.pk AND ps.unit_price = mn.min_price
    JOIN (SELECT pk, count(*) AS n_suppliers FROM ps GROUP BY 1) c
      ON c.pk = ps.pk
    JOIN supplier ON s_suppkey = ps.sk
    WHERE n_suppliers >= 3
    """,
)
def min_price_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each part sold by
    ≥3 suppliers, the supplier(s) offering the lowest average unit
    price — the correlated-min subquery decorrelated into one
    (part, supplier) aggregate reused for BOTH the min and the
    membership legs (lineitem's pairs stand in for partsupp). The
    unit price is the WEIGHTED form round(sum(price),4)/sum(qty) left
    UNROUNDED: the rounded money sum is boundary-stable, the quantity
    sum is an exact integer, and the single IEEE division of identical
    doubles is bit-identical across engines — while round(avg(p/q),4)
    lands exactly on .00005 boundaries for small groups and flips with
    summation order."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    ps = l.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        (
            F.round(F.sum("l_extendedprice"), 4) / F.sum("l_quantity")
        ).alias("unit_price")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("pk")
    ranked = ps.select(
        "pk",
        "sk",
        "unit_price",
        F.min("unit_price").over(w).alias("min_price"),
        F.count(F.lit(1)).over(w).alias("n_suppliers"),
    )
    return (
        ranked.where(
            (F.col("n_suppliers") >= 3)
            & (F.col("unit_price") == F.col("min_price"))
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("sk"))
        .select(
            F.col("pk").alias("p_partkey"),
            "s_name",
            "unit_price",
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
        )
    )


@query(
    "important_parts_q11",
    oracle="""
    WITH pv AS (
      SELECT l_partkey AS pk,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
      FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(part_value) AS tv FROM pv)
    SELECT pk AS p_partkey, part_value,
           round(part_value / tv, 6) AS value_share
    FROM pv CROSS JOIN tot
    WHERE part_value > tv * 0.0005
    """,
)
def important_parts_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose traded value
    exceeds a fraction of the GLOBAL total — group agg + 1-row
    broadcast scalar threshold, no rescan of lineitem for the total
    (the per-part aggregate is reused). The share divides identical
    rounded doubles, so round(·, 6) is stable."""
    l = load_table(spark, sf_dir, "lineitem")
    # materialized once (eager checkpoint, parts-sized): the global
    # total and the filter leg otherwise each re-scan lineitem
    pv = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("part_value")
    ).localCheckpoint(eager=True)
    tot = pv.agg(F.sum("part_value").alias("tv"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(F.col("part_value") > F.col("tv") * 0.0005)
        .select(
            F.col("pk").alias("p_partkey"),
            "part_value",
            F.round(F.col("part_value") / F.col("tv"), 6).alias("value_share"),
        )
    )


@query(
    "supplier_variety_q16",
    oracle="""
    SELECT p_brand, p_type,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#4'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
)
def supplier_variety_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier variety): distinct suppliers per
    (brand, type) excluding one brand and an anti-joined supplier
    denylist (negative balance stands in for the complaints filter —
    the schema has no comments). NOT IN compiles to a broadcast anti
    join; the distinct count is the one shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#4")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "dominant_suppliers_q20",
    oracle="""
    WITH vol AS (
      SELECT l_partkey AS pk, l_suppkey AS sk, sum(l_quantity) AS sq
      FROM lineitem GROUP BY 1, 2),
    tot AS (SELECT pk, sum(sq) AS tq FROM vol GROUP BY 1)
    SELECT DISTINCT s_suppkey, s_name
    FROM vol JOIN tot USING (pk)
    JOIN supplier ON s_suppkey = sk
    WHERE sq > 0.5 * tq AND tq > 100
    ORDER BY s_suppkey
    """,
)
def dominant_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess share): suppliers who
    moved more than half of some part's total volume (parts above a
    volume floor) — the nested-aggregate semi-join chain, decorrelated
    into one (part, supplier) agg + a per-part total, DISTINCT
    projected at the end. Quantities are integer-valued doubles, so
    the 0.5·total comparison is exact on both engines."""
    from pyspark.sql import Window as W

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    vol = l.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.sum("l_quantity").alias("sq"))
    # per-part total via a WINDOW over the pair aggregate — no second
    # lineitem scan, no self-join (the agg shuffle already co-located
    # each part's pairs)
    tq = F.sum("sq").over(W.partitionBy("pk"))
    return (
        vol.withColumn("tq", tq)
        .where((F.col("sq") > 0.5 * F.col("tq")) & (F.col("tq") > 100))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("sk"))
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@query(
    "spearman_quantity_price_lineitem",
    oracle="""
    WITH r AS (
      SELECT rank() OVER (ORDER BY l_quantity)
               + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS ra,
             rank() OVER (ORDER BY l_extendedprice)
               + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rb
      FROM lineitem),
    s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 sum(ra) AS sa, sum(rb) AS sb,
                 sum(ra * ra) AS saa, sum(rb * rb) AS sbb,
                 sum(ra * rb) AS sab
          FROM r)
    SELECT CASE WHEN (n * saa - sa * sa) * (n * sbb - sb * sb) > 0
                THEN round((n * sab - sa * sb)
                           / sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)), 4)
                ELSE 0.0 END + 0.0 AS rho,
           CAST(n AS BIGINT) AS n_rows
    FROM s
    """,
)
def spearman_quantity_price_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price
    (extension: monotone-dependence profiling with textbook average
    ranks for ties)."""
    from sparkobs.operators.profile import spearman_corr

    return spearman_corr(
        load_table(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice"
    )


@query(
    "cramers_v_events_type_hour",
    oracle="""
    WITH cells AS (
      SELECT event_type AS a, hour(ts) AS b, CAST(count(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2),
    ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
    cb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
    nt AS (SELECT sum(o) AS n, count(*) AS n_cells FROM cells),
    agg AS (
      SELECT round(sum((o - ra * cb / n) * (o - ra * cb / n) / (ra * cb / n))
                   + CASE WHEN max(n_cells)
                               = count(DISTINCT a) * count(DISTINCT b)
                          THEN 0.0 ELSE max(n) - sum(ra * cb / n) END, 4)
               AS chi2,
             CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
               AS dof,
             CAST(max(n) AS BIGINT) AS n,
             least(count(DISTINCT a) - 1, count(DISTINCT b) - 1) AS k
      FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nt)
    SELECT chi2, dof, n,
           CASE WHEN k > 0 THEN round(sqrt(chi2 / (n * k)), 4)
                ELSE 0.0 END AS v
    FROM agg
    """,
)
def cramers_v_events_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for event_type × hour-of-day (extension:
    shape-normalized dependence, comparable across tables)."""
    from sparkobs.operators.profile import cramers_v

    return cramers_v(
        load_table(spark, sf_dir, "events"), F.col("event_type"), F.hour("ts")
    )


@query(
    "benford_totalprice_orders",
    oracle="""
    WITH c AS (
      SELECT TRY_CAST(regexp_extract(CAST(abs(o_totalprice) AS VARCHAR),
                                     '([1-9])', 1) AS INT) AS digit,
             count(*) AS n_values
      FROM orders
      WHERE o_totalprice IS NOT NULL AND abs(o_totalprice) > 0
      GROUP BY 1),
    c2 AS (SELECT digit, n_values FROM c WHERE digit IS NOT NULL),
    t AS (SELECT sum(n_values) AS nn FROM c2)
    SELECT digit, CAST(n_values AS BIGINT) AS n_values,
           round(n_values / nn, 4) AS obs_share,
           round(ln(1 + 1.0 / digit) / ln(10), 4) AS exp_share,
           round(abs(round(n_values / nn, 4)
                     - round(ln(1 + 1.0 / digit) / ln(10), 4)), 4) AS abs_dev
    FROM c2 CROSS JOIN t
    """,
)
def benford_totalprice_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen over order totals (extension:
    fabricated-numbers / data-quality testing)."""
    from sparkobs.operators.profile import benford_screen

    return benford_screen(load_table(spark, sf_dir, "orders"), "o_totalprice")


@query(
    "trend_slope_hourly_events",
    oracle="""
    WITH series AS (
      SELECT event_type, date_trunc('hour', ts) AS b,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2),
    xs AS (
      SELECT event_type, y,
             CAST(date_diff('hour',
                            min(b) OVER (PARTITION BY event_type), b) AS DOUBLE)
               AS x
      FROM series),
    s AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS m,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM xs GROUP BY 1)
    SELECT event_type, CAST(m AS BIGINT) AS n_buckets,
           CASE WHEN m * sxx - sx * sx > 0
                THEN round((m * sxy - sx * sy) / (m * sxx - sx * sx), 4)
                ELSE 0.0 END + 0.0 AS slope
    FROM s
    """,
)
def trend_slope_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of hourly volume (extension: drift
    direction via OLS over exact integer sufficient sums)."""
    from sparkobs.operators.state import trend_slope

    return trend_slope(
        load_table(spark, sf_dir, "events"), ["event_type"], "ts"
    )


@query(
    "acf1_hourly_events",
    oracle="""
    WITH series AS (
      SELECT event_type, date_trunc('hour', ts) AS b,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT event_type, y,
             lag(y) OVER (PARTITION BY event_type ORDER BY b) AS x
      FROM series),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(count(x) AS DOUBLE) AS m,
             sum(x) AS sx,
             sum(CASE WHEN x IS NOT NULL THEN y END) AS sy,
             sum(x * x) AS sxx,
             sum(CASE WHEN x IS NOT NULL THEN y * y END) AS syy,
             sum(x * y) AS sxy
      FROM pairs GROUP BY 1)
    SELECT event_type, n_buckets, CAST(m AS BIGINT) AS n_pairs,
           CASE WHEN (m * sxx - sx * sx) * (m * syy - sy * sy) > 0
                THEN round((m * sxy - sx * sy)
                           / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)), 4)
                ELSE 0.0 END + 0.0 AS acf1
    FROM s
    """,
)
def acf1_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each type's hourly count series
    (extension: momentum-vs-noise classification of a metric)."""
    from sparkobs.operators.state import acf_lag1

    return acf_lag1(load_table(spark, sf_dir, "events"), ["event_type"], "ts")


@query(
    "cusum_changepoint_events",
    oracle="""
    WITH series AS (
      SELECT event_type, date_trunc('hour', ts) AS b,
             CAST(count(*) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT event_type, b,
             sum(y) OVER (PARTITION BY event_type ORDER BY b
                          ROWS UNBOUNDED PRECEDING)
               - row_number() OVER (PARTITION BY event_type ORDER BY b)
                 * (sum(y) OVER (PARTITION BY event_type)
                    / count(*) OVER (PARTITION BY event_type)) AS s
      FROM series),
    ranked AS (
      SELECT event_type, b, s,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(s) DESC, b ASC) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nb,
             max(abs(s)) OVER (PARTITION BY event_type) AS mx
      FROM scored)
    SELECT event_type, CAST(nb AS BIGINT) AS n_buckets,
           round(mx, 4) AS cusum_max, b AS changepoint_ts
    FROM ranked WHERE rn = 1
    """,
)
def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint score + location per event type (extension:
    level-shift detection over the hourly series)."""
    from sparkobs.operators.state import cusum_changepoint

    return cusum_changepoint(
        load_table(spark, sf_dir, "events"), ["event_type"], "ts"
    )


@query(
    "rfm_scores_orders",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey AS key, max(o_orderdate) AS last_ts,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY 1)
    SELECT key, last_ts, frequency, monetary,
           ntile(4) OVER (ORDER BY last_ts DESC, key ASC) AS r_score,
           ntile(4) OVER (ORDER BY frequency DESC, key ASC) AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, key ASC) AS m_score,
           CAST(ntile(4) OVER (ORDER BY last_ts DESC, key ASC) AS VARCHAR)
             || CAST(ntile(4) OVER (ORDER BY frequency DESC, key ASC) AS VARCHAR)
             || CAST(ntile(4) OVER (ORDER BY monetary DESC, key ASC) AS VARCHAR)
             AS rfm_segment
    FROM per_key
    """,
)
def rfm_scores_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer quartile scores from
    orders (extension: lifecycle segmentation with deterministic
    ntile tiebreaks)."""
    from sparkobs.operators.behavior import rfm_scores

    return rfm_scores(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
    )


@query(
    "activity_islands_events",
    oracle="""
    WITH active AS (
      SELECT DISTINCT event_type,
             date_diff('hour', TIMESTAMP '2000-01-01 00:00:00',
                       date_trunc('hour', ts)) AS h
      FROM events),
    grp AS (
      SELECT event_type, h,
             h - row_number() OVER (PARTITION BY event_type ORDER BY h)
               AS island
      FROM active),
    islands AS (
      SELECT event_type, island, count(*) AS len
      FROM grp GROUP BY 1, 2)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(max(len) AS BIGINT) AS longest_streak,
           round(round(sum(len), 4) / count(*), 4) AS mean_streak,
           CAST(sum(len) AS BIGINT) AS active_buckets
    FROM islands GROUP BY 1
    """,
)
def activity_islands_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands activity streaks per event type (extension:
    continuity/uptime profiling of a feed)."""
    from sparkobs.operators.behavior import activity_islands

    return activity_islands(
        load_table(spark, sf_dir, "events"), ["event_type"], "ts"
    )


@query(
    "assoc_rules_event_types",
    oracle="""
    WITH pairs AS (SELECT DISTINCT user_id AS k, event_type AS i FROM events),
    nb AS (SELECT CAST(count(DISTINCT k) AS DOUBLE) AS nbt FROM pairs),
    marg AS (SELECT i, count(*) AS ni FROM pairs GROUP BY 1),
    co AS (
      SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_both
      FROM pairs l JOIN pairs r ON l.k = r.k AND l.i <> r.i
      GROUP BY 1, 2 HAVING count(*) >= 10)
    SELECT item_a, item_b, CAST(n_both AS BIGINT) AS n_both,
           round(n_both / nbt, 4) AS support,
           round(n_both / ma.ni, 4) AS confidence,
           round(n_both * nbt / (ma.ni * mb.ni), 4) AS lift
    FROM co
    JOIN marg ma ON ma.i = item_a
    JOIN marg mb ON mb.i = item_b
    CROSS JOIN nb
    """,
)
def assoc_rules_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules between event types per user basket
    (extension: market-basket support/confidence/lift)."""
    from sparkobs.operators.behavior import association_rules

    return association_rules(
        load_table(spark, sf_dir, "events"), "user_id", "event_type",
        min_support=10,
    )


@query(
    "scd2_user_state_events",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
    v AS (
      SELECT user_id, event_type AS attr_value, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes)
    SELECT user_id, attr_value, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM v
    """,
)
def scd2_user_state_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 validity intervals of each user's observed state
    (extension: dimension-history maintenance — the full-lineage
    companion of CDC compaction)."""
    from sparkobs.operators.state import scd2_history

    return scd2_history(
        load_table(spark, sf_dir, "events"),
        ["user_id"],
        "event_type",
        "ts",
        "event_id",
    )


def _ab_hex15(col_sql: str) -> str:
    from sparkobs.queries import _hex15_sql

    return _hex15_sql(col_sql)


@query(
    "ab_ztest_purchase_events",
    oracle=f"""
    WITH units AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c,
             ({_ab_hex15("md5('ab' || CAST(user_id AS VARCHAR))")}) % 2 AS v
      FROM events GROUP BY 1),
    wide AS (
      SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(sum(CASE WHEN v = 0 AND c = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
             CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(sum(CASE WHEN v = 1 AND c = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS c1
      FROM units)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(c0 AS BIGINT) AS conv_0,
           round(c0 / n0, 4) AS rate_0,
           CAST(n1 AS BIGINT) AS n_1, CAST(c1 AS BIGINT) AS conv_1,
           round(c1 / n1, 4) AS rate_1,
           CASE WHEN ((c0 + c1) / (n0 + n1)) * (1 - (c0 + c1) / (n0 + n1))
                     * (1 / n0 + 1 / n1) > 0
                THEN round((c0 / n0 - c1 / n1)
                           / sqrt(((c0 + c1) / (n0 + n1))
                                  * (1 - (c0 + c1) / (n0 + n1))
                                  * (1 / n0 + 1 / n1)), 4)
                ELSE 0.0 END + 0.0 AS z_score
    FROM wide
    """,
)
def ab_ztest_purchase_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test of purchase conversion between the
    deterministic md5 user split halves (extension: experimentation —
    the split is engine-reproducible, so variant assignment and the
    statistic value-check bit for bit; on a true random split the
    expected |z| is small)."""
    from sparkobs.operators.behavior import ab_conversion_ztest
    from sparkobs.operators.sampling import _hash64

    ev = load_table(spark, sf_dir, "events")
    return ab_conversion_ztest(
        ev,
        "user_id",
        convert_expr=(F.col("event_type") == "purchase"),
        variant_expr=(_hash64("user_id", "ab") % 2),
    )


@query(
    "emd_drift_events_halves",
    oracle="""
    WITH a AS (
      SELECT least(greatest(CAST(floor(value / 6.0) AS INT), 0), 99) AS bin,
             count(*) AS c_a
      FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
    b AS (
      SELECT least(greatest(CAST(floor(value / 6.0) AS INT), 0), 99) AS bin,
             count(*) AS c_b
      FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
    cells AS (
      SELECT coalesce(a.bin, b.bin) AS bin,
             coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
      FROM a FULL OUTER JOIN b ON a.bin = b.bin),
    tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM cells),
    cdfs AS (
      SELECT abs(sum(c_a) OVER (ORDER BY bin) * 1.0 / n_a
                 - sum(c_b) OVER (ORDER BY bin) * 1.0 / n_b) AS gap,
             lead(bin, 1, 100) OVER (ORDER BY bin) - bin AS span,
             n_a, n_b
      FROM cells CROSS JOIN tot)
    SELECT round(sum(gap * span) * 6.0, 4) AS emd,
           round(max(gap), 4) AS ks_d,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b
    FROM cdfs
    """,
)
def emd_drift_events_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned earth-mover's distance between the even/odd event halves
    (extension: drift magnitude — the integral companion of the KS
    max-gap, from the same one-pass binned CDFs)."""
    from sparkobs.operators.profile import emd_drift_binned

    ev = load_table(spark, sf_dir, "events")
    return emd_drift_binned(
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
        "value",
        lo=0.0,
        hi=600.0,
        n_bins=100,
    )


@query(
    "interarrival_stats_events",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           sum(gap) / count(*) / 1e6 AS mean_gap_s,
           quantile_cont(gap, 0.5) / 1e6 AS p50_gap_s,
           max(gap) / 1e6 AS max_gap_s
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY 1
    """,
)
def interarrival_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival time distribution within each user's
    stream (extension: cadence profiling for rate limits, bot
    screens, and session gap-rule calibration; all statistics are
    single division chains over exact integer microseconds)."""
    from sparkobs.operators.behavior import interarrival_stats

    return interarrival_stats(
        load_table(spark, sf_dir, "events"),
        ["user_id"],
        ["event_type"],
        "ts",
        "event_id",
    )


def _hll_est_sql(col: str, table: str) -> str:
    from sparkobs.queries import _hll_col_oracle

    return _hll_col_oracle(col, table)


@query(
    "hll_union_users_events",
    oracle=f"""
    SELECT est_distinct AS est_merged,
           est_distinct AS est_whole,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM ({_hll_est_sql("user_id", "events")})
    """,
)
def hll_union_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run HLL register union certification (extension: the
    mergeability contract IN the registry — per-half register tables
    merged cellwise must estimate exactly what one whole-table sketch
    estimates, because max-merge of partitioned registers is the
    whole-table register table by construction). The oracle recomputes
    the whole-table estimate independently in SQL and pins the
    merged == whole equality as a scalar contract."""
    from sparkobs.operators.profile import (
        hll_estimate,
        hll_merge_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    half_a = hll_registers(ev.where(F.col("event_id") % 2 == 0), "user_id")
    half_b = hll_registers(ev.where(F.col("event_id") % 2 == 1), "user_id")
    merged = hll_merge_estimate([half_a, half_b]).select(
        F.col("est_distinct").alias("est_merged")
    )
    whole = hll_estimate(hll_registers(ev, "user_id")).select(
        F.col("est_distinct").alias("est_whole")
    )
    return merged.crossJoin(F.broadcast(whole)).select(
        "est_merged",
        "est_whole",
        (F.col("est_merged") != F.col("est_whole"))
        .cast("long")
        .alias("n_mismatch"),
    )


# The determinant formulas are SHARED TEXT between the Spark operator
# (features.ols_two_features, F.expr) and the DuckDB oracle: the
# sufficient statistics are exact integers (quantity is integer-
# valued, discount/price are 2-decimal → integer cents), converted
# once to identical doubles, so evaluating the same expression text
# yields bit-identical coefficients on both engines, no rounding.
from sparkobs.operators.features import (  # noqa: E402
    OLS_DET as _OLS_DET,
    OLS_DET0 as _OLS_DET0,
    OLS_DET1 as _OLS_DET1,
    OLS_DET2 as _OLS_DET2,
)


@query(
    "ols_pricing_lineitem",
    oracle=f"""
    WITH raw AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(q) AS DOUBLE) AS sq,
             CAST(sum(d) AS DOUBLE) AS sd,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(q * q) AS DOUBLE) AS sqq,
             CAST(sum(d * d) AS DOUBLE) AS sdd,
             CAST(sum(q * d) AS DOUBLE) AS sqd,
             CAST(sum(q * y) AS DOUBLE) AS sqy,
             CAST(sum(d * y) AS DOUBLE) AS sdy,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM raw),
    b AS (
      SELECT n, sy, sqy, sdy, syy,
             {_OLS_DET0} / {_OLS_DET} AS b0,
             {_OLS_DET1} / {_OLS_DET} AS b1,
             {_OLS_DET2} / {_OLS_DET} AS b2
      FROM s)
    SELECT b0 AS intercept_cents,
           b1 AS beta_quantity_cents,
           b2 AS beta_discount_cents,
           1 - (syy - b0*sy - b1*sqy - b2*sdy) / (syy - sy*sy/n) AS r2,
           CAST(n AS BIGINT) AS n_rows
    FROM b
    """,
)
def ols_pricing_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multi-feature OLS (extension: regression beyond the
    per-key trend slope): extendedprice-in-cents regressed on quantity
    and discount via the 3x3 normal equations, Cramer's rule — one
    sufficient-statistics aggregation over the fact table, then
    scalar-only arithmetic on the 1-row frame. Exact integer sums
    (decimal accumulation for the y² term, which overflows BIGINT at
    sf0.1) make the coefficients bit-identical cross-engine with no
    rounding; coefficients stay in cents space."""
    from sparkobs.operators.features import ols_two_features

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    return ols_two_features(li, "q", "d", "y").select(
        F.col("intercept").alias("intercept_cents"),
        F.col("beta_x1").alias("beta_quantity_cents"),
        F.col("beta_x2").alias("beta_discount_cents"),
        "r2",
        "n_rows",
    )


def _cuped_oracle() -> str:
    from sparkobs.operators.features import (
        CUPED_LIFT,
        CUPED_LIFT_ADJ,
        CUPED_THETA,
        CUPED_VAR_RED,
    )

    split = _ab_hex15("md5('ab' || CAST(user_id AS VARCHAR))")
    mid = "TIMESTAMP '2024-01-16 00:00:00'"
    return f"""
    WITH units AS (
      SELECT user_id,
             coalesce(sum(CASE WHEN ts < {mid}
                               THEN CAST(round(value * 100) AS BIGINT) END),
                      0) AS x,
             coalesce(sum(CASE WHEN ts >= {mid}
                               THEN CAST(round(value * 100) AS BIGINT) END),
                      0) AS y,
             ({split}) % 2 AS v
      FROM events GROUP BY 1),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy,
             CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS DOUBLE) AS sx0,
             CAST(sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS DOUBLE) AS sx1,
             CAST(sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS DOUBLE) AS sy0,
             CAST(sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS DOUBLE) AS sy1
      FROM units),
    t AS (SELECT *, {CUPED_THETA} AS theta, {CUPED_VAR_RED} AS var_reduction
          FROM s)
    SELECT CAST(n0 AS BIGINT) AS n_0, CAST(n1 AS BIGINT) AS n_1,
           {CUPED_LIFT} AS lift, {CUPED_LIFT_ADJ} AS lift_cuped,
           theta, var_reduction
    FROM t
    """


@query("cuped_lift_events", oracle=_cuped_oracle())
def cuped_lift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B lift (extension: experimentation —
    the estimator real platforms run next to the z-test): per-user
    pre-period spend (first half-month, integer cents) is the CUPED
    covariate for post-period spend, variants from the portable md5
    split. Sufficient statistics are exact integers; theta/lift/
    variance-reduction are shared-text scalar formulas — bit-identical
    cross-engine, unrounded."""
    from sparkobs.operators.features import cuped_lift
    from sparkobs.operators.sampling import _hash64

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < mid, cents)), F.lit(0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= mid, cents)), F.lit(0)
            ).alias("y"),
        )
        .withColumn("v", _hash64("user_id", "ab") % 2)
    )
    return cuped_lift(units, "v", "x", "y")


@query(
    "related_suppliers_jaccard",
    oracle="""
    WITH b AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
               FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
    sz AS (SELECT s, count(*) AS n FROM b GROUP BY 1),
    pairs AS (SELECT a.s AS s1, b2.s AS s2, count(*) AS shared
              FROM b a JOIN b b2 ON a.c = b2.c AND a.s < b2.s
              GROUP BY 1, 2)
    SELECT CAST(s1 AS BIGINT) AS key_a, CAST(s2 AS BIGINT) AS key_b,
           CAST(shared AS BIGINT) AS n_shared,
           CAST(shared AS DOUBLE) / (n1.n + n2.n - shared) AS jaccard
    FROM pairs JOIN sz n1 ON n1.s = s1 JOIN sz n2 ON n2.s = s2
    ORDER BY jaccard DESC, key_a, key_b LIMIT 20
    """,
)
def related_suppliers_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-supplier mining (extension: set-overlap recommendation):
    top-20 supplier pairs by Jaccard similarity of their customer
    sets, candidates generated through the shared-customer join
    (bounded by customer degree, never suppliers²). Unrounded integer
    division — bit-identical cross-engine."""
    from sparkobs.operators.joins import cooccurrence_jaccard

    b = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
    )
    return cooccurrence_jaccard(b, "s", "c", top_k=20)


# TOMBSTONE (r14): ann_recall_embeddings RETIRED — swap-ledger entry
# #4 (SURVEY §2.11), the slot now held by the quantized Kaplan–Meier
# entry (km_survival_quantized_events, below). It certified recall@5
# of the IVF tier against brute-force ground truth — a composition of TWO queries
# that BOTH keep their own driver witnesses (`cosine_topk` the exact
# truth, `cosine_topk_ivf` the pruned tier), so the retirement frees
# a gate slot AND removes a ~2 s bench row that re-paid the IVF
# leg's fixed costs (quantizer codegen + 16-bucket Python worker
# startup) a second time. Recall on the fixed corpus is
# deterministic; the claim's carrier is
#   tests/test_dedup_similarity.py::
#     test_ann_recall_ivf_retirement_witness_sf001
# which composes the IDENTICAL registry calls at sf0.01 and scopes
# the claim honestly (the r13 minhash retirement's discipline):
# CONTRACTUAL — every IVF neighbor pair whose (vec_id, rank) the
# truth also emits is a hit by exact arithmetic (hits ⊆ truth by
# construction of the semi-join), and recall stays ≥ the pinned
# floor; CORPUS-EMPIRICAL — the exact pinned value (n_truth=2500,
# n_hits=1207, recall@5=0.4828 on the sf0.01 corpus, the number the
# registry entry driver-certified r7–r13) is a property of THIS
# corpus + the n_probe=4/16-cluster config, not a theorem about IVF.
# The plan-shape guard (LeftSemi probe, no cartesian) moved to
# tests/test_plans_functions.py::test_ann_recall_semi_join_no_cartesian,
# which now composes the same frame inline. Same retirement
# discipline as sparse_cosine_powerlaw_exact (r11),
# near_dup_groups_documents (r12), minhash_xx64_parity_documents
# (r13).


@query(
    "km_survival_events",
    oracle="""
    WITH spans AS (
      SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
      FROM events GROUP BY 1),
    e AS (SELECT max(epoch_us(ts)) AS obs_end FROM events),
    durs AS (
      SELECT (t1 - t0) // 86400000000 AS t,
             CASE WHEN t1 < obs_end - 1 * 86400000000 THEN 1 ELSE 0 END AS obs
      FROM spans CROSS JOIN e),
    hist AS (SELECT t, count(*) AS n_t, sum(obs) AS d_t FROM durs GROUP BY 1),
    tot AS (SELECT count(*) AS n_total FROM durs),
    steps AS (
      SELECT t, n_t, d_t,
             n_total - coalesce(sum(n_t) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS n_at_risk
      FROM hist CROSS JOIN tot),
    logged AS (
      SELECT t, d_t, n_at_risk,
             CASE WHEN n_at_risk > d_t
                  THEN CAST(floor(ln((n_at_risk - d_t)
                                     / CAST(n_at_risk AS DOUBLE)) * 1e8)
                            AS BIGINT)
             END AS lu
      FROM steps),
    cum AS (
      SELECT t, d_t, n_at_risk,
             sum(lu) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cu
      FROM logged)
    SELECT CAST(t AS BIGINT) AS duration,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d_t AS BIGINT) AS n_deaths,
           CASE WHEN n_at_risk > d_t THEN round(exp(cu / 1e8), 4)
                ELSE 0.0 END AS survival
    FROM cum WHERE d_t > 0
    """,
)
def km_survival_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-churn curve over user lifetimes
    (extension: survival analysis — the censoring-aware view behind
    retention): duration = first→last event in whole days, censored
    when the last event is inside the 7-day observation horizon.
    Certified via integer-quantized log-space cumulative products
    (see behavior.km_survival for why raw windowed float sums cannot
    cross engines)."""
    from sparkobs.operators.behavior import churn_durations, km_survival

    return km_survival(
        churn_durations(
            load_table(spark, sf_dir, "events"), "user_id", "ts", 1
        )
    )


@query(
    "km_survival_quantized_events",
    oracle="""
    WITH spans AS (
      SELECT user_id, min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
      FROM events GROUP BY 1),
    e AS (SELECT max(epoch_us(ts)) AS obs_end FROM events),
    durs AS (
      SELECT ((t1 - t0) // 86400000000) * 86400000000 AS t,
             CASE WHEN t1 < obs_end - 1 * 86400000000 THEN 1 ELSE 0 END AS obs
      FROM spans CROSS JOIN e),
    hist AS (SELECT t, count(*) AS n_t, sum(obs) AS d_t FROM durs GROUP BY 1),
    tot AS (SELECT count(*) AS n_total FROM durs),
    steps AS (
      SELECT t, n_t, d_t,
             n_total - coalesce(sum(n_t) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS n_at_risk
      FROM hist CROSS JOIN tot),
    logged AS (
      SELECT t, d_t, n_at_risk,
             CASE WHEN n_at_risk > d_t
                  THEN CAST(floor(ln((n_at_risk - d_t)
                                     / CAST(n_at_risk AS DOUBLE)) * 1e8)
                            AS BIGINT)
             END AS lu
      FROM steps),
    cum AS (
      SELECT t, d_t, n_at_risk,
             sum(lu) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cu
      FROM logged)
    SELECT CAST(t AS BIGINT) AS duration_us,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d_t AS BIGINT) AS n_deaths,
           CASE WHEN n_at_risk > d_t THEN round(exp(cu / 1e8), 4)
                ELSE 0.0 END AS survival
    FROM cum WHERE d_t > 0
    """,
)
def km_survival_quantized_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-state Kaplan–Meier over CONTINUOUS durations (r14
    swap-ledger #4 successor; certifies the r14 ``duration_grid``
    parameter end-to-end): per-user lifetimes enter as RAW
    integer-microsecond spans — the input whose distinct-count
    approaches subject count, the degenerate regime the r13 verdict's
    watch item 3 flagged for the step-table window — and
    ``km_survival(duration_grid=day_us)`` floor-snaps them to
    whole-day bucket edges INSIDE the operator, capping the step
    table (and the single global window over it) at range/grid rows
    regardless of corpus size. Censoring matches the certified
    ``km_survival_events`` entry (1-day horizon); durations stay in
    microseconds (bucket lower edges, day multiples), so the curve is
    that entry's with the time axis in µs — but computed from the
    UNQUANTIZED durations frame through the new parameter, which is
    exactly the claim needing certification. Oracle: full independent
    DuckDB replay (grid snap in SQL + the integer-quantized log-space
    cumulative product the km family uses for cross-engine
    exactness). Reference analogue: the reference ships retention-
    style aggregations only (sql_table_monitor.py:61-75 row-count
    trends); the censoring-aware lifetime view is an extension."""
    from sparkobs.operators.behavior import churn_durations, km_survival

    durs = churn_durations(
        load_table(spark, sf_dir, "events"),
        "user_id",
        "ts",
        1,
        day_quantize=False,
    )
    return km_survival(
        durs, duration_grid=86_400_000_000
    ).withColumnRenamed("duration", "duration_us")


@query(
    "hll_intersection_users_events",
    oracle=f"""
    SELECT a.est_distinct AS est_a,
           b.est_distinct AS est_b,
           u.est_distinct AS est_union,
           a.est_distinct + b.est_distinct - u.est_distinct AS est_intersection,
           x.exact_intersection,
           round(abs(a.est_distinct + b.est_distinct - u.est_distinct
                     - x.exact_intersection) / x.exact_intersection, 4) AS rel_err
    FROM ({_hll_est_sql("user_id", "(SELECT user_id FROM events WHERE event_type = 'view')")}) a,
         ({_hll_est_sql("user_id", "(SELECT user_id FROM events WHERE event_type = 'purchase')")}) b,
         ({_hll_est_sql("user_id", "(SELECT user_id FROM events WHERE event_type IN ('view', 'purchase'))")}) u,
         (SELECT CAST(count(*) AS BIGINT) AS exact_intersection FROM
            (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
             INTERSECT
             SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')) x
    """,
)
def hll_intersection_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-only audience-overlap estimate (extension: set algebra
    on mergeable sketches): viewers ∩ purchasers by HLL
    inclusion–exclusion, certified against the register-replay oracle
    with the exact intersect twin alongside (the twin is the
    certification aid; at 100 TB only the three sketches remain)."""
    from sparkobs.operators.profile import (
        hll_intersection_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    viewers = ev.where(F.col("event_type") == "view")
    buyers = ev.where(F.col("event_type") == "purchase")
    est = hll_intersection_estimate(
        hll_registers(viewers, "user_id"), hll_registers(buyers, "user_id")
    )
    exact = (
        viewers.select("user_id")
        .distinct()
        .intersect(buyers.select("user_id").distinct())
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_a",
        "est_b",
        "est_union",
        "est_intersection",
        "exact_intersection",
        F.round(
            F.abs(F.col("est_intersection") - F.col("exact_intersection"))
            / F.col("exact_intersection"),
            4,
        ).alias("rel_err"),
    )


@query(
    "waiting_suppliers_q21",
    oracle="""
    WITH l AS (
      SELECT l_orderkey AS ok, l_suppkey AS sk,
             max(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                      THEN 1 ELSE 0 END) AS is_late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY 1, 2),
    per_order AS (
      SELECT ok, count(*) AS n_sup, sum(is_late) AS n_late_sup FROM l GROUP BY 1)
    SELECT s_name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM l
    JOIN per_order USING (ok)
    JOIN supplier ON s_suppkey = sk
    WHERE is_late = 1 AND n_sup >= 2 AND n_late_sup = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def waiting_suppliers_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): suppliers
    whose line was the ONLY late one on a finished multi-supplier
    order. The classic EXISTS/NOT-EXISTS pair over self-joined
    lineitem decorrelates into ONE (order, supplier) aggregate with a
    per-order rollup — `exists other supplier` ⇔ n_sup ≥ 2,
    `not exists other late supplier` ⇔ n_late_sup = 1 for the late
    one — so lineitem is scanned once instead of three times. With no
    commit/receipt dates in the schema, late = shipped > 90 days
    after the order date (as in the Q12 adaptation)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    ).cast("long")
    # materialized once (eager checkpoint): BOTH the per-order rollup
    # and the final join read this frame — without it each leg re-scans
    # lineitem⋈orders, i.e. two full fact scans at 100 TB. The frame
    # itself is (order, supplier) pairs — orders-sized, not lineitem-
    # sized.
    per_pair = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .agg(F.max(late).alias("is_late"))
        .localCheckpoint(eager=True)
    )
    per_order = per_pair.groupBy("ok").agg(
        F.count(F.lit(1)).alias("n_sup"), F.sum("is_late").alias("n_late_sup")
    )
    return (
        per_pair.join(per_order, "ok")
        .where(
            (F.col("is_late") == 1)
            & (F.col("n_sup") >= 2)
            & (F.col("n_late_sup") == 1)
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("sk"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "patchify_synth_media",
    oracle="""
    WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
    p AS (
      SELECT doc_id, t.i AS patch_col,
             round(list_sum(list_transform(generate_series(8 * t.i + 1, 8 * t.i + 8),
                                           j -> ord(substr(h, CAST(j AS INT), 1))))
                   / 8.0, 4) AS mean_value
      FROM m, unnest([0, 1, 2, 3]) AS t(i))
    SELECT doc_id AS id, CAST(0 AS INT) AS patch_row,
           CAST(patch_col AS INT) AS patch_col, CAST(1 AS INT) AS n_channels,
           mean_value, CAST(NULL AS VARCHAR) AS error
    FROM p
    UNION ALL
    SELECT doc_id, CAST(0 AS INT), CAST(patch_col AS INT), CAST(1 AS INT),
           mean_value, CAST(NULL AS VARCHAR)
    FROM p
    """,
)
def patchify_synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch extraction over deterministic synthetic payloads
    (extension: multimodal tokenization): each doc's md5 raster (a
    32×1 PGM and the same pixels as a PNG) cuts into four 8×1
    patches whose means DuckDB predicts exactly from md5(text) — the
    decode → patch grid → per-patch stats path is value-certified,
    not just unit-tested."""
    from sparkobs.operators.multimodal import patchify_media, synth_media

    docs = load_table(spark, sf_dir, "documents")
    return patchify_media(synth_media(docs), patch_w=8, patch_h=1)


@query(
    "conversion_latency_events",
    oracle="""
    WITH f0 AS (
      SELECT user_id, min(epoch_us(ts)) AS t0
      FROM events WHERE event_type = 'view' GROUP BY 1),
    f1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    lat AS (
      SELECT CASE WHEN t1 > t0 THEN t1 - t0 END AS l
      FROM f0 LEFT JOIN f1 USING (user_id))
    SELECT CAST(count(*) AS BIGINT) AS n_from,
           CAST(count(l) AS BIGINT) AS n_converted,
           round(count(l) * 1.0 / count(*), 4) AS conversion_rate,
           sum(l) / count(l) / 1e6 AS mean_latency_s,
           quantile_cont(l, 0.5) / 1e6 AS p50_latency_s,
           quantile_cont(l, 0.9) / 1e6 AS p90_latency_s,
           max(l) / 1e6 AS max_latency_s
    FROM lat
    """,
)
def conversion_latency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → first-purchase latency distribution (extension:
    funnel timing — the seconds behind the funnel's counts; exact
    integer-microsecond statistics)."""
    from sparkobs.operators.behavior import conversion_latency

    return conversion_latency(
        load_table(spark, sf_dir, "events"), "user_id", "view", "purchase"
    )


def _kmeans_ctes(k: int = 8, iters: int = 2, dim: int = 64) -> list[str]:
    """The unrolled-iteration CTE chain shared by the k-means oracles
    (assign d{t}/a{t}, update s{t}/c{t}); the final assignment is
    ``a{iters}``. Possible only because the fit runs in fixed point
    (see operators/cluster.py), so the trajectory is bit-reproducible
    across engines."""
    r = f"range(1, {dim + 1})"
    parts = [
        f"""v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000) AS BIGINT)) AS q
      FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
             list_transform(q, x -> x * 100) AS cq
      FROM v ORDER BY vec_id LIMIT {k})"""
    ]

    def assign(t: int, cents: str) -> str:
        return f"""d{t} AS (
      SELECT v.vec_id, v.q, c.cluster,
             list_sum(list_transform({r},
                      i -> (v.q[i] * 100 - c.cq[i])
                         * (v.q[i] * 100 - c.cq[i]))) AS dist
      FROM v CROSS JOIN {cents} c),
    a{t} AS (
      SELECT vec_id, q, cluster, dist
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cluster) AS rn
            FROM d{t})
      WHERE rn = 1)"""

    for t in range(iters):
        parts.append(assign(t, f"c{t}"))
        parts.append(
            f"""s{t + 1} AS (
      SELECT cluster, d, sum(q[d]) AS s, count(*) AS n
      FROM a{t}, {r} AS t(d) GROUP BY 1, 2),
    c{t + 1} AS (
      SELECT cluster,
             list(CAST(floor(s * 100.0 / n) AS BIGINT) ORDER BY d) AS cq
      FROM s{t + 1} GROUP BY 1)"""
        )
    parts.append(assign(iters, f"c{iters}"))
    return parts


def _kmeans_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """DuckDB mirror of cluster.kmeans_fit (cluster stats report)."""
    parts = _kmeans_ctes(k, iters, dim)
    parts.append(
        f"""css AS (
      SELECT cluster, list_sum(list_transform(cq, x -> x * x)) AS ss
      FROM c{iters})"""
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(a.cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(a.dist) AS DOUBLE) / 1e10 AS inertia,
           CAST(max(css.ss) AS BIGINT) AS centroid_ss
    FROM a{iters} a JOIN css USING (cluster)
    GROUP BY 1
    """


def _kmeans_ari_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """DuckDB mirror of cluster.adjusted_rand_index over the k-means
    assignment vs the embeddings' label column — integer pair
    counting on the contingency table, one double division at the
    end with the same cast-then-divide order as the Spark side."""
    parts = _kmeans_ctes(k, iters, dim)
    parts.append(
        f"""cells AS (
      SELECT a.cluster, e.label, count(*) AS nij
      FROM a{iters} a JOIN embeddings e USING (vec_id)
      GROUP BY 1, 2),
    sij AS (SELECT sum(nij * (nij - 1) // 2) AS sij FROM cells),
    sa AS (SELECT sum(a * (a - 1) // 2) AS sa
           FROM (SELECT sum(nij) AS a FROM cells GROUP BY cluster)),
    sb AS (SELECT sum(b * (b - 1) // 2) AS sb
           FROM (SELECT sum(nij) AS b FROM cells GROUP BY label)),
    tot AS (SELECT sum(nij) AS n,
                   count(DISTINCT cluster) AS n_clusters,
                   count(DISTINCT label) AS n_labels
            FROM cells)"""
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CASE WHEN (n * (n - 1) // 2) * (sa + sb) - 2 * sa * sb != 0
                THEN CAST(2 * ((n * (n - 1) // 2) * sij - sa * sb) AS DOUBLE)
                     / CAST((n * (n - 1) // 2) * (sa + sb) - 2 * sa * sb AS DOUBLE)
           END AS ari,
           CAST(n AS BIGINT) AS n_rows,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_labels AS BIGINT) AS n_labels
    FROM sij, sa, sb, tot
    """


def _pagerank_oracle(iters: int = 3, weighted: bool = False) -> str:
    """DuckDB mirror of graph.pagerank_fixed over the co-purchase
    graph, iterations unrolled — exact because every rank is an
    integer (see operators/graph.py). ``weighted`` uses the distinct
    linking-order count as the edge weight (share = (r·w) // W,
    identical to the unweighted formula at w ≡ 1)."""
    if weighted:
        b = """b AS (
      SELECT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c,
             count(DISTINCT o_orderkey) AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2)"""
    else:
        b = """b AS (
      SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c, 1 AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey)"""
    parts = [
        b
        + """,
    e AS (SELECT s AS src, c AS dst, w FROM b
          UNION ALL SELECT c, s, w FROM b),
    outdeg AS (SELECT src, sum(w) AS od FROM e GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    n AS (SELECT count(*) AS nn FROM nodes),
    r0 AS (SELECT node, 1000000000 // nn AS r FROM nodes CROSS JOIN n)"""
    ]
    for t in range(iters):
        parts.append(
            f"""i{t} AS (
      SELECT e.dst AS node, sum((r.r * e.w) // o.od) AS inf
      FROM e JOIN r{t} r ON e.src = r.node
             JOIN outdeg o ON o.src = e.src
      GROUP BY 1),
    r{t + 1} AS (
      SELECT nodes.node,
             150000000 // nn + (85 * coalesce(inf, 0)) // 100 AS r
      FROM nodes CROSS JOIN n LEFT JOIN i{t} USING (node))"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_type,
           CAST(node // 2 AS BIGINT) AS node_key,
           CAST(r AS BIGINT) AS rank_units
    FROM r{iters} ORDER BY r DESC, node LIMIT 20
    """


@query("pagerank_copurchase", oracle=_pagerank_oracle())
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier–customer co-purchase graph
    (extension: link analysis) — 3 fixed-point supersteps, top-20
    nodes; certified against the unrolled-iteration DuckDB oracle.
    Integer micro-unit ranks make the iterative trajectory
    bit-reproducible across engines (operators/graph.py)."""
    from sparkobs.operators.graph import (
        copurchase_edges,
        decode_copurchase_node,
        pagerank_fixed,
    )

    pr = pagerank_fixed(
        copurchase_edges(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
        ),
        iters=3,
        edges_distinct=True,  # distinct pair table + disjoint swap
    )
    top = pr.orderBy(F.desc("rank_units"), F.asc("node")).limit(20)
    return decode_copurchase_node(top)


@query("pagerank_weighted_copurchase", oracle=_pagerank_oracle(weighted=True))
def pagerank_weighted_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-purchase graph (extension: link
    analysis with relationship strength): edge weight = distinct
    linking orders, rank splits proportionally — share = (r·w) // W,
    still exact integer micro-units, certified against the unrolled
    weighted oracle."""
    from sparkobs.operators.graph import (
        copurchase_edges_weighted,
        decode_copurchase_node,
        pagerank_fixed,
    )

    pr = pagerank_fixed(
        copurchase_edges_weighted(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
        ),
        iters=3,
        weight_col="w",
    )
    top = pr.orderBy(F.desc("rank_units"), F.asc("node")).limit(20)
    return decode_copurchase_node(top)


def _ppr_oracle(iters: int = 3, k_tele: int = 5) -> str:
    """Unrolled PERSONALIZED PageRank: rank init and the (1−d) base
    mass restrict to the teleport set (the k lowest supplier nodes),
    zero elsewhere — same integer arithmetic as _pagerank_oracle."""
    parts = [
        """b AS (
      SELECT DISTINCT l_suppkey * 2 AS s, o_custkey * 2 + 1 AS c, 1 AS w
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
    e AS (SELECT s AS src, c AS dst, w FROM b
          UNION ALL SELECT c, s, w FROM b),
    outdeg AS (SELECT src, sum(w) AS od FROM e GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    tele AS (SELECT node FROM nodes WHERE node % 2 = 0
             ORDER BY node LIMIT """
        + str(k_tele)
        + """),
    n AS (SELECT count(*) AS nn FROM tele),
    nt AS (SELECT nodes.node,
                  CASE WHEN tele.node IS NOT NULL THEN 1 ELSE 0 END AS t
           FROM nodes LEFT JOIN tele ON tele.node = nodes.node),
    r0 AS (SELECT node, CASE WHEN t = 1 THEN 1000000000 // nn
                             ELSE 0 END AS r
           FROM nt CROSS JOIN n)"""
    ]
    for t in range(iters):
        parts.append(
            f"""i{t} AS (
      SELECT e.dst AS node, sum((r.r * e.w) // o.od) AS inf
      FROM e JOIN r{t} r ON e.src = r.node
             JOIN outdeg o ON o.src = e.src
      GROUP BY 1),
    r{t + 1} AS (
      SELECT nt.node,
             CASE WHEN t = 1 THEN 150000000 // nn ELSE 0 END
               + (85 * coalesce(inf, 0)) // 100 AS r
      FROM nt CROSS JOIN n LEFT JOIN i{t} USING (node))"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
             AS node_type,
           CAST(node // 2 AS BIGINT) AS node_key,
           CAST(r AS BIGINT) AS rank_units
    FROM r{iters} ORDER BY r DESC, node LIMIT 20
    """


@query("pagerank_personalized_copurchase", oracle=_ppr_oracle())
def pagerank_personalized_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank (extension: proximity ranking — "which
    customers sit closest to THESE suppliers"): the random surfer
    restarts only inside the teleport set (the 5 lowest supplier
    nodes), so ranks measure graph proximity to it; same fixed-point
    integer kernel, certified against the unrolled teleport
    oracle."""
    from sparkobs.operators.graph import (
        copurchase_edges,
        decode_copurchase_node,
        pagerank_fixed,
    )

    edges = copurchase_edges(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    ).localCheckpoint()  # referenced by tele AND the kernel — one derivation
    tele = (
        edges.select(F.col("src").alias("node"))
        .where(F.col("node") % 2 == 0)
        .distinct()
        .orderBy("node")
        .limit(5)
    )
    pr = pagerank_fixed(edges, iters=3, teleport=tele, edges_distinct=True)
    top = pr.orderBy(F.desc("rank_units"), F.asc("node")).limit(20)
    return decode_copurchase_node(top)


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table (extension:
    the clustering primitive behind IVF coarse quantizers and SemDeDup
    pruning) — 2 fixed-point iterations from the 8 lowest-id seeds,
    certified against the unrolled-iteration DuckDB oracle. Per
    iteration: one broadcast-join assignment scan of the corpus + one
    posexplode hash-agg update; centroid tables are k x dim and
    eagerly checkpointed so iterations never replay upstream lineage."""
    from sparkobs.operators.cluster import kmeans_fit

    return kmeans_fit(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    )


def _kmeans_assign_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """The fit's final assignment straight from the shared CTE chain —
    the oracle for the streaming scoring twin."""
    ctes = ",\n    ".join(_kmeans_ctes(k, iters, dim))
    return f"""
    WITH {ctes}
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           CAST(dist AS BIGINT) AS dist
    FROM a{iters}
    """


@query("streaming_kmeans_assign_embeddings", oracle=_kmeans_assign_oracle())
def streaming_kmeans_assign_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train batch, serve streaming: the fixed-point k-means fit runs
    as a batch job, its k x dim INTEGER centroid table folds into the
    scoring expression as constants (from_json literal arrays — the
    bounded-collect pattern the IVF index uses), and embeddings then
    stream through a STATELESS map-only nearest-centroid select
    (append mode, no state store at all). Certified against the
    training oracle's own assignment CTEs — the continuous scorer
    must reproduce the fit's final assignment bit for bit."""
    import json
    import os
    import tempfile

    from sparkobs.operators.cluster import C_SUBSCALE, VQ_SCALE, _fit
    from sparkobs.streaming.monitors import run_to_memory

    emb = load_table(spark, sf_dir, "embeddings")
    _, cents, _ = _fit(emb, "vec_id", "embedding", k=8, iters=2)
    cent_rows = cents.orderBy("cluster").collect()  # k x dim ints, bounded

    from sparkobs.io import ensure_stage

    key = _stage_key(sf_dir, "embeddings", "stream4")
    stage = ensure_stage(
        os.path.join(tempfile.gettempdir(), f"sparkobs_stream_emb_{key}"),
        lambda tmp: emb.coalesce(4).write.mode("overwrite").parquet(tmp),
    )

    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>, label int"
    ).parquet(stage)
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * VQ_SCALE).cast("bigint"),
    )
    cands = []
    for r in cent_rows:
        cq = F.from_json(
            F.lit(json.dumps([int(v) for v in r["cq"]])), "array<bigint>"
        )
        d = F.aggregate(
            F.zip_with(
                q, cq, lambda a, b: (a * C_SUBSCALE - b) * (a * C_SUBSCALE - b)
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        cands.append(
            F.struct(
                d.alias("dist"),
                F.lit(int(r["cluster"])).cast("bigint").alias("cluster"),
            )
        )
    best = F.array_min(F.array(*cands))
    out = stream.select(
        "vec_id", best["cluster"].alias("cluster"), best["dist"].alias("dist")
    )
    tbl = run_to_memory(out, "kmeans_serve_stream", output_mode="append")
    return spark.table(tbl)


@query("kmeans_ari_embeddings", oracle=_kmeans_ari_oracle())
def kmeans_ari_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation (extension: the score behind
    "did the clustering recover the labels?"): Adjusted Rand Index of
    the fixed-point k-means assignment against the embeddings' label
    column — exact integer pair counting over the k x L contingency
    table, certified against the shared unrolled-iteration oracle."""
    from sparkobs.operators.cluster import adjusted_rand_index, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, k=8, iters=2).select("id", "cluster")
    labeled = emb.select(F.col("vec_id").alias("id"), "label")
    return adjusted_rand_index(assigned, labeled)


@query(
    "streaming_debounce_events",
    oracle="""
    SELECT event_id, user_id, event_type, ts, round(value, 4) AS value
    FROM (
      SELECT event_id, user_id, event_type, ts, value,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events)
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) >= 600 * 1000000
    """,
)
def streaming_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of debounce_events_user_type: bursts collapse to
    their first row CONTINUOUSLY in session-window state (watermark
    drops closed sessions at steady state; complete mode for the
    drain) — must equal the batch lag-rule oracle row for row. The
    1-microsecond gap shave that aligns Spark's session merge with the
    ``gap >= 600 s`` batch rule lives in
    streaming.monitors.streaming_debounce."""
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stream_events,
        streaming_debounce,
    )

    stage_dir = _stage_events(spark, sf_dir)
    out = streaming_debounce(
        stream_events(spark, stage_dir),
        ["user_id", "event_type"],
        gap_seconds=600,
    )
    tbl = run_to_memory(out, "debounce_stream", output_mode="complete",
                        shuffle_partitions=4)
    return spark.table(tbl).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )


@query(
    "streaming_ks_drift_events",
    oracle="""
    WITH a AS (
      SELECT least(greatest(CAST(floor(value / 6.0) AS INT), 0), 99) AS bin,
             count(*) AS c_a
      FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
    b AS (
      SELECT least(greatest(CAST(floor(value / 6.0) AS INT), 0), 99) AS bin,
             count(*) AS c_b
      FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
    cells AS (
      SELECT coalesce(a.bin, b.bin) AS bin,
             coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
      FROM a FULL OUTER JOIN b ON a.bin = b.bin),
    tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM cells),
    cdfs AS (
      SELECT sum(c_a) OVER (ORDER BY bin) * 1.0 / n_a AS cdf_a,
             sum(c_b) OVER (ORDER BY bin) * 1.0 / n_b AS cdf_b,
             n_a, n_b
      FROM cells CROSS JOIN tot)
    SELECT round(max(abs(cdf_a - cdf_b)), 4) AS ks_d,
           CAST(max(n_a) AS BIGINT) AS n_a,
           CAST(max(n_b) AS BIGINT) AS n_b
    FROM cdfs
    """,
)
def streaming_ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ks_drift_events_halves — the lambda-free
    drift-test shape: the two samples' binned counts accumulate in the
    state store AS THE EVENTS ARRIVE (state bounded by geometry, 2 x
    100 cells, regardless of input size), and the KS distance runs as
    a bin-table-sized batch follow-up over the drained cells (shared
    tail: profile.ks_from_cells)."""
    from sparkobs.operators.profile import ks_from_cells
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stream_events,
        streaming_binned_counts,
    )

    stage_dir = _stage_events(spark, sf_dir)
    cells_stream = streaming_binned_counts(
        stream_events(spark, stage_dir), lo=0.0, hi=600.0, n_bins=100
    )
    tbl = run_to_memory(
        cells_stream, "ks_cells_stream", output_mode="complete",
        shuffle_partitions=2,
    )
    cells = (
        spark.table(tbl)
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("c")).otherwise(F.lit(0))).alias(
                "c_a"
            ),
            F.sum(F.when(F.col("half") == 1, F.col("c")).otherwise(F.lit(0))).alias(
                "c_b"
            ),
        )
    )
    return ks_from_cells(cells)


@query(
    "exact_quantiles_lineitem",
    oracle="""
    WITH data AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
      WHERE l_extendedprice IS NOT NULL),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM data),
    ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM data),
    qs AS (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]::DOUBLE[]) AS q),
    t AS (SELECT q, nn.n AS n, q * (nn.n - 1) AS rk FROM qs CROSS JOIN nn),
    pick AS (
      SELECT t.q, t.n,
             t.rk - floor(t.rk) AS frac,
             ceil(t.rk) - t.rk AS wlo,
             max(CASE WHEN ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
                      THEN ranked.v END) AS v0,
             max(CASE WHEN ranked.rn =
                        least(CAST(floor(t.rk) AS BIGINT) + 2, t.n)
                      THEN ranked.v END) AS v1
      FROM t JOIN ranked
        ON ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
        OR ranked.rn = least(CAST(floor(t.rk) AS BIGINT) + 2, t.n)
      GROUP BY 1, 2, 3, 4)
    SELECT q,
           CASE WHEN frac = 0 OR v0 = v1 THEN v0
                ELSE wlo * v0 + frac * v1 END AS value,
           n AS n_rows
    FROM pick ORDER BY q
    """,
)
def exact_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order-statistic quantiles WITHOUT a global sort
    (extension: the 100 TB exact-percentile path): two-pass
    histogram-bracket location (operators/profile.exact_quantiles_twopass)
    — pass 1 bins the column, the cumulative bin table locates each
    type-7 order statistic, pass 2 sorts only the ~n/n_bins-row
    bracket bins. Values are left UNROUNDED: both engines pick the
    identical order-statistic doubles and evaluate the identical
    weight arithmetic (wlo*v0 + frac*v1 with Spark's tied-key /
    integral-rank short-circuits), so the result is bit-identical by
    construction — the oracle replays the same formula over a
    row_number ranking."""
    from sparkobs.operators.profile import exact_quantiles_twopass

    li = load_table(spark, sf_dir, "lineitem")
    return exact_quantiles_twopass(
        li, "l_extendedprice", qs=(0.01, 0.25, 0.5, 0.75, 0.99)
    )


@query(
    "exact_quantiles_grouped_lineitem",
    oracle="""
    WITH data AS (
      SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    nn AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM data GROUP BY 1),
    ranked AS (
      SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
      FROM data),
    qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.99]::DOUBLE[]) AS q),
    t AS (SELECT nn.g, q, nn.n, q * (nn.n - 1) AS rk FROM qs CROSS JOIN nn),
    pick AS (
      SELECT t.g, t.q, t.n,
             t.rk - floor(t.rk) AS frac,
             ceil(t.rk) - t.rk AS wlo,
             max(CASE WHEN ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
                      THEN ranked.v END) AS v0,
             max(CASE WHEN ranked.rn =
                        least(CAST(floor(t.rk) AS BIGINT) + 2, t.n)
                      THEN ranked.v END) AS v1
      FROM t JOIN ranked ON ranked.g = t.g
       AND (ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
            OR ranked.rn = least(CAST(floor(t.rk) AS BIGINT) + 2, t.n))
      GROUP BY 1, 2, 3, 4, 5)
    SELECT g AS l_returnflag, q,
           CASE WHEN frac = 0 OR v0 = v1 THEN v0
                ELSE wlo * v0 + frac * v1 END AS value,
           n AS n_rows
    FROM pick ORDER BY 1, 2
    """,
)
def exact_quantiles_grouped_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group exact quantiles for groups too big to buffer
    (extension: the huge-group-safe grouped percentile —
    operators/profile.exact_quantiles_grouped): Spark's exact
    ``percentile`` aggregate holds each group's value buffer in one
    task's memory; the two-pass histogram-bracket variant keeps every
    step an ordinary hash agg / join / bin-table window, so a
    billion-row group never congregates. Bit-identical to the
    builtin per group (same Percentile.scala interpolation replay as
    the ungrouped twin)."""
    from sparkobs.operators.profile import exact_quantiles_grouped

    li = load_table(spark, sf_dir, "lineitem")
    return exact_quantiles_grouped(
        li, "l_returnflag", "l_extendedprice", qs=(0.25, 0.5, 0.75, 0.99)
    )


@query(
    "triangle_census_suppliers",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey AS g, l_suppkey AS n FROM lineitem),
    edges AS (
      SELECT DISTINCT a.n AS u, b.n AS v
      FROM os a JOIN os b ON a.g = b.g AND a.n < b.n),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY 1),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS t
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
      FROM deg),
    en AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
    SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
           (3e0 * t) / n_wedges AS global_clustering
    FROM agg, en, tri
    """,
)
def triangle_census_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the supplier co-occurrence graph (extension:
    the network-cohesion screen behind supply-chain clustering):
    suppliers are adjacent when they serve the same order; the count
    density-dispatches (operators/graph.triangle_stats) — this graph
    is tiny-and-near-complete (≤1k nodes per the census's own
    counts), so it takes the dense trace(A³)/6 tier; past the caps
    the degree-ordered oriented adjacency-intersection tier runs, so
    hub suppliers never enumerate degree² wedges. The oracle replays
    the naive u<v<w 3-way join — affordable at oracle scale, exactly
    what either tier must reproduce. All-integer output plus one
    unrounded division — bit-identical cross-engine."""
    from sparkobs.operators.graph import cooccurrence_edges, triangle_stats

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_suppkey")
    return triangle_stats(edges)


@query(
    "salted_distinct_customers_orders",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT)
             AS n_distinct_o_custkey
    FROM orders GROUP BY 1
    """,
)
def salted_distinct_customers_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew-proof exact distinct customers per order priority
    (extension: the salted two-stage COUNT DISTINCT every 100 TB
    pipeline needs for hot keys — 5 priority values over the whole
    fact table is exactly the shape that melts a single reducer).
    Salting by pmod(hash(value), 32) keeps the counts disjoint, so
    the result is EXACTLY the plain COUNT(DISTINCT) the oracle runs
    (operators/shape.grouped_distinct_salted)."""
    from sparkobs.operators.shape import grouped_distinct_salted

    o = load_table(spark, sf_dir, "orders")
    return grouped_distinct_salted(o, "o_orderpriority", "o_custkey")


@query(
    "attribution_linear_events",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
    tagged AS (
      SELECT *,
             first_value(CASE WHEN event_type = 'purchase'
                              THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS conv_id
      FROM ev),
    touches AS (
      SELECT event_type, conv_id,
             CAST(count(*) OVER (PARTITION BY user_id, conv_id)
                  AS BIGINT) AS n,
             row_number() OVER (PARTITION BY user_id, conv_id
                                ORDER BY ts, event_id) AS rn
      FROM tagged
      WHERE event_type <> 'purchase' AND conv_id IS NOT NULL),
    credited AS (
      SELECT event_type, conv_id,
             1000000 // n
               + CASE WHEN rn = 1 THEN 1000000 - (1000000 // n) * n
                      ELSE 0 END AS credit
      FROM touches)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           CAST(sum(credit) AS BIGINT) AS credit_units
    FROM credited GROUP BY 1
    """,
)
def attribution_linear_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution per channel (extension: the
    credit-assignment query behind marketing-spend dashboards): each
    purchase's credit splits equally across the user's preceding
    view/click/signup touches, integer micro-credit units so the
    per-channel sums cross engines exactly
    (operators/behavior.linear_attribution)."""
    from sparkobs.operators.behavior import linear_attribution

    return linear_attribution(
        load_table(spark, sf_dir, "events"), conversion="purchase"
    )


@query(
    "bm25_search_documents",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    dls AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM docs),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dl) AS BIGINT) AS sumdl
      FROM dls),
    hits AS (
      SELECT doc_id, dl, t.term,
             CAST(len(list_filter(toks, x -> x = t.term)) AS BIGINT) AS tf
      FROM dls CROSS JOIN (SELECT unnest(['data', 'vector']) AS term) t
      WHERE len(list_filter(toks, x -> x = t.term)) > 0),
    tdf AS (SELECT term, CAST(count(*) AS BIGINT) AS dft FROM hits GROUP BY 1),
    scored AS (
      SELECT doc_id,
             CAST(floor(10000e0
                 * ln(1e0 + (n - dft + 0.5e0) / (dft + 0.5e0))
                 * ((tf * 2.2e0)
                    / (tf + 1.2e0 * (1e0 - 0.75e0
                       + 0.75e0 * (dl / (CAST(sumdl AS DOUBLE) / n))))))
               AS BIGINT) AS u
      FROM hits JOIN tdf USING (term) CROSS JOIN stats)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(u) AS BIGINT) AS score_units
    FROM scored GROUP BY 1
    """,
)
def bm25_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval for the query {data, vector}
    (extension: the relevance scorer behind corpus search and
    retrieval-based curation): every per-term contribution floors to
    integer 1e-4 score units before the per-doc sum so channel sums
    are order-independent bigints (operators/text.bm25_scores); the
    oracle replays the identical parenthesized float expression, so
    even the transcendental idf crosses engines (same doubles in,
    same ln out, floor exact)."""
    from sparkobs.operators.text import bm25_scores

    return bm25_scores(
        load_table(spark, sf_dir, "documents"), terms=["data", "vector"]
    )


def _epoch_shuffle_oracle() -> str:
    from sparkobs.queries import _hex15_sql

    h = _hex15_sql("md5('epoch1' || CAST(doc_id AS VARCHAR))")
    return f"""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY ({h}), doc_id) AS BIGINT)
             AS shuffle_rank
    FROM documents
    """


@query("epoch_shuffle_documents", oracle=_epoch_shuffle_oracle())
def epoch_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (extension: replayable training
    order — resume mid-epoch, re-derive any batch): rank by the
    portable md5(seed + id) hash on the distributed global-index
    primitive (operators/sampling.epoch_shuffle_rank). The oracle
    replays the same hash order as one window — affordable at oracle
    scale; the engine side never funnels through a single-partition
    sort."""
    from sparkobs.operators.sampling import epoch_shuffle_rank

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle_rank(docs, "doc_id", seed="epoch1")


@query(
    "revenue_delta_drilldown_orders",
    oracle="""
    WITH a AS (
      SELECT o_orderpriority AS dim,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS before_units
      FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1),
    b AS (
      SELECT o_orderpriority AS dim,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS after_units
      FROM orders WHERE year(o_orderdate) = 2001 GROUP BY 1),
    j AS (
      SELECT coalesce(a.dim, b.dim) AS dim,
             coalesce(before_units, 0) AS before_units,
             coalesce(after_units, 0) AS after_units,
             coalesce(after_units, 0) - coalesce(before_units, 0)
               AS delta_units
      FROM a FULL OUTER JOIN b ON a.dim = b.dim),
    t AS (SELECT CAST(sum(delta_units) AS BIGINT) AS total FROM j)
    SELECT dim, before_units, after_units, delta_units,
           CASE WHEN total != 0 THEN delta_units / total END AS delta_share
    FROM j, t
    """,
)
def revenue_delta_drilldown_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metric root-cause drill-down (extension: the follow-up every
    threshold alert needs — which segment drove the move?): 2001 vs
    2000 revenue per order priority in exact integer cents
    (operators/metrics.delta_contribution); per-segment deltas and
    shares of the total move, shares as single unrounded integer
    divisions."""
    from sparkobs.operators.metrics import delta_contribution

    o = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    return delta_contribution(
        o.where(F.year("o_orderdate") == 2000),
        o.where(F.year("o_orderdate") == 2001),
        "o_orderpriority",
        "cents",
    )


@query(
    "streaming_freshness_events",
    oracle="""
    SELECT max(ts) AS max_ts,
           (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(ts))) // 1000000 AS staleness_s,
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(ts))) // 1000000) <= 604800 AS is_fresh
    FROM events
    """,
)
def streaming_freshness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the freshness SLA monitor: the running max
    event time accumulates CONTINUOUSLY in one state cell (no
    watermark — a global max needs no expiry), and the
    staleness/SLA verdict is a constant-time batch follow-up on the
    drained row against the replayable as-of instant
    (streaming/monitors.streaming_freshness)."""
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stream_events,
        streaming_freshness,
    )

    stage_dir = _stage_events(spark, sf_dir)
    out = streaming_freshness(stream_events(spark, stage_dir))
    tbl = run_to_memory(
        out, "freshness_stream", output_mode="complete",
        shuffle_partitions=2,
    )
    # TIMESTAMP_NTZ arithmetic (naive-as-UTC): unix_micros over a
    # session-tz TIMESTAMP diverges by the DST offset gap between the
    # two instants on a non-UTC driver (the vanilla gate's session).
    staleness = F.expr(
        "timestampdiff(MICROSECOND, CAST(max_ts AS TIMESTAMP_NTZ), "
        "CAST('2024-02-01 00:00:00' AS TIMESTAMP_NTZ)) div 1000000"
    )
    return spark.table(tbl).select(
        "max_ts",
        staleness.cast("long").alias("staleness_s"),
        (staleness <= F.lit(7 * 86400)).alias("is_fresh"),
    )


@query(
    "partition_gaps_events",
    oracle="""
    WITH p AS (SELECT DISTINCT date_trunc('minute', ts) AS b
               FROM events WHERE ts IS NOT NULL),
    bd AS (SELECT min(b) AS lo, max(b) AS hi,
                  CAST(count(*) AS BIGINT) AS n_present FROM p),
    sp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS b
           FROM bd),
    miss AS (SELECT b FROM sp
             WHERE b NOT IN (SELECT b FROM p)),
    ma AS (SELECT CAST(count(*) AS BIGINT) AS n_missing,
                  min(b) AS first_missing, max(b) AS last_missing
           FROM miss)
    SELECT CAST((epoch_us(hi) - epoch_us(lo)) // 60000000 + 1 AS BIGINT)
             AS n_expected,
           n_present, n_missing, first_missing, last_missing
    FROM bd, ma
    """,
)
def partition_gaps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-completeness monitor (extension: freshness' sibling —
    which minute partitions between first and last event are missing
    entirely? operators/checks.partition_gaps). One distinct bucket
    reduction, a sequence spine off the 1-row bounds, one anti join;
    expected count from exact integer microsecond arithmetic."""
    from sparkobs.operators.checks import partition_gaps

    return partition_gaps(
        load_table(spark, sf_dir, "events"), "ts", "minute"
    )


@query(
    "freshness_sla_tables",
    oracle="""
    SELECT 'events' AS table_name, max(ts) AS max_ts,
           (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(ts))) // 1000000 AS staleness_s,
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(ts))) // 1000000) <= 604800 AS is_fresh
    FROM events
    UNION ALL
    SELECT 'orders', max(o_orderdate),
           (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(o_orderdate))) // 1000000,
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(o_orderdate))) // 1000000) <= 604800
    FROM orders
    UNION ALL
    SELECT 'lineitem', max(l_shipdate),
           (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(l_shipdate))) // 1000000,
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(l_shipdate))) // 1000000) <= 604800
    FROM lineitem
    """,
)
def freshness_sla_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA monitor (extension: the first observability
    question — when did data last arrive, and is it within cadence?
    operators/checks.freshness_check): per-table max event time vs a
    REPLAYABLE reference instant (never wall clock), staleness in
    exact integer seconds, 7-day SLA verdict. One max() aggregate per
    table; the events table reads fresh, the warehouse facts read
    decades stale — both verdicts certified."""
    from sparkobs.operators.checks import freshness_check

    week = 7 * 86400
    return freshness_check(
        [
            ("events", load_table(spark, sf_dir, "events"), "ts"),
            ("orders", load_table(spark, sf_dir, "orders"), "o_orderdate"),
            (
                "lineitem",
                load_table(spark, sf_dir, "lineitem"),
                "l_shipdate",
            ),
        ],
        as_of="2024-02-01 00:00:00",
        sla_seconds={"events": week, "orders": week, "lineitem": week},
    )


@query(
    "merge_upsert_orders",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + 1000.0 AS o_totalprice,
             o_orderdate, o_orderpriority, FALSE AS del
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority, FALSE
      FROM orders WHERE o_orderkey % 101 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, TRUE
      FROM orders WHERE o_orderkey % 103 = 0)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM upd WHERE NOT del
    UNION ALL
    SELECT o.* FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM upd u
                      WHERE u.o_orderkey = o.o_orderkey)
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over snapshots (extension: the parquet-lake upsert —
    operators/state.merge_upsert): a deterministic change batch bumps
    every 97th order's price, inserts offset copies of every 101st,
    and deletes every 103rd; updates win on key, unmatched updates
    insert, flagged deletes drop their base row. One anti join is the
    whole plan. Price bump is identical double arithmetic (+1000.0 of
    the same input double), no rounding needed."""
    from sparkobs.operators.state import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    bump = (
        o.where(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("__del", F.lit(False))
    )
    ins = (
        o.where(F.col("o_orderkey") % 101 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        .withColumn("__del", F.lit(False))
    )
    dels = o.where(F.col("o_orderkey") % 103 == 0).withColumn(
        "__del", F.lit(True)
    )
    updates = bump.unionByName(ins).unionByName(dels)
    return merge_upsert(o, updates, ["o_orderkey"], deleted_col="__del")




# ---------------------------------------------------------------------------
# Phase 8 — the promoted round-7 queue (r8 gate wave): ablation recall,
# journey/time-in-state/budget curation, mutual-kNN components, disorder
# (batch + streaming), inclusion deps, salted-distinct + SLO streaming
# twins, BFS reach, seasonal/lead-lag/incident observability, column diff,
# monitor_suite, zone-map prune, CUBE, sliding HLL, and the multimodal
# dedup legs (image exact/near, audio, video). Staged + oracle-certified
# in the staging queue during r7; moved here verbatim (staging order) for
# driver certification.
# ---------------------------------------------------------------------------
@query(
    "dim_ablation_recall_embeddings",
    oracle="""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    n64 AS (SELECT vec_id, e,
                   sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
            FROM v),
    t64 AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                         i -> a.e[i] * b.e[i])) / (a.norm * b.norm), 6)
                   DESC, b.vec_id) AS rn
        FROM n64 a JOIN n64 b ON a.vec_id != b.vec_id)
      WHERE rn <= 5),
    h AS (SELECT vec_id, e[1:32] AS e FROM v),
    n32 AS (SELECT vec_id, e,
                   sqrt(list_sum(list_transform(e, x -> x * x))) AS norm
            FROM h),
    t32 AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 32),
                         i -> a.e[i] * b.e[i])) / (a.norm * b.norm), 6)
                   DESC, b.vec_id) AS rn
        FROM n32 a JOIN n32 b ON a.vec_id != b.vec_id)
      WHERE rn <= 5),
    m AS (SELECT count(*) AS n_matched
          FROM t64 JOIN t32 USING (vec_id, neighbor_id)),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
                 CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries
          FROM t64)
    SELECT n_queries, n_truth_pairs,
           CAST(n_matched AS BIGINT) AS n_matched,
           CAST(n_matched AS BIGINT) / n_truth_pairs AS recall
    FROM t, m
    """,
)
def dim_ablation_recall_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-dimension ablation (extension: the
    Matryoshka-truncation question — how much neighbor structure
    survives at half the dimensions?): recall@5 of brute-force cosine
    top-5 over the FIRST 32 components against the full-64-dim ground
    truth, both sides the certified deterministic brute tier (rounded
    cosine, id tiebreaks), the verdict one unrounded integer
    division. The oracle composes the two replays."""
    from sparkobs.operators.similarity import cosine_topk_bruteforce

    emb = load_table(spark, sf_dir, "embeddings")
    # both pair sets are referenced twice (semi join + the totals agg)
    # — checkpoint the 5n-row results so the scoring pass runs once
    full = (
        cosine_topk_bruteforce(emb, k=5)
        .select("vec_id", "neighbor_id")
        .localCheckpoint()
    )
    half = (
        cosine_topk_bruteforce(
            emb.withColumn("embedding", F.slice("embedding", 1, 32)), k=5
        )
        .select("vec_id", "neighbor_id")
        .localCheckpoint()
    )
    matched = full.join(half, ["vec_id", "neighbor_id"], "semi")
    t = full.agg(
        F.count_distinct("vec_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_truth_pairs"),
    )
    m = matched.agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    return t.crossJoin(F.broadcast(m)).select(
        "n_queries",
        "n_truth_pairs",
        "n_matched",
        (F.col("n_matched") / F.col("n_truth_pairs")).alias("recall"),
    )


@query(
    "conversion_paths_events",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
    tagged AS (
      SELECT *,
             first_value(CASE WHEN event_type = 'purchase'
                              THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS conv_id
      FROM ev),
    paths AS (
      SELECT user_id, conv_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM tagged
      WHERE event_type <> 'purchase' AND conv_id IS NOT NULL
      GROUP BY 1, 2),
    agg AS (SELECT path, CAST(count(*) AS BIGINT) AS n_conversions
            FROM paths GROUP BY 1)
    SELECT path, n_conversions FROM agg
    ORDER BY n_conversions DESC, path LIMIT 15
    """,
)
def conversion_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 conversion paths (extension: journey mining — the
    ordered channel sequence each purchase saw since the prior one;
    operators/behavior.conversion_paths). Path strings build from an
    array_sort over (ts, event id, channel) structs so tie order is
    engine-identical; the global top-k is TakeOrderedAndProject with
    a (count desc, path) tiebreak — a deterministic result set."""
    from sparkobs.operators.behavior import conversion_paths

    return conversion_paths(
        load_table(spark, sf_dir, "events"), conversion="purchase"
    )


@query(
    "time_weighted_value_events",
    oracle="""
    WITH base AS (
      SELECT event_type, value,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS dur
      FROM events WHERE value IS NOT NULL)
    SELECT event_type AS state,
           CAST(sum(dur) AS BIGINT) AS total_dur_us,
           CAST(sum(CAST(round(value * 100) AS HUGEINT) * dur) AS DOUBLE)
             / CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE) / 100e0
             AS twa_value
    FROM base WHERE dur IS NOT NULL
    GROUP BY 1
    """,
)
def time_weighted_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean value per event type (extension:
    time-in-state metrics — each value holds until the user's next
    event; operators/behavior.duration_weighted_mean). Integer cents
    × integer microseconds accumulate in DECIMAL(38,0) (bigint would
    overflow; Spark BigDecimal ≡ DuckDB HUGEINT summation), and the
    mean is one division of exactly-converted doubles, unrounded."""
    from sparkobs.operators.behavior import duration_weighted_mean

    return duration_weighted_mean(load_table(spark, sf_dir, "events"))


@query(
    "budget_select_documents",
    oracle="""
    WITH t AS (SELECT doc_id,
                      string_split_regex(text, '\\s+') AS toks
               FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_unique,
                 len(list_filter(toks, x -> x in ('the', 'a'))) AS n_stop
          FROM t),
    q AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 round(least(1.0, n_tokens / 50.0) * 0.4
                       + (n_unique / n_tokens) * 0.4
                       + (1.0 - n_stop / n_tokens) * 0.2, 4) AS quality
          FROM m),
    c AS (SELECT doc_id, n_tokens, quality,
                 CAST(sum(n_tokens) OVER (
                      ORDER BY quality DESC, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
          FROM q)
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens <= 5000
    """,
)
def budget_select_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget dataset selection (extension: the curation export
    — keep the best documents that fit the training budget): greedy
    by the certified 4-dp quality score with id tiebreak, integer
    prefix token sums on the distributed running-sum primitive, cut
    at 5000 tokens (operators/sampling.budget_select). Order, sums,
    and cut are bit-identical cross-engine because the sort key is
    the rounded certified score and every sum is a bigint."""
    from sparkobs.operators.sampling import budget_select

    return budget_select(
        load_table(spark, sf_dir, "documents"), budget_tokens=5000
    )


def _components_oracle(k: int = 3, rounds: int = 8) -> str:
    """Unrolled min-label propagation — replayable because a FIXED
    round count of min-propagation is deterministic (see
    operators/graph.min_label_components). Self-loop formulation:
    each round references l(t) exactly once, keeping the inlined CTE
    tree LINEAR (the least/coalesce formulation references it twice
    and blows up 2^rounds under CTE inlining)."""
    parts = []
    for t in range(rounds):
        parts.append(
            f"""l{t + 1} AS (
      SELECT e.dst AS node, min(l.lbl) AS lbl
      FROM eself e JOIN l{t} l ON l.node = e.src GROUP BY 1)"""
        )
    chain = ",\n    ".join(parts)
    return f"""
    WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
                FROM lineitem),
    pairs AS (
      SELECT a.s AS u, b.s AS v, CAST(count(*) AS BIGINT) AS w
      FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s GROUP BY 1, 2),
    directed AS (
      SELECT u AS a, v AS b, w FROM pairs
      UNION ALL SELECT v, u, w FROM pairs),
    top AS (
      SELECT a, b FROM (
        SELECT a, b,
               row_number() OVER (PARTITION BY a ORDER BY w DESC, b) AS r
        FROM directed) WHERE r <= {k}),
    mutual AS (
      SELECT t.a, t.b FROM top t WHERE EXISTS (
        SELECT 1 FROM top t2 WHERE t2.a = t.b AND t2.b = t.a)),
    edges AS (SELECT a AS src, b AS dst FROM mutual),
    nodes AS (SELECT DISTINCT s_suppkey AS node FROM supplier),
    eself AS (SELECT src, dst FROM edges
              UNION ALL SELECT node, node FROM nodes),
    l0 AS (SELECT node, node AS lbl FROM nodes),
    {chain}
    SELECT node, lbl AS component FROM l{rounds} ORDER BY node
    """


@query("components_supplier_mutual_knn", oracle=_components_oracle())
def components_supplier_mutual_knn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier communities: the dense co-occurrence graph (every
    supplier pair shares orders at any SF) is sparsified to its
    MUTUAL top-3 strongest partnerships (graph.mutual_topk_edges —
    the standard kNN-graph preprocessing), then labeled by
    fixed-round min-label propagation (graph.min_label_components,
    8 rounds, deterministic → replayable by the unrolled oracle).
    Isolated suppliers keep their own label. All-integer output."""
    from sparkobs.operators.graph import (
        cooccurrence_edges,
        min_label_components,
        mutual_topk_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pairs = cooccurrence_edges(li, "l_orderkey", "l_suppkey", weighted=True)
    edges = mutual_topk_edges(pairs, k=3)
    nodes = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node")
    ).distinct()
    return min_label_components(nodes, edges, rounds=8).orderBy("node")


@query(
    "event_disorder_events",
    oracle="""
    WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
    p AS (
      SELECT us,
             max(us) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev
      FROM e),
    f AS (
      SELECT us, prev,
             CASE WHEN prev IS NOT NULL AND us < prev
                  THEN 1 ELSE 0 END AS is_late,
             CASE WHEN prev IS NOT NULL AND us < prev
                  THEN prev - us END AS lateness
      FROM p)
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_late) AS BIGINT) AS n_late,
           CAST(sum(is_late) AS BIGINT) / CAST(count(*) AS BIGINT)
             AS late_rate,
           CAST(max(lateness) AS BIGINT) AS max_late_us,
           CASE WHEN sum(is_late) > 0
                THEN CAST(sum(lateness) AS BIGINT)
                   / CAST(sum(is_late) AS BIGINT) END AS mean_late_us
    FROM f
    """,
)
def event_disorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder diagnostic over arrival order (extension:
    the watermark-tuning measurement — how late is late data,
    operators/state.event_disorder_stats): the strictly-preceding
    running max runs on the distributed prefix primitive
    (joins.global_running_max), never a single-partition window;
    integer-microsecond lateness with unrounded single-division
    ratios. The oracle replays the same prefix max as one global
    window — affordable at oracle scale."""
    from sparkobs.operators.state import event_disorder_stats

    return event_disorder_stats(load_table(spark, sf_dir, "events"))


@query(
    "inclusion_deps_star_schema",
    oracle="""
    SELECT 'l_orderkey' AS from_col, 'o_orderkey' AS to_col,
           CAST(count(*) AS BIGINT) AS n_from_distinct,
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contained,
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT) AS containment
    FROM (SELECT DISTINCT l_orderkey AS k FROM lineitem
          WHERE l_orderkey IS NOT NULL) a
    LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders
               WHERE o_orderkey IS NOT NULL) b USING (k)
    UNION ALL
    SELECT 'l_partkey', 'p_partkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT)
    FROM (SELECT DISTINCT l_partkey AS k FROM lineitem
          WHERE l_partkey IS NOT NULL) a
    LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part
               WHERE p_partkey IS NOT NULL) b USING (k)
    UNION ALL
    SELECT 'o_custkey', 'c_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT)
    FROM (SELECT DISTINCT o_custkey AS k FROM orders
          WHERE o_custkey IS NOT NULL) a
    LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer
               WHERE c_custkey IS NOT NULL) b USING (k)
    UNION ALL
    SELECT 'p_partkey', 'l_partkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT)
    FROM (SELECT DISTINCT p_partkey AS k FROM part
          WHERE p_partkey IS NOT NULL) a
    LEFT JOIN (SELECT DISTINCT l_partkey AS k FROM lineitem
               WHERE l_partkey IS NOT NULL) b USING (k)
    UNION ALL
    SELECT 'c_custkey', 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS BIGINT)
    FROM (SELECT DISTINCT c_custkey AS k FROM customer
          WHERE c_custkey IS NOT NULL) a
    LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders
               WHERE o_custkey IS NOT NULL) b USING (k)
    """,
)
def inclusion_deps_star_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key DISCOVERY across the star schema (extension: the
    catalog-intelligence screen behind "which columns can join?"):
    containment of each candidate key column's distinct values in its
    candidate target, both directions for part/customer so orphan
    dimensions quantify too (operators/shape.inclusion_coefficient —
    each pair is two distinct reductions plus one left join, the fact
    table never ships un-deduplicated). Exact integers + unrounded
    single-division ratios."""
    from sparkobs.operators.shape import inclusion_coefficient

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    # each key column's distinct set reduces ONCE and serves every
    # pair it appears in — 6 distinct reductions for 5 pairs instead
    # of 10. Only the DOUBLY-referenced sets pay a checkpoint
    # (Catalyst reuses no subtree statically, so a lazy double-use
    # set would re-reduce per leg); l_orderkey/o_orderkey appear in
    # exactly one pair each, where a checkpoint is a pure extra job
    # (r14 audit).
    keys = {
        col: (
            lambda d, multi: d.localCheckpoint() if multi else d
        )(
            src.select(F.col(col)).where(F.col(col).isNotNull()).distinct(),
            multi_use,
        )
        for src, col, multi_use in [
            (li, "l_orderkey", False),
            (li, "l_partkey", True),
            (o, "o_orderkey", False),
            (o, "o_custkey", True),
            (p, "p_partkey", True),
            (c, "c_custkey", True),
        ]
    }
    pairs = [
        ("l_orderkey", "o_orderkey"),
        ("l_partkey", "p_partkey"),
        ("o_custkey", "c_custkey"),
        ("p_partkey", "l_partkey"),
        ("c_custkey", "o_custkey"),
    ]
    out = None
    for ca, cb in pairs:
        one = inclusion_coefficient(
            keys[ca], ca, keys[cb], cb, distinct=False
        )
        out = one if out is None else out.unionByName(one)
    return out


def _stage_events_arrival_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Stage events as ``n_files`` parquet files that a file-source
    stream is GUARANTEED to deliver in arrival (event_id) order:
    range-split by event_id, written one file per slice in ascending
    order with strictly increasing mtimes (FileStreamSource orders
    new files by modification time — same-job part files can tie and
    list in any order, which would scramble the arrival sequence the
    disorder diagnostic measures). Same mtime-keyed cache discipline
    as queries._stage_events."""
    import glob
    import os
    import shutil
    import tempfile

    from sparkobs.io import ensure_stage

    key = _stage_key(sf_dir, "events", f"arrival{n_files}")
    stage_dir = os.path.join(
        tempfile.gettempdir(), f"sparkobs_stream_{key}"
    )

    # r8 ADVICE (now the shared ensure_stage discipline, r9 item 4):
    # build into a pid-keyed tmp dir and publish by one atomic rename —
    # the old check-then-rmtree/makedirs raced a concurrent driver
    # staging the same sf_dir and could rmtree a stage mid-read
    def _build(build: str) -> None:
        os.makedirs(build)
        ev = load_table(spark, sf_dir, "events")
        lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
        base = 1_700_000_000
        if lo is None:
            # r8 ADVICE: empty events used to TypeError on span
            # arithmetic. Stage one empty schema-bearing chunk so the
            # file stream still starts and drains zero rows.
            tmp = os.path.join(build, "__tmp0")
            ev.repartition(1).write.mode("overwrite").parquet(tmp)
            parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
            if parts:
                dst = os.path.join(build, "chunk-00000.parquet")
                shutil.move(parts[0], dst)
                os.utime(dst, (base, base))
            shutil.rmtree(tmp)
        else:
            span = (hi - lo + 1 + n_files - 1) // n_files
            for i in range(n_files):
                a, b = lo + i * span, lo + (i + 1) * span
                tmp = os.path.join(build, f"__tmp{i}")
                ev.where(
                    (F.col("event_id") >= a) & (F.col("event_id") < b)
                ).coalesce(1).write.mode("overwrite").parquet(tmp)
                part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
                dst = os.path.join(build, f"chunk-{i:05d}.parquet")
                shutil.move(part, dst)
                shutil.rmtree(tmp)
                os.utime(dst, (base + i, base + i))

    return ensure_stage(stage_dir, _build, marker="_STAGED")


@query(
    "streaming_disorder_events",
    oracle="""
    WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
    p AS (
      SELECT us,
             max(us) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev
      FROM e),
    f AS (
      SELECT us, prev,
             CASE WHEN prev IS NOT NULL AND us < prev
                  THEN 1 ELSE 0 END AS is_late,
             CASE WHEN prev IS NOT NULL AND us < prev
                  THEN prev - us END AS lateness
      FROM p)
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(is_late) AS BIGINT) AS n_late,
           CAST(sum(is_late) AS BIGINT) / CAST(count(*) AS BIGINT)
             AS late_rate,
           CAST(max(lateness) AS BIGINT) AS max_late_us,
           CASE WHEN sum(is_late) > 0
                THEN CAST(sum(lateness) AS BIGINT)
                   / CAST(sum(is_late) AS BIGINT) END AS mean_late_us
    FROM f
    """,
)
def streaming_disorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the event-time disorder diagnostic
    (streaming/monitors.stateful_disorder): seven integer state cells
    carry the running prefix max and lateness accumulators across
    micro-batches; each batch sorts its rows by event_id and folds a
    vectorized prefix max, so the drained verdict over the 4-file
    one-file-per-trigger arrival-ordered stage is bit-identical to
    the batch operator's single pass — certified against the SAME
    DuckDB oracle as event_disorder_events. Ratios derive batch-side
    from the drained integer row, unrounded single divisions with the
    batch twin's exact guards."""
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stateful_disorder,
        stream_events,
    )

    stage_dir = _stage_events_arrival_ordered(spark, sf_dir)
    out = stateful_disorder(
        stream_events(spark, stage_dir, files_per_trigger=1)
    )
    tbl = run_to_memory(
        out, "disorder_stream", output_mode="update",
        shuffle_partitions=2,
    )
    last = (
        spark.table(tbl).orderBy(F.col("upd_seq").desc()).limit(1)
    )
    return last.select(
        "n_events",
        "n_late",
        F.when(
            F.col("n_events") > 0, F.col("n_late") / F.col("n_events")
        ).alias("late_rate"),
        "max_late_us",
        F.when(
            F.col("n_late") > 0, F.col("sum_late_us") / F.col("n_late")
        ).alias("mean_late_us"),
    )


@query(
    "streaming_salted_distinct_events",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_user_id
    FROM events GROUP BY event_type
    """,
)
def streaming_salted_distinct_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of the skew-proof exact distinct
    (streaming/monitors.stateful_salted_distinct): per-(group, salt)
    state cells each hold a disjoint ~1/n shard of a group's distinct
    value set, merged per micro-batch with a vectorized union; the
    batch follow-up takes each cell's latest partial (max_by upd_seq)
    and sums per group — exact, certified against the plain
    count-distinct oracle. The salt is the SAME pmod(xxhash64) the
    batch operator uses, so cell partials are comparable across the
    two modes."""
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stateful_salted_distinct,
        stream_events,
    )

    stage_dir = _stage_events(spark, sf_dir)
    out = stateful_salted_distinct(
        stream_events(spark, stage_dir, files_per_trigger=1)
    )
    tbl = run_to_memory(
        out, "salted_distinct_stream", output_mode="update",
        shuffle_partitions=4,
    )
    per_cell = (
        spark.table(tbl)
        .groupBy("entity", "salt")
        .agg(F.max_by("n_partial", "upd_seq").alias("__np"))
    )
    return per_cell.groupBy("entity").agg(
        F.sum("__np").cast("long").alias("n_distinct_user_id")
    ).select(
        F.col("entity").alias("event_type"), "n_distinct_user_id"
    )


@query(
    "impact_reach_supply_chain",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT src, dst FROM (
        SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= 48
      ) UNION ALL
      SELECT dst, src FROM (
        SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity >= 48
      )),
    reach(node, hop) AS (
      SELECT s_suppkey * 2 AS node, 0 AS hop
      FROM supplier WHERE s_nationkey = 7
      UNION
      SELECT e.dst, r.hop + 1 FROM reach r
      JOIN e ON e.src = r.node WHERE r.hop < 3
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
             AS node_type,
           node // 2 AS node_key,
           CAST(min(hop) AS INT) AS hop
    FROM reach GROUP BY 1, 2
    """,
)
def impact_reach_supply_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius reachability (extension: the lineage question the
    reference's monitor graph implies — a source fails, which
    downstream entities are touched, and how directly?): hop-labeled
    BFS (operators/graph.reachable_set) over the HIGH-VOLUME slice of
    the supplier↔customer co-purchase graph (edges only where a
    qualifying lineitem with l_quantity ≥ 48 links the pair — the
    full graph is near-complete and every node is one hop away),
    seeded at nation 7's suppliers, 3 hops. First-visit hop = exact
    shortest distance, so a bounded recursive-CTE oracle replays it
    as min(hop) over the expansion."""
    from sparkobs.operators.graph import (
        copurchase_edges,
        decode_copurchase_node,
        reachable_set,
    )

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") >= 48
    )
    o = load_table(spark, sf_dir, "orders")
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 7)
        .select((F.col("s_suppkey") * 2).alias("node"))
    )
    reach = reachable_set(copurchase_edges(li, o), seeds, max_hops=3)
    return decode_copurchase_node(reach).select(
        "node_type", "node_key", F.col("hop").cast("int").alias("hop")
    )


@query(
    "seasonal_profile_events",
    oracle="""
    WITH b AS (SELECT CAST(isodow(ts) AS INT) AS dow,
                      CAST(hour(ts) AS INT) AS hod,
                      CAST(value AS DOUBLE) AS v
               FROM events),
    m AS (SELECT dow, hod, v,
                 avg(v) OVER (PARTITION BY dow, hod) AS mu,
                 stddev_samp(v) OVER (PARTITION BY dow, hod) AS sd
          FROM b)
    SELECT dow, hod,
           CAST(count(*) AS BIGINT) AS n,
           round(round(sum(v), 4) / count(*), 4) AS mean_value,
           max(abs(round(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0
                              ELSE (v - mu) / sd END, 4))) AS max_abs_z
    FROM m GROUP BY 1, 2
    """,
)
def seasonal_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal expectation profile (extension: the observability
    baseline that makes alerting calendar-aware — Tuesday 14:00 is
    only anomalous relative to OTHER Tuesday-14:00s, not to the
    global mean): per hour-of-week bucket (ISO dow × hour), volume,
    the stable-convention mean, and the largest in-bucket |z|
    (features.group_zscore over the derived calendar keys — one
    window shuffle on a 168-key space, every moment map-side
    combined). A bucket whose max |z| jumps is the seasonal-aware
    alert; the 168-row profile is the broadcastable scoring table for
    live data."""
    from sparkobs.operators.features import group_zscore

    ev = load_table(spark, sf_dir, "events").select(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
        F.col("value").cast("double").alias("v"),
    )
    z = group_zscore(ev, ["dow", "hod"], "v", keep_cols=["v"])
    return z.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.round(F.sum("v"), 4) / F.count(F.lit(1)), 4
        ).alias("mean_value"),
        F.max(F.abs(F.col("zscore"))).alias("max_abs_z"),
    )


@query(
    "lead_lag_corr_events",
    oracle="""
    WITH s AS (
      SELECT event_type AS p, date_trunc('hour', ts) AS b,
             CAST(count(*) AS DOUBLE) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2),
    a AS (SELECT b, y AS ya FROM s WHERE p = 'click'),
    bb AS (SELECT b, y AS yb FROM s WHERE p = 'purchase'),
    ks AS (SELECT CAST(unnest(generate_series(-6, 6)) AS INT) AS lag),
    pr AS (SELECT ks.lag, a.ya, bb.yb
           FROM ks CROSS JOIN bb
           JOIN a ON a.b = bb.b + to_hours(ks.lag)),
    st AS (SELECT lag,
                  CAST(count(*) AS DOUBLE) AS m,
                  sum(yb) AS sx, sum(ya) AS sy,
                  sum(yb * yb) AS sxx, sum(ya * ya) AS syy,
                  sum(yb * ya) AS sxy
           FROM pr GROUP BY 1)
    SELECT lag, CAST(m AS BIGINT) AS n_pairs,
           CASE WHEN (m * sxx - sx * sx) * (m * syy - sy * sy) > 0
                THEN round((m * sxy - sx * sy)
                           / sqrt((m * sxx - sx * sx)
                                  * (m * syy - sy * sy)), 4)
                ELSE 0.0 END + 0.0 AS xcorr
    FROM st
    """,
)
def lead_lag_corr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation of the click and purchase hourly
    series (extension: the root-cause follow-up to a metric alert —
    did the other metric move FIRST, and by how many buckets?
    operators/state.lead_lag_corr): Pearson xcorr at every lag in
    [−6, +6] hours from exact integer sufficient sums — bit-identical
    cross-engine, acf_lag1's exactness contract generalized to two
    series."""
    from sparkobs.operators.state import lead_lag_corr

    return lead_lag_corr(
        load_table(spark, sf_dir, "events"),
        "ts",
        "event_type",
        "click",
        "purchase",
        max_lag=6,
    )


# ONE oracle for the SLO burn pair: the batch query and the streaming
# twin certify against the identical SQL, mirroring the shared
# checks.slo_burn_derive derivation.
_SLO_BURN_ORACLE = """
    WITH h AS (
      SELECT date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err
      FROM events GROUP BY 1)
    SELECT bucket_ts, n, n_err,
           n_err / n AS err_rate,
           n_err / n / CAST(0.01 AS DOUBLE) AS burn_rate,
           sum(n_err) OVER (ORDER BY bucket_ts)
             / (CAST(0.01 AS DOUBLE)
                * sum(n) OVER (ORDER BY bucket_ts)) AS budget_used_frac
    FROM h
    """


@query("slo_burn_rate_events", oracle=_SLO_BURN_ORACLE)
def slo_burn_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn monitor (extension: the SRE reading of
    an error-rate series — operators/checks.slo_burn_rate): per hour,
    error rate vs the 1% error budget (99% SLO) and the running
    fraction of the period's budget consumed. Counts are exact
    integers; every float is one arithmetic expression over identical
    integers and the SAME budget double (the oracle CASTs the literal
    to DOUBLE — a bare 0.01 parses as DECIMAL in DuckDB and diverges),
    so the frame certifies unrounded."""
    from sparkobs.operators.checks import slo_burn_rate

    return slo_burn_rate(
        load_table(spark, sf_dir, "events"),
        "ts",
        F.col("event_type") == "error",
        error_budget=0.01,
    )


@query("streaming_slo_burn_events", oracle=_SLO_BURN_ORACLE)
def streaming_slo_burn_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the SLO burn monitor: per-hour total/error
    counters accumulate in watermarked tumbling-window state
    (streaming/monitors.streaming_error_counts — two integer cells
    per open window); the drained integer frame gets the identical
    batch-side burn/cumulative derivation as slo_burn_rate_events and
    certifies against the SAME oracle."""
    from sparkobs.streaming.monitors import (
        run_to_memory,
        stream_events,
        streaming_error_counts,
    )

    stage_dir = _stage_events(spark, sf_dir)
    out = streaming_error_counts(
        stream_events(spark, stage_dir), F.col("event_type") == "error"
    )
    tbl = run_to_memory(
        out, "slo_burn_stream", output_mode="complete",
        shuffle_partitions=4,
    )
    from sparkobs.operators.checks import slo_burn_derive

    return slo_burn_derive(spark.table(tbl), error_budget=0.01)


@query(
    "incident_groups_events",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
             CAST(count(*) AS DOUBLE) AS value
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT event_type, bucket_ts,
             avg(value) OVER w AS m,
             stddev_samp(value) OVER w AS s,
             count(value) OVER w AS n,
             value
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
    alerts AS (
      SELECT event_type, bucket_ts FROM scored
      WHERE n >= 2 AND s > 0 AND abs((value - m) / s) > 2.0),
    marked AS (
      SELECT event_type, bucket_ts,
             CASE WHEN lag(bucket_ts) OVER o IS NULL
                    OR epoch_us(bucket_ts)
                       - epoch_us(lag(bucket_ts) OVER o)
                       > 7200000000
                  THEN 1 ELSE 0 END AS new_inc
      FROM alerts
      WINDOW o AS (ORDER BY bucket_ts, event_type)),
    tagged AS (
      SELECT event_type, bucket_ts,
             sum(new_inc) OVER (ORDER BY bucket_ts, event_type
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS incident_id
      FROM marked)
    SELECT CAST(incident_id AS BIGINT) AS incident_id,
           min(bucket_ts) AS started_at, max(bucket_ts) AS ended_at,
           CAST(count(*) AS BIGINT) AS n_alerts,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_metrics
    FROM tagged GROUP BY 1
    """,
)
def incident_groups_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert → incident grouping (extension: the fatigue reducer after
    anomaly detection — operators/state.incident_groups): the certified
    trailing-z anomaly flags (anomaly_hourly_events' exact machinery)
    collapse into incidents wherever no 2 h quiet gap separates
    consecutive alerts, reporting span, alert count and the distinct-
    metric breadth per incident."""
    from sparkobs.operators.state import incident_groups, metric_anomalies

    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    flags = metric_anomalies(
        hourly, ["event_type"], ts_col="bucket_ts", value_col="value"
    ).where(F.col("is_anomaly"))
    return incident_groups(flags)


@query(
    "diff_columns_orders",
    oracle="""
    WITH old AS (SELECT * FROM orders WHERE o_orderkey % 100 <> 2),
    new AS (SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 100 = 3 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN o_orderkey % 100 = 1
                        THEN round(o_totalprice * 2, 2)
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 100 <> 0),
    j AS (SELECT * FROM old o JOIN new n USING (o_orderkey)),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n_compared,
                 CAST(sum(CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey THEN 1 ELSE 0 END) AS BIGINT) AS m_custkey,
                 CAST(sum(CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 1 ELSE 0 END) AS BIGINT) AS m_status,
                 CAST(sum(CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 1 ELSE 0 END) AS BIGINT) AS m_price,
                 CAST(sum(CASE WHEN o.o_orderdate IS DISTINCT FROM n.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS m_date,
                 CAST(sum(CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 1 ELSE 0 END) AS BIGINT) AS m_prio
          FROM old o JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT u.column, u.n_mismatch, a.n_compared,
           u.n_mismatch / a.n_compared AS mismatch_rate
    FROM a, (
      SELECT 'o_custkey' AS column, m_custkey AS n_mismatch FROM a
      UNION ALL SELECT 'o_orderstatus', m_status FROM a
      UNION ALL SELECT 'o_totalprice', m_price FROM a
      UNION ALL SELECT 'o_orderdate', m_date FROM a
      UNION ALL SELECT 'o_orderpriority', m_prio FROM a) u
    """,
)
def diff_columns_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level diff drill-down (extension: the follow-up to
    table_diff_orders' row verdict — which columns drove the churn?
    operators/state.diff_column_contributions): two deterministic
    versions of orders (price doubled on keys ≡1, status rewritten on
    keys ≡3 mod 100), null-safe per-column mismatch counts in one
    aggregate pass, rates as single unrounded integer divisions."""
    from sparkobs.operators.state import diff_column_contributions

    orders = load_table(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 100 != 2)
    new = (
        orders.where(F.col("o_orderkey") % 100 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 100 == 3, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 100 == 1,
                F.round(F.col("o_totalprice") * 2, 2),
            ).otherwise(F.col("o_totalprice")),
        )
    )
    return diff_column_contributions(old, new, ["o_orderkey"])


@query(
    "monitor_suite_lake",
    oracle="""
    SELECT 'events' AS table_name, 'freshness' AS check_type,
           'ts' AS column,
           CAST((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                 - epoch_us(max(ts))) // 1000000 AS DOUBLE) AS metric_value,
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(ts))) // 1000000) <= 604800 AS passed
    FROM events
    UNION ALL
    SELECT 'events', 'not_null', 'user_id',
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE),
           sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'events', 'accepted_values', 'event_type',
           CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                         ('view','click','purchase','signup','error')
                    THEN 1 ELSE 0 END) AS DOUBLE),
           sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                    ('view','click','purchase','signup','error')
               THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'orders', 'freshness', 'o_orderdate',
           CAST((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                 - epoch_us(max(o_orderdate))) // 1000000 AS DOUBLE),
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(o_orderdate))) // 1000000) <= 604800
    FROM orders
    UNION ALL
    SELECT 'orders', 'range', 'o_totalprice',
           CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000
                    THEN 1 ELSE 0 END) AS DOUBLE),
           sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000
               THEN 1 ELSE 0 END) = 0
    FROM orders
    """,
)
def monitor_suite_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative lake-wide monitor battery (capstone: the
    reference's configure-a-template-per-table UX as ONE DataFrame —
    monitors.monitor_suite): freshness SLAs plus contract checks for
    two configured tables union into a single long verdict frame.
    Integer metric values (staleness seconds / violation counts) in
    double form — certified without rounding conventions."""
    from sparkobs.monitors import monitor_suite

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return monitor_suite(
        [
            (
                "events",
                ev,
                "ts",
                [
                    ("not_null", "user_id"),
                    (
                        "accepted_values",
                        "event_type",
                        ("view", "click", "purchase", "signup", "error"),
                    ),
                ],
            ),
            ("orders", orders, "o_orderdate", [("range", "o_totalprice", 0, 1000000)]),
        ],
        as_of="2024-02-01 00:00:00",
    )


@query(
    "zone_map_prune_orders",
    oracle="""
    WITH zm AS (
      SELECT filename,
             min(o_orderdate) AS mn, max(o_orderdate) AS mx,
             CAST(count(*) AS BIGINT) AS n
      FROM read_parquet('{ZM16_DIR}/*.parquet', filename=true)
      GROUP BY 1),
    cls AS (
      SELECT CASE
               WHEN mx < TIMESTAMP '1996-01-01 00:00:00'
                 OR mn > TIMESTAMP '1996-12-31 00:00:00' THEN 'pruned'
               WHEN mn >= TIMESTAMP '1996-01-01 00:00:00'
                AND mx <= TIMESTAMP '1996-12-31 00:00:00' THEN 'full'
               ELSE 'partial' END AS c,
             n
      FROM zm)
    SELECT CAST(count(*) AS BIGINT) AS n_fragments,
           CAST(coalesce(sum(CASE WHEN c = 'pruned' THEN 1 END), 0) AS BIGINT) AS n_pruned,
           CAST(coalesce(sum(CASE WHEN c = 'full' THEN 1 END), 0) AS BIGINT) AS n_full,
           CAST(coalesce(sum(CASE WHEN c = 'partial' THEN 1 END), 0) AS BIGINT) AS n_partial,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS rows_total,
           CAST(coalesce(sum(CASE WHEN c = 'pruned' THEN n END), 0) AS BIGINT) AS rows_pruned,
           CAST(coalesce(sum(CASE WHEN c = 'full' THEN n END), 0) AS BIGINT) AS rows_full,
           CAST(coalesce(sum(CASE WHEN c = 'partial' THEN n END), 0) AS BIGINT) AS rows_partial,
           CASE WHEN coalesce(sum(n), 0) > 0 THEN
             CAST(coalesce(sum(CASE WHEN c = 'pruned' THEN n END), 0) AS DOUBLE)
               / CAST(sum(n) AS DOUBLE)
           END AS share_rows_pruned
    FROM cls
    """,
)
def zone_map_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map prune estimation (extension: the last
    reference-adjacent storage-health capability — the reference's
    storage monitors track per-object size/mtime, a zone map tracks
    per-object VALUE ranges, which is what decides whether a range
    predicate can skip the object entirely). Stages orders as a
    16-fragment range-partitioned layout (the staged-dir oracle
    convention from compaction_plan_sf_dir: both engines read the
    SAME staged files, so the sampling inside repartitionByRange never
    has to reproduce cross-engine), builds the fragment min/max map in
    one column-pruned scan, and estimates what the 1996 order-year
    predicate can skip: fragments and rows per
    pruned/full/partial class, exact integers + one unrounded share.
    At 100 TB the map is built once (or read from footers) and every
    subsequent predicate estimate is metadata-only."""
    from sparkobs.io import ensure_zone_map_stage
    from sparkobs.sources.listing import zone_map_build, zone_map_prune_estimate

    stage = ensure_zone_map_stage(spark, sf_dir)
    zmap = zone_map_build(spark, stage, "o_orderdate")
    return zone_map_prune_estimate(
        zmap,
        F.lit("1996-01-01 00:00:00").cast("timestamp"),
        F.lit("1996-12-31 00:00:00").cast("timestamp"),
    )


@query(
    "cube_revenue_status_priority",
    oracle="""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_revenue_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE / grouping-sets aggregation (OP-24/OP-34 extension — the
    one OLAP grouping shape rollup_revenue_region_nation left
    uncovered): all four (status, priority) grouping combinations in
    ONE pass via Catalyst's Expand (each input row fans to its 4
    grouping sets map-side; one shuffle, partial+final aggs — never 4
    scans). GROUPING flags are emitted as explicit per-column 0/1
    markers (engine-portable; bitmask bit ORDER is not). Money sums
    accumulate exact integer cents, one final division (half-cent
    convention)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(cents) / F.lit(100.0)).alias("total_price"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total_price",
        )
    )


def _hll_sliding_oracle(window_days: int = 7) -> str:
    from sparkobs.operators.profile import _HLL_ALPHA, _HLL_M
    from sparkobs.queries import _hex15_sql

    m = _HLL_M
    num = repr(_HLL_ALPHA * m * m * 2**33)
    w = window_days - 1
    return f"""
    WITH h0 AS (SELECT CAST(ts AS DATE) AS d,
                       md5(CAST(user_id AS VARCHAR)) AS dg
                FROM events WHERE user_id IS NOT NULL),
    h AS (SELECT d, {_hex15_sql('dg')} AS hv FROM h0),
    regs AS (SELECT d, hv % {m} AS bucket,
                    max(CASE WHEN (hv >> 8) % 4294967296 > 0
                             THEN 33 - length(bin((hv >> 8) % 4294967296))
                             ELSE 33 END) AS reg
             FROM h GROUP BY 1, 2),
    days AS (SELECT DISTINCT d AS t FROM regs),
    merged AS (SELECT t, bucket, max(reg) AS reg
               FROM regs JOIN days ON d BETWEEN t - {w} AND t
               GROUP BY 1, 2),
    agg AS (SELECT t, count(*) AS n_present,
                   sum(CAST(1 AS BIGINT) << (33 - reg))
                   + ({m} - count(*)) * CAST(8589934592 AS BIGINT) AS s_total
            FROM merged GROUP BY 1),
    est AS (SELECT t,
                   round(CASE WHEN {num} / s_total <= {2.5 * m}
                               AND {m} - n_present > 0
                              THEN {float(m)} * ln({m} / ({m} - n_present))
                              ELSE {num} / s_total END, 2) AS est_distinct
            FROM agg),
    ex AS (SELECT t, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
           FROM days JOIN (SELECT CAST(ts AS DATE) AS d, user_id
                           FROM events WHERE user_id IS NOT NULL) e
             ON e.d BETWEEN t - {w} AND t
           GROUP BY 1)
    SELECT est.t AS day, est_distinct, exact_distinct,
           round(abs(est_distinct - exact_distinct) / exact_distinct, 4) AS rel_err
    FROM est JOIN ex USING (t)
    """


@query("hll_sliding_users_events", oracle=_hll_sliding_oracle())
def hll_sliding_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day sliding distinct-user estimates per day from daily HLL
    register merges (extension: the "weekly active users, daily"
    rollup that exact COUNT DISTINCT cannot serve at scale — sliding
    windows overlap, so raw rows would re-count 7×; register tables
    merge by cellwise max instead). Registers build in ONE hash agg;
    per-day windows merge ≤ 7×256 register rows; the exact twin rides
    along for certification and is dropped at 100 TB. Same portable
    md5 register pipeline as the certified hll_* family, replayed end
    to end by the DuckDB oracle."""
    from sparkobs.operators.profile import hll_sliding_distinct

    return hll_sliding_distinct(
        load_table(spark, sf_dir, "events"), "ts", "user_id", window_days=7
    )


@query(
    "image_ahash_dedup_media",
    oracle="""
    WITH px AS (
      SELECT doc_id, i, ascii(substr(md5(text), CAST(i AS INT), 1)) AS p
      FROM documents, generate_series(1, 32) AS t(i)),
    tot AS (SELECT doc_id, sum(p) AS s FROM px GROUP BY 1),
    h AS (SELECT px.doc_id,
                 sum(CASE WHEN p * 32 > s
                          THEN CAST(1 AS BIGINT) << (32 - CAST(i AS INT))
                          ELSE CAST(0 AS BIGINT) END) AS ahash
          FROM px JOIN tot ON px.doc_id = tot.doc_id GROUP BY 1),
    clus AS (SELECT ahash, count(*) AS n FROM h GROUP BY 1)
    SELECT CAST((SELECT count(*) FROM h) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM h) * 2 AS BIGINT) AS n_images,
           CAST((SELECT count(*) FROM h) AS BIGINT) AS n_container_matches,
           CAST((SELECT count(*) FROM clus) AS BIGINT) AS n_distinct_hashes,
           CAST((SELECT max(n) FROM clus) AS BIGINT) AS max_cluster
    """,
)
def image_ahash_dedup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image exact-pixel dedup via average-hash (extension: the image
    leg of the dedup family — aHash fingerprints collide iff the
    decoded PIXELS match, regardless of container). Each doc stages as
    a PGM **and** a PNG of the same md5-derived raster; both decode
    through genuinely different code paths (netpbm header parse vs
    zlib inflate + unfilter), hash in exact integer arithmetic
    (bit i = pixel·n > Σpixels — no float mean), and MUST collide per
    doc (n_container_matches ≡ n_docs, which the oracle predicts from
    md5(text) alone without any decoder). Cluster stats fall out of a
    groupBy on the hash — the image analog of exact_dedup."""
    from sparkobs.operators.multimodal import image_ahash, synth_media

    docs = load_table(spark, sf_dir, "documents")
    hashes = image_ahash(synth_media(docs)).where(F.col("ahash").isNotNull())
    # checkpointed: per_doc feeds BOTH the cluster leg and the stats
    # leg, and Catalyst reuses no subtree statically — lazy, the
    # PGM+PNG decode + aHash kernels (the expensive Python boundary)
    # re-ran once per leg (8 Arrow eval nodes in one plan, r14 audit;
    # the same class the r13 image_near_dup_media fix closed). The
    # checkpoint is one row per doc.
    per_doc = hashes.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_fmt"),
        F.count_distinct("ahash").alias("n_h"),
        F.first("ahash").alias("ahash"),
    ).localCheckpoint(eager=True)
    clus = per_doc.groupBy("ahash").agg(F.count(F.lit(1)).alias("n"))
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_fmt").cast("long").alias("n_images"),
        F.sum(
            F.when((F.col("n_fmt") == 2) & (F.col("n_h") == 1), 1).otherwise(0)
        ).cast("long").alias("n_container_matches"),
    )
    cstats = clus.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_hashes"),
        F.max("n").cast("long").alias("max_cluster"),
    )
    return stats.crossJoin(F.broadcast(cstats))


@query(
    "image_near_dup_media",
    oracle="""
    WITH px AS (
      SELECT doc_id, i, ascii(substr(md5(text), CAST(i AS INT), 1)) AS p
      FROM documents, generate_series(1, 32) AS t(i)),
    allpx AS (
      SELECT doc_id AS id, i, p FROM px
      UNION ALL
      SELECT doc_id + 1000000000 AS id, i,
             CASE WHEN i = 1 THEN p + 40 ELSE p END AS p
      FROM px),
    tot AS (SELECT id, sum(p) AS s FROM allpx GROUP BY 1),
    h AS (SELECT allpx.id,
                 sum(CASE WHEN p * 32 > s
                          THEN CAST(1 AS BIGINT) << (32 - CAST(i AS INT))
                          ELSE CAST(0 AS BIGINT) END) AS ahash
          FROM allpx JOIN tot ON allpx.id = tot.id GROUP BY 1),
    bands AS (SELECT id, ahash, b, (ahash >> CAST(b * 8 AS INT)) & 255 AS bv
              FROM h, generate_series(0, 3) AS g(b)),
    cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b,
                    a.ahash AS ha, c.ahash AS hb
             FROM bands a JOIN bands c
               ON a.b = c.b AND a.bv = c.bv AND a.id < c.id)
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    ORDER BY 3, 1, 2
    """,
)
def image_near_dup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-duplicate detection via banded aHash (extension: the
    near tier of the image dedup leg — catches lightly-edited copies
    the exact-hash groupBy misses). Every doc's raster gains a planted
    "augmented" copy (first pixel bumped — perturb_media, the jitter
    an augmentation pipeline produces); hashes band into 4×8-bit
    buckets, candidates come from the band equi-join (Σ bucket², never
    images²), and bit_count(xor) verifies Hamming ≤ 3 — the pigeonhole
    bound guarantees every pair WITHIN that budget surfaces as a
    candidate (a planted copy whose bump flips >3 threshold bits is
    excluded by the verify filter, identically on both engines — at
    sf0.001 exactly one of 500 does). The oracle
    predicts ORIGINAL and AUGMENTED hashes from md5(text) alone and
    replays the same band join, so the whole decode → augment →
    re-decode → band → verify pipeline is value-certified."""
    from sparkobs.operators.multimodal import (
        image_ahash,
        image_ahash_near_pairs,
        perturb_media,
        synth_media,
    )

    orig = synth_media(load_table(spark, sf_dir, "documents")).where(
        F.col("container") == "pgm"
    )
    imgs = orig.unionByName(perturb_media(orig))
    hashes = image_ahash(imgs).where(F.col("ahash").isNotNull()).select(
        "id", "ahash"
    )
    # explicit width: the synth rasters are 32 pixels, so the hashes
    # are 32-bit — bits MUST match the upstream hash width (see the
    # image_ahash_near_pairs docstring; the oracle replays 4×8-bit
    # bands)
    return image_ahash_near_pairs(hashes, bits=32, n_bands=4)


@query(
    "audio_fingerprint_dedup_media",
    oracle="""
    WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                      octet_length(encode(text)) AS n
               FROM documents),
    fr AS (SELECT doc_id, h, n, unnest(range(0, 4)) AS f FROM b),
    q AS (SELECT doc_id, f,
             CAST(floor(sqrt(list_sum(list_transform(generate_series(1, 16),
                j -> pow(CASE WHEN f * 16 + j <= n THEN
                        (strpos('0123456789ABCDEF', substr(h, 2*(f*16+j)-1, 1)) - 1) * 16
                        + (strpos('0123456789ABCDEF', substr(h, 2*(f*16+j), 1)) - 1)
                      ELSE 0 END - 128.0, 2))) / 16.0) / 8.0) AS BIGINT) AS qo,
             CAST(floor(sqrt(list_sum(list_transform(generate_series(1, 16),
                j -> pow(CASE WHEN f * 16 + j <= n THEN
                        (strpos('0123456789ABCDEF', substr(h, 2*(f*16+j)-1, 1)) - 1) * 16
                        + (strpos('0123456789ABCDEF', substr(h, 2*(f*16+j), 1)) - 1)
                      ELSE 0 END + 1 - 128.0, 2))) / 16.0) / 8.0) AS BIGINT) AS qg
          FROM fr),
    sig AS (SELECT doc_id,
                   sum(qo * (CASE f WHEN 0 THEN 32768 WHEN 1 THEN 1024
                                    WHEN 2 THEN 32 ELSE 1 END)) AS sig_o,
                   sum(qg * (CASE f WHEN 0 THEN 32768 WHEN 1 THEN 1024
                                    WHEN 2 THEN 32 ELSE 1 END)) AS sig_g
            FROM q GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN sig_o = sig_g THEN 1 END), 0) AS BIGINT)
             AS n_gain_copies_matched,
           CAST(coalesce(sum(CASE WHEN sig_o = sig_g THEN 1 END), 0) AS DOUBLE)
             / count(*) AS match_rate
    FROM sig
    """,
)
def audio_fingerprint_dedup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection via gain-robust RMS fingerprints
    (extension: the audio leg of the dedup family — a +1-gain
    "remastered copy" has different bytes, so md5 dedup misses it;
    the quantized per-frame RMS signature mostly survives the shift).
    Each doc's u8 WAV gains a planted +1-gain copy (gain_media parses
    and re-encodes the real container); both fingerprint through the
    wave-parse → frame-RMS → floor-quantize → base-32-pack kernel, and
    the verdict is the per-doc match rate — every arithmetic step is
    float64-exact or correctly-rounded, so the DuckDB oracle predicts
    BOTH fingerprints from the text bytes with no audio stack at all.
    (Frames whose RMS sits within the gain shift of a quantization
    boundary legitimately flip — both engines agree on exactly
    which.)"""
    import struct

    from sparkobs.operators.multimodal import audio_fingerprint, gain_media

    header = (
        b"RIFF"
        + struct.pack("<I", 36 + 64)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data"
        + struct.pack("<I", 64)
    )
    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit(header),
        F.substring(F.concat(F.encode("text", "UTF-8"), F.lit(bytes(64))), 1, 64),
    )
    media = docs.select(F.col("doc_id").alias("id"), payload.alias("content"))
    orig = audio_fingerprint(media).select(
        "id", F.col("fingerprint").alias("sig_o")
    )
    gain = audio_fingerprint(gain_media(media)).select(
        (F.col("id") - 1_000_000_000).alias("id"),
        F.col("fingerprint").alias("sig_g"),
    )
    return (
        orig.join(gain, "id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("sig_o") == F.col("sig_g"), 1)), F.lit(0)
            ).cast("long").alias("n_gain_copies_matched"),
        )
        .select(
            "n_docs",
            "n_gain_copies_matched",
            (
                F.col("n_gain_copies_matched").cast("double") / F.col("n_docs")
            ).alias("match_rate"),
        )
    )


@query(
    "video_framehash_dedup_media",
    oracle="""
    WITH fr AS (
      SELECT doc_id, f, md5(text || '#f' || CAST(f AS VARCHAR)) AS hsh
      FROM documents, generate_series(0, 3) AS t(f)),
    px AS (SELECT doc_id, f, i,
                  ascii(substr(hsh, CAST(i AS INT), 1)) AS p
           FROM fr, generate_series(1, 32) AS s(i)),
    tot AS (SELECT doc_id, f, sum(p) AS s FROM px GROUP BY 1, 2),
    fhash AS (SELECT px.doc_id, px.f,
                     sum(CASE WHEN p * 32 > s
                              THEN CAST(1 AS BIGINT) << (32 - CAST(i AS INT))
                              ELSE CAST(0 AS BIGINT) END) AS ahash
              FROM px JOIN tot ON px.doc_id = tot.doc_id AND px.f = tot.f
              GROUP BY 1, 2),
    sampled AS (
      SELECT doc_id AS id, ahash FROM fhash WHERE f <= 2
      UNION ALL
      SELECT doc_id + 1000000000 AS id, ahash FROM fhash WHERE f >= 1),
    pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM sampled a JOIN sampled b
                ON a.ahash = b.ahash AND a.id < b.id)
    SELECT CAST((SELECT count(DISTINCT id) FROM sampled) AS BIGINT) AS n_videos,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN id_b - id_a = 1000000000 THEN 1 END), 0)
                AS BIGINT) AS n_planted_matched
    FROM pairs
    """,
)
def video_framehash_dedup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup detection via SAMPLED frame hashes (extension:
    the video leg of the dedup family — whole-file hashes miss a
    trimmed/rotated clip, but two videos sharing ANY sampled frame's
    aHash surface from one frame-hash equi-join). Each doc's 4-frame
    synthetic video gains a planted rotated-by-one copy (the trimmed
    clip); the first 3 frames of each video are hashed with the exact
    image aHash, and the verdict counts pairs sharing ≥1 sampled frame
    — rotation leaves 2 shared sampled frames, so every planted pair
    is found. The oracle predicts every frame hash from
    md5(text + '#f<i>') and replays the same join: the decode →
    frame-sample → hash → match pipeline is value-certified end to
    end. At 100 TB the equi-join is Σ bucket² over frame-hash buckets,
    never videos²."""
    from sparkobs.operators.multimodal import synth_video, video_frame_hashes

    vids = synth_video(load_table(spark, sf_dir, "documents"))
    # checkpointed: fh feeds both self-join sides AND the n_videos
    # count, and Catalyst reuses no subtree statically — lazy, the
    # video decode + per-frame aHash kernels re-ran once per
    # reference (12 Arrow eval nodes in one plan, r14 audit; same
    # class as the r13 image_near_dup_media fix). ≤3 rows per video.
    fh = (
        video_frame_hashes(vids, max_frames=3)
        .select("id", "ahash")
        .localCheckpoint(eager=True)
    )
    a, b = fh.alias("a"), fh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ahash") == F.col("b.ahash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    n_vids = fh.agg(F.count_distinct("id").cast("long").alias("n_videos"))
    return n_vids.crossJoin(
        F.broadcast(
            pairs.agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("id_b") - F.col("id_a") == 1_000_000_000, 1
                        )
                    ),
                    F.lit(0),
                ).cast("long").alias("n_planted_matched"),
            )
        )
    ).select("n_videos", "n_pairs", "n_planted_matched")


# ---------------------------------------------------------------------------
# Phase 9 — the promoted round-8 queue (r9 gate wave): the KMV mergeable
# quantile-sketch family (flat / merged / grouped / sliding + streaming
# twin), the RIFF/AVI container video-dedup leg, the streaming sliding-HLL
# twin, theta-sketch set algebra (batch + streaming twin), exact-substring
# span removal, and the percentile SLO contract battery. Staged +
# oracle-certified in the staging queue during r8; moved here verbatim
# (staging order) for driver certification.
# ---------------------------------------------------------------------------
def _kmv_est_sql(qs: tuple, sample: str = "sample", ka: str = "kk") -> str:
    """DuckDB CTE chain replaying Spark's exact ``percentile`` over a
    KMV sample CTE ``{sample}(v)``: emits ``est(q, q_bp, ka,
    est_value)``. Percentile.scala parity: rank = q*(n-1), weights
    (ceil(rank)-rank, rank-floor(rank)), integral-rank and tied-key
    short-circuits (CASE frac=0 OR v0=v1)."""
    qlist = ", ".join(repr(float(q)) for q in qs)
    bplist = ", ".join(str(int(round(q * 10000))) for q in qs)
    return f"""
    {ka} AS (SELECT CAST(count(*) AS BIGINT) AS ka FROM {sample}),
    ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM {sample}),
    qs AS (SELECT unnest([{qlist}]::DOUBLE[]) AS q,
                  unnest([{bplist}]::BIGINT[]) AS q_bp),
    t AS (SELECT q, q_bp, {ka}.ka, q * ({ka}.ka - 1) AS rk
          FROM qs CROSS JOIN {ka}),
    pick AS (
      SELECT t.q, t.q_bp, t.ka,
             t.rk - floor(t.rk) AS frac,
             ceil(t.rk) - t.rk AS wlo,
             max(CASE WHEN ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
                      THEN ranked.v END) AS v0,
             max(CASE WHEN ranked.rn =
                        least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka)
                      THEN ranked.v END) AS v1
      FROM t JOIN ranked
        ON ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
        OR ranked.rn = least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka)
      GROUP BY 1, 2, 3, 4, 5),
    est AS (SELECT q, q_bp, ka,
                   CASE WHEN frac = 0 OR v0 = v1 THEN v0
                        ELSE wlo * v0 + frac * v1 END AS est_value
            FROM pick)"""


_KMV_LI_QS = (0.01, 0.25, 0.5, 0.75, 0.99)


@query(
    "kmv_quantiles_lineitem",
    oracle=f"""
    WITH data AS (
      SELECT md5('kmv' || CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) AS dg,
             CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    hashed AS (SELECT {_hex15_sql('dg')} AS h, v FROM data),
    sample AS (SELECT v FROM (
        SELECT v, row_number() OVER (ORDER BY h, v) AS srn FROM hashed)
      WHERE srn <= 2048),
    {_kmv_est_sql(_KMV_LI_QS)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM data),
    cnt AS (SELECT est.q, est.q_bp, est.est_value, est.ka,
                   CAST(sum(CASE WHEN data.v <= est.est_value
                            THEN 1 ELSE 0 END) AS BIGINT) AS below
            FROM est, data GROUP BY 1, 2, 3, 4)
    SELECT q, est_value, ka AS k_actual, n.n_rows,
           CAST((below * 10000) // n.n_rows AS BIGINT) AS true_rank_bp,
           CAST(abs((below * 10000) // n.n_rows - q_bp) AS BIGINT) AS err_bp
    FROM cnt, n ORDER BY q
    """,
)
def kmv_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable unknown-range quantile sketch, certified (extension:
    the sketch-family gap the r7 verdict named — histogram_quantiles
    needs known bounds, exact_quantiles_twopass needs 3 passes; this
    is ONE pass, bounded state, no prior bounds). KMV bottom-k-by-hash
    sampler over l_extendedprice keyed by the (orderkey, linenumber)
    row id: k=2048 smallest salted md5 hashes carry their values;
    estimates are Spark's exact percentile over the k-row sample; the
    certification leg reports each estimate's TRUE rank in the full
    data as exact integer basis points (observed err ≤ ~120bp at
    k=2048 — the O(sqrt(q(1-q)/k)) band). The oracle replays hash,
    bottom-k, Percentile.scala interpolation, and the rank count —
    every output column bit-exact cross-engine (no float rounding
    anywhere: ranks are integer bp, estimates are raw sample
    doubles). See operators/profile.kmv_quantile_sketch for why
    bottom-k is the deterministic stand-in for GK/KLL (both are
    insertion-order-dependent — unreplayable under Spark's
    partitioning)."""
    from sparkobs.operators.profile import (
        kmv_quantile_certify,
        kmv_quantile_estimate,
        kmv_quantile_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rid = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    sk = kmv_quantile_sketch(li, rid, "l_extendedprice", k=2048, salt="kmv")
    est = kmv_quantile_estimate(sk, _KMV_LI_QS)
    return kmv_quantile_certify(li, "l_extendedprice", est)


_KMV_MERGE_QS = (0.25, 0.5, 0.75, 0.95)


@query(
    "kmv_quantiles_merged_orders",
    oracle=f"""
    WITH data AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             md5('kmv' || CAST(o_orderkey AS VARCHAR)) AS dg,
             CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    hashed AS (SELECT m, {_hex15_sql('dg')} AS h, v FROM data),
    permonth AS (SELECT h, v FROM (
        SELECT h, v, row_number() OVER (PARTITION BY m ORDER BY h, v) AS prn
        FROM hashed)
      WHERE prn <= 1024),
    sample AS (SELECT v FROM (
        SELECT v, row_number() OVER (ORDER BY h, v) AS srn FROM permonth)
      WHERE srn <= 1024),
    dsample AS (SELECT v FROM (
        SELECT v, row_number() OVER (ORDER BY h, v) AS srn FROM hashed)
      WHERE srn <= 1024),
    {_kmv_est_sql(_KMV_MERGE_QS)},
    dkk AS (SELECT CAST(count(*) AS BIGINT) AS ka FROM dsample),
    dranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM dsample),
    dt AS (SELECT q, q_bp, dkk.ka, q * (dkk.ka - 1) AS rk
           FROM qs CROSS JOIN dkk),
    dpick AS (
      SELECT dt.q, dt.ka,
             dt.rk - floor(dt.rk) AS frac,
             ceil(dt.rk) - dt.rk AS wlo,
             max(CASE WHEN dranked.rn = CAST(floor(dt.rk) AS BIGINT) + 1
                      THEN dranked.v END) AS v0,
             max(CASE WHEN dranked.rn =
                        least(CAST(floor(dt.rk) AS BIGINT) + 2, dt.ka)
                      THEN dranked.v END) AS v1
      FROM dt JOIN dranked
        ON dranked.rn = CAST(floor(dt.rk) AS BIGINT) + 1
        OR dranked.rn = least(CAST(floor(dt.rk) AS BIGINT) + 2, dt.ka)
      GROUP BY 1, 2, 3, 4),
    dest AS (SELECT q, ka,
                    CASE WHEN frac = 0 OR v0 = v1 THEN v0
                         ELSE wlo * v0 + frac * v1 END AS est_value
             FROM dpick)
    SELECT est.q,
           est.est_value AS est_merged,
           dest.est_value AS est_direct,
           CAST(est.est_value = dest.est_value AS INT) AS match,
           est.ka AS k_actual
    FROM est JOIN dest ON est.q = dest.q
    ORDER BY est.q
    """,
)
def kmv_quantiles_merged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV merge-equivalence certification (the batch-vs-merged parity
    twin the r7 verdict asked for, the same pattern as the CMS/HLL
    merge certs): per-month bottom-k sub-sketches over o_totalprice
    (ONE window pass — at 100 TB each ingest partition keeps its own
    sub-sketch) merged by union + global bottom-k must equal a direct
    single-shot sketch BIT FOR BIT, because bottom-k over a disjoint
    union of bottom-ks IS the global bottom-k. Output per q: both
    estimates, a match flag (always 1), and k. The oracle replays
    BOTH construction paths independently."""
    from pyspark.sql import Window

    from sparkobs.operators.profile import (
        kmv_quantile_estimate,
        kmv_quantile_merge,
        kmv_quantile_sketch,
    )

    from sparkobs.operators.profile import _salted_hash60

    o = load_table(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    h = _salted_hash60(F.col("o_orderkey"), "kmv")
    permonth = (
        o.where(v.isNotNull())
        .select(
            F.date_trunc("month", F.col("o_orderdate")).alias("__m"),
            h.alias("h"),
            v.alias("value"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__m").orderBy("h", "value")
            ),
        )
        .where(F.col("__rn") <= 1024)
        .select("h", "value")
    )
    merged = kmv_quantile_merge([permonth], k=1024)
    direct = kmv_quantile_sketch(o, F.col("o_orderkey"), "o_totalprice", k=1024, salt="kmv")
    em = kmv_quantile_estimate(merged, _KMV_MERGE_QS).select(
        "q", F.col("est_value").alias("est_merged"), "k_actual"
    )
    ed = kmv_quantile_estimate(direct, _KMV_MERGE_QS).select(
        "q", F.col("est_value").alias("est_direct")
    )
    return (
        em.join(ed, "q")
        .select(
            "q",
            "est_merged",
            "est_direct",
            (F.col("est_merged") == F.col("est_direct")).cast("int").alias("match"),
            "k_actual",
        )
        .orderBy("q")
    )


_KMV_GROUP_QS = (0.5, 0.9)


@query(
    "kmv_quantiles_grouped_lineitem",
    oracle=f"""
    WITH data AS (
      SELECT l_returnflag AS g,
             md5('kmv' || CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) AS dg,
             CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    hashed AS (SELECT g, {_hex15_sql('dg')} AS h, v FROM data),
    sample AS (SELECT g, v FROM (
        SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY h, v) AS srn
        FROM hashed)
      WHERE srn <= 512),
    kk AS (SELECT g, CAST(count(*) AS BIGINT) AS ka FROM sample GROUP BY 1),
    ranked AS (SELECT g, v,
                      row_number() OVER (PARTITION BY g ORDER BY v) AS rn
               FROM sample),
    qs AS (SELECT unnest([{", ".join(repr(float(q)) for q in _KMV_GROUP_QS)}]::DOUBLE[]) AS q),
    t AS (SELECT kk.g, q, kk.ka, q * (kk.ka - 1) AS rk FROM qs CROSS JOIN kk),
    pick AS (
      SELECT t.g, t.q, t.ka,
             t.rk - floor(t.rk) AS frac,
             ceil(t.rk) - t.rk AS wlo,
             max(CASE WHEN ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
                      THEN ranked.v END) AS v0,
             max(CASE WHEN ranked.rn =
                        least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka)
                      THEN ranked.v END) AS v1
      FROM t JOIN ranked
        ON ranked.g = t.g
       AND (ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
        OR ranked.rn = least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka))
      GROUP BY 1, 2, 3, 4, 5)
    SELECT g AS l_returnflag, q,
           CASE WHEN frac = 0 OR v0 = v1 THEN v0
                ELSE wlo * v0 + frac * v1 END AS est_value,
           ka AS k_actual
    FROM pick ORDER BY 1, 2
    """,
)
def kmv_quantiles_grouped_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV quantile sketches (the segment percentile
    monitor): bottom-512-by-hash per l_returnflag in one window pass,
    per-group type-7 estimates over the samples — the per-group
    buffer the builtin exact percentile would blow on a billion-row
    group is bounded at k. Oracle replays the partitioned bottom-k
    and the grouped interpolation."""
    from sparkobs.operators.profile import kmv_quantile_grouped

    li = load_table(spark, sf_dir, "lineitem")
    rid = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    return kmv_quantile_grouped(
        li, "l_returnflag", rid, "l_extendedprice", k=512, qs=_KMV_GROUP_QS, salt="kmv"
    )


def _skmv_partial(batch_df: DataFrame) -> DataFrame:
    """Per-batch KMV partial for the streaming twin — one scan of the
    micro-batch into the ≤k (h, value) sketch rows (r14 streaming
    scan audit pin)."""
    from sparkobs.operators.profile import kmv_quantile_sketch

    return kmv_quantile_sketch(
        batch_df, F.col("event_id"), "value", k=1024, salt="kmv"
    )


@query(
    "streaming_kmv_quantiles_events",
    oracle=f"""
    WITH data AS (
      SELECT md5('kmv' || CAST(event_id AS VARCHAR)) AS dg,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    hashed AS (SELECT {_hex15_sql('dg')} AS h, v FROM data),
    sample AS (SELECT v FROM (
        SELECT v, row_number() OVER (ORDER BY h, v) AS srn FROM hashed)
      WHERE srn <= 1024),
    {_kmv_est_sql(_KMV_MERGE_QS)},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM data),
    cnt AS (SELECT est.q, est.q_bp, est.est_value, est.ka,
                   CAST(sum(CASE WHEN data.v <= est.est_value
                            THEN 1 ELSE 0 END) AS BIGINT) AS below
            FROM est, data GROUP BY 1, 2, 3, 4)
    SELECT q, est_value, ka AS k_actual, n.n_rows,
           CAST((below * 10000) // n.n_rows AS BIGINT) AS true_rank_bp,
           CAST(abs((below * 10000) // n.n_rows - q_bp) AS BIGINT) AS err_bp
    FROM cnt, n ORDER BY q
    """,
)
def streaming_kmv_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable quantile sketch (the sketch-streaming-twin
    pattern of streaming_cms_events, completing the KMV family):
    events drain through a file-source micro-batch stream; each
    batch's bottom-k partial appends to a state table; the final
    sketch is the bottom-k over all partials — bit-identical to a
    one-shot batch build because the batches partition the rows, so
    estimates match the batch oracle value for value. State is
    ≤ k rows per batch, merged once at read — the bounded-state
    percentile monitor over an unbounded stream."""
    from sparkobs.operators.profile import (
        kmv_quantile_certify,
        kmv_quantile_estimate,
        kmv_quantile_merge,
    )

    state_dir = _drain_event_partials(spark, sf_dir, "sparkobs_skmv", _skmv_partial)
    merged = kmv_quantile_merge(
        [spark.read.schema("h long, value double").parquet(state_dir)], k=1024
    )
    est = kmv_quantile_estimate(merged, _KMV_MERGE_QS)
    ev = load_table(spark, sf_dir, "events")
    return kmv_quantile_certify(ev, "value", est)


@query(
    "video_avi_container_media",
    oracle="""
    WITH fr AS (
      SELECT doc_id, f, md5(text || '#f' || CAST(f AS VARCHAR)) AS hsh
      FROM documents, generate_series(0, 3) AS t(f)),
    px AS (SELECT doc_id, f, i,
                  ascii(substr(hsh, CAST(i AS INT), 1)) AS p
           FROM fr, generate_series(1, 32) AS s(i)),
    tot AS (SELECT doc_id, f, sum(p) AS s FROM px GROUP BY 1, 2),
    fhash AS (SELECT px.doc_id, px.f,
                     sum(CASE WHEN p * 32 > s
                              THEN CAST(1 AS BIGINT) << (32 - CAST(i AS INT))
                              ELSE CAST(0 AS BIGINT) END) AS ahash
              FROM px JOIN tot ON px.doc_id = tot.doc_id AND px.f = tot.f
              GROUP BY 1, 2),
    sampled AS (
      SELECT doc_id AS id, ahash FROM fhash WHERE f <= 2
      UNION ALL
      SELECT doc_id + 1000000000 AS id, ahash FROM fhash WHERE f >= 1),
    pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM sampled a JOIN sampled b
                ON a.ahash = b.ahash AND a.id < b.id)
    SELECT CAST((SELECT count(DISTINCT id) FROM sampled) AS BIGINT) AS n_videos,
           CAST((SELECT count(*) FROM sampled) AS BIGINT) AS n_frames_sampled,
           CAST((SELECT count(DISTINCT id) FROM sampled) AS BIGINT)
             AS n_container_matches,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN id_b - id_a = 1000000000 THEN 1 END), 0)
                AS BIGINT) AS n_planted_matched
    FROM pairs
    """,
)
def video_avi_container_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video dedup over a REAL container (the r7 verdict's item 5:
    the frame-sampling path previously certified only on a
    concatenated-PGM stand-in). Each doc's 4 md5-derived frames pack
    into a conformant uncompressed RIFF/AVI (full hdrl, DIB stream
    format, bottom-up stride-padded '00db' chunks) plus a rotated
    "trimmed clip"; frames decode through the RIFF walker — a
    genuinely different parse path from the netpbm matrix — and hash
    with the exact integer aHash. Certified three ways: (a) every
    sampled AVI frame hash must equal the concatenated-PGM path's
    hash for the same (video, frame) — container invariance,
    n_container_matches ≡ n_videos, which the oracle predicts from
    md5(text) with no AVI parser; (b) the planted rotated pairs all
    surface from the frame-hash equi-join exactly as in
    video_framehash_dedup_media; (c) frame counts pin the sampling
    geometry. At 100 TB the equi-join stays Σ bucket² over frame-hash
    buckets; the container parse is one Arrow pass."""
    from sparkobs.operators.multimodal import (
        avi_frame_hashes,
        synth_video,
        synth_video_avi,
        video_frame_hashes,
    )

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint both frame tables: Catalyst does not reuse a subtree
    # referenced twice, and avi feeds three legs (invariance join +
    # the pair self-join's two sides) — without this every leg re-runs
    # the synth + RIFF-parse Arrow kernel. The two kernel builds are
    # INDEPENDENT (different synth containers, different parsers), so
    # they materialize concurrently (guide §2.6: overlap independent
    # jobs — the second kernel's tasks back-fill executors the first
    # one's tail leaves idle); same frames, same values.
    def _avi() -> DataFrame:
        return avi_frame_hashes(
            synth_video_avi(docs), max_frames=3
        ).localCheckpoint()

    def _pgm() -> DataFrame:
        return video_frame_hashes(synth_video(docs), max_frames=3).select(
            "id", "frame_idx", F.col("ahash").alias("ahash_pgm")
        ).localCheckpoint()

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa, fp = pool.submit(_avi), pool.submit(_pgm)
        avi, pgm = fa.result(), fp.result()
    per_video = (
        avi.join(pgm, ["id", "frame_idx"], "full")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(
                F.when(F.col("ahash") == F.col("ahash_pgm"), 1).otherwise(0)
            ).alias("n_match"),
        )
    )
    inv = per_video.agg(
        F.count(F.lit(1)).cast("long").alias("n_videos"),
        F.sum("n_frames").cast("long").alias("n_frames_sampled"),
        F.sum(
            F.when((F.col("n_match") == 3) & (F.col("n_frames") == 3), 1).otherwise(0)
        ).cast("long").alias("n_container_matches"),
    )
    fh = avi.select("id", "ahash")
    a, b = fh.alias("a"), fh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ahash") == F.col("b.ahash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    pstats = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(
                F.when(F.col("id_b") - F.col("id_a") == 1_000_000_000, 1)
            ),
            F.lit(0),
        ).cast("long").alias("n_planted_matched"),
    )
    return inv.crossJoin(F.broadcast(pstats)).select(
        "n_videos",
        "n_frames_sampled",
        "n_container_matches",
        "n_pairs",
        "n_planted_matched",
    )


def _shll_partial(batch_df: DataFrame) -> DataFrame:
    """Per-batch daily HLL register partial for the streaming twin —
    one scan of the micro-batch into ≤ m rows per day (r14 streaming
    scan audit pin)."""
    from sparkobs.operators.profile import _hll_bucket_rho

    return (
        _hll_bucket_rho(
            batch_df.withColumn("__d", F.to_date(F.col("ts"))),
            "user_id",
            ["__d"],
        )
        .groupBy("__d", "bucket")
        .agg(F.max("rho").alias("reg"))
    )


@query("streaming_hll_sliding_users_events", oracle=_hll_sliding_oracle())
def streaming_hll_sliding_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of hll_sliding_users_events (the r7 verdict's
    stretch item, completing the sketch-streaming-twin pattern next to
    streaming_cms_events): events drain through a file-source
    micro-batch stream; each batch appends its (day, bucket, rho)
    register PARTIALS to a state table; the daily register table is
    the CELLWISE MAX over batch partials — HLL registers merge
    associatively, so the folded state is bit-identical to a one-shot
    daily build, and the shared window-merge tail
    (hll_sliding_from_daily_registers) produces estimates equal to the
    batch pipeline value for value. One oracle certifies both (the
    slo_burn pattern). State is ≤ days × m register rows per batch —
    bounded by geometry, never by stream length."""
    from sparkobs.operators.profile import (
        hll_sliding_from_daily_registers,
    )

    state_dir = _drain_event_partials(spark, sf_dir, "sparkobs_shlls", _shll_partial)
    regs = (
        spark.read.parquet(state_dir)
        .groupBy("__d", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(F.col("user_id").isNotNull()).select(
        F.to_date(F.col("ts")).alias("__d"), F.col("user_id").alias("__k")
    )
    return hll_sliding_from_daily_registers(regs, keyed, window_days=7)


_KMV_SLIDE_QS = (0.5, 0.9)


@query(
    "kmv_sliding_quantiles_events",
    oracle=f"""
    WITH data AS (
      SELECT CAST(ts AS DATE) AS d,
             md5('kmv' || CAST(event_id AS VARCHAR)) AS dg,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    hashed AS (SELECT d, {_hex15_sql('dg')} AS h, v FROM data),
    daily AS (SELECT d, h, v FROM (
        SELECT d, h, v, row_number() OVER (PARTITION BY d ORDER BY h, v) AS rn
        FROM hashed)
      WHERE rn <= 512),
    days AS (SELECT DISTINCT d AS t FROM daily),
    win AS (SELECT t, h, v FROM daily JOIN days ON d BETWEEN t - 6 AND t),
    sample AS (SELECT g, v FROM (
        SELECT t AS g, v, row_number() OVER (PARTITION BY t ORDER BY h, v) AS rn
        FROM win)
      WHERE rn <= 512),
    kk AS (SELECT g, CAST(count(*) AS BIGINT) AS ka FROM sample GROUP BY 1),
    ranked AS (SELECT g, v,
                      row_number() OVER (PARTITION BY g ORDER BY v) AS rn
               FROM sample),
    qs AS (SELECT unnest([{", ".join(repr(float(q)) for q in _KMV_SLIDE_QS)}]::DOUBLE[]) AS q),
    t AS (SELECT kk.g, q, kk.ka, q * (kk.ka - 1) AS rk FROM qs CROSS JOIN kk),
    pick AS (
      SELECT t.g, t.q, t.ka,
             t.rk - floor(t.rk) AS frac,
             ceil(t.rk) - t.rk AS wlo,
             max(CASE WHEN ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
                      THEN ranked.v END) AS v0,
             max(CASE WHEN ranked.rn =
                        least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka)
                      THEN ranked.v END) AS v1
      FROM t JOIN ranked
        ON ranked.g = t.g
       AND (ranked.rn = CAST(floor(t.rk) AS BIGINT) + 1
        OR ranked.rn = least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka))
      GROUP BY 1, 2, 3, 4, 5)
    SELECT g AS day, q,
           CASE WHEN frac = 0 OR v0 = v1 THEN v0
                ELSE wlo * v0 + frac * v1 END AS est_value,
           ka AS k_actual
    FROM pick ORDER BY 1, 2
    """,
)
def kmv_sliding_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day value percentiles per day from daily KMV
    sub-sketches (completing the sliding-sketch pair next to
    hll_sliding_users_events — distinct counts roll up by register
    max, percentiles by bottom-k merge). The window merge is EXACT:
    every element of a window's bottom-k is inside its own day's
    bottom-k (fewer than k window rows below it implies fewer than k
    same-day rows below it), so union + per-window bottom-k over
    daily sketches IS the window's bottom-k bit for bit — which the
    oracle replays directly. At 100 TB each day's sketch builds once
    map-side; any window length or alignment is then k-row
    arithmetic."""
    from sparkobs.operators.profile import kmv_quantile_sliding

    ev = load_table(spark, sf_dir, "events")
    return kmv_quantile_sliding(
        ev, "ts", F.col("event_id"), "value",
        window_days=7, k=512, qs=_KMV_SLIDE_QS, salt="kmv",
    )


_THETA_K = 1024
_THETA_SPACE_SQL = "CAST(1152921504606846976 AS DOUBLE)"  # 16^15 = 2^60


def _theta_sketch_sql(src: str, k: int = _THETA_K) -> str:
    """DuckDB CTE body: theta sketch (bottom-k distinct 60-bit hashes)
    of CTE ``{src}(cell)``."""
    return f"""(SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
          SELECT DISTINCT {_hex15_sql("md5('th' || cell)")} AS h FROM {src}))
      WHERE rn <= {k})"""


def _theta_est_sql(sk: str, k: int = _THETA_K) -> str:
    return f"""(SELECT CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                     ELSE {float(k - 1)} * {_THETA_SPACE_SQL} / max(h) END
            FROM {sk})"""


def _theta_cell_expr() -> F.Column:
    """cell = user:hour-index for the theta queries, the hour index
    taken over the TRUNCATED timestamp so Spark's
    truncate-toward-zero timestampdiff and DuckDB's boundary-counting
    datediff agree for any sign (a raw 23:30 pre-anchor event would
    index 0 vs -1 otherwise)."""
    return F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.expr(
            "timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00',"
            " date_trunc('hour', ts))"
        ).cast("string"),
    )


def _theta_cell_tagged(ev: DataFrame) -> DataFrame:
    """Side-TAGGED (side, cell) frame for the theta STREAMING twin's
    per-batch partial — ONE scan of the micro-batch with side ∈
    {a: click, b: purchase} as a column, sketched in a single pass
    via ``theta_sketch_grouped(..., ["side"])`` instead of once per
    side (r14 streaming scan audit). The side restriction rides a
    PUSHABLE ``isin`` prefilter (``In(event_type, [click,
    purchase])`` reaches the scan); only the a/b tag itself is the
    CASE expression. The BATCH queries do NOT route through this
    frame — their per-side legs filter ``event_type`` directly so
    each scan keeps its pushed equality filter (r14 review: a
    side=='a' filter over the CASE column is not pushable and would
    read every event type)."""
    return (
        ev.where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.when(F.col("event_type") == "click", F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("side"),
            _theta_cell_expr().alias("cell"),
        )
    )


def _theta_cell_sides(ev: DataFrame) -> tuple:
    """(click cells, purchase cells) frames for the BATCH theta
    queries: per-side ``event_type`` equality filters so parquet
    pushdown reaches each leg's scan (pinned by
    ``test_theta_side_filters_push_down``)."""
    base = ev.where(F.col("user_id").isNotNull()).select(
        "event_type", _theta_cell_expr().alias("cell")
    )
    return (
        base.where(F.col("event_type") == "click").select("cell"),
        base.where(F.col("event_type") == "purchase").select("cell"),
    )


def _theta_verdict(a: DataFrame, b: DataFrame, ska: DataFrame, skb: DataFrame) -> DataFrame:
    """Shared verdict frame of the batch theta query and its streaming
    twin: per-side estimates, merged-union estimate, intersection
    sample + scaled estimate, exact intersection from the raw cell
    frames.

    The sketch SET ALGEBRA runs driver-side over ONE bounded collect
    (r14 optimization): both sketches are ≤ k rows BY GEOMETRY
    (bottom-k construction, scale-independent — the counted-proven-
    bound convention of the repo's driver dispatches), so a single
    union job materializes ≤ 2k (side, h) rows and pure-Python IEEE
    double arithmetic replays ``theta_estimate`` /
    ``theta_intersect_estimate`` expression for expression in the
    same operation order (constant-folded (k−1)·SPACE first, one
    division by θ; h cast to double before the θ compare) — results
    are bit-identical, pinned by ``test_theta_verdict_driver_algebra_
    matches_operators``. The previous shape ran 2 eager checkpoints +
    5 broadcast-build jobs (~20 jobs of pure fixed cost per query:
    the k-row joins were never the wall, the job count was). The
    returned plan holds only the exact-intersection leg (the one
    data-sized computation) plus literal estimates."""
    k = _THETA_K
    space = float(16**15)
    rows = (
        ska.select(F.lit("a").alias("side"), "h")
        .unionByName(skb.select(F.lit("b").alias("side"), "h"))
        .collect()  # ≤ 2k rows by sketch geometry
    )
    ha = sorted(r.h for r in rows if r.side == "a")
    hb = sorted(r.h for r in rows if r.side == "b")

    def est(hs: list) -> float:
        # theta_estimate order: lit(k-1)*lit(SPACE) folds first, then
        # one division by θ (the long max cast to double)
        if len(hs) < k:
            return float(len(hs))
        return (float(k - 1) * space) / float(hs[-1])

    hu = sorted(set(ha) | set(hb))[:k]
    theta_a = space if len(ha) < k else float(ha[-1])
    theta_b = space if len(hb) < k else float(hb[-1])
    theta = min(theta_a, theta_b)
    # h is compared as double in theta_intersect_estimate (h < theta
    # over a double θ) — replicate the cast, not exact int compare
    n_common = sum(1 for h in set(ha) & set(hb) if float(h) < theta)
    est_intersect = (
        0.0 if n_common == 0 else (float(n_common) * space) / theta
    )
    exact = (
        a.distinct()
        .join(b.distinct(), "cell", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
    )
    return exact.select(
        F.lit(est(ha)).alias("est_a"),
        F.lit(est(hb)).alias("est_b"),
        F.lit(est(hu)).alias("est_union"),
        F.lit(n_common).cast("long").alias("n_common"),
        F.lit(est_intersect).alias("est_intersect"),
        "exact_intersect",
    )


_THETA_CELLS_ORACLE = f"""
    WITH base AS (
      SELECT event_type,
             CAST(user_id AS VARCHAR) || ':' ||
             CAST(datediff('hour', TIMESTAMP '2024-01-01 00:00:00',
                            date_trunc('hour', ts)) AS VARCHAR) AS cell
      FROM events WHERE user_id IS NOT NULL),
    a AS (SELECT cell FROM base WHERE event_type = 'click'),
    b AS (SELECT cell FROM base WHERE event_type = 'purchase'),
    ska AS {_theta_sketch_sql('a')},
    skb AS {_theta_sketch_sql('b')},
    u AS (SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
          SELECT h FROM ska UNION SELECT h FROM skb))
      WHERE rn <= {_THETA_K}),
    ta AS (SELECT CASE WHEN count(*) < {_THETA_K} THEN {_THETA_SPACE_SQL}
                       ELSE CAST(max(h) AS DOUBLE) END AS th FROM ska),
    tb AS (SELECT CASE WHEN count(*) < {_THETA_K} THEN {_THETA_SPACE_SQL}
                       ELSE CAST(max(h) AS DOUBLE) END AS th FROM skb),
    th AS (SELECT least(ta.th, tb.th) AS theta FROM ta, tb),
    common AS (SELECT CAST(count(*) AS BIGINT) AS n_common
               FROM ska JOIN skb USING (h), th WHERE h < theta),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersect FROM
             (SELECT DISTINCT cell FROM a INTERSECT SELECT DISTINCT cell FROM b))
    SELECT {_theta_est_sql('ska')} AS est_a,
           {_theta_est_sql('skb')} AS est_b,
           {_theta_est_sql('u')} AS est_union,
           n_common,
           CASE WHEN n_common = 0 THEN 0.0
                ELSE n_common * {_THETA_SPACE_SQL} / theta END AS est_intersect,
           exact_intersect
    FROM common, th, ex
    """


@query("theta_intersection_cells_events", oracle=_THETA_CELLS_ORACLE)
def theta_intersection_cells_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch set algebra (extension: the distinct-INTERSECTION
    sketch — HLL inclusion–exclusion (hll_intersection_users_events)
    subtracts three near-equal estimates and its error blows up on
    small intersections of large sets; a theta sketch retains its
    sample hashes, so the intersection below min(θ) is a direct
    uniform sample of A∩B). Sets are (user, hour) activity cells of
    the click vs purchase event streams; the verdict certifies the
    per-set estimates, the merged-union estimate, the intersection
    sample count, its scaled estimate, and the exact intersection —
    every number deterministic, divisions over identical operands
    (no rounding anywhere). Under-full sketches (sf0.001) take the
    exact path; full sketches (sf0.01) take the genuine estimation
    path — both driver-certifiable. At 100 TB each side's sketch
    builds map-side (distinct + TakeOrderedAndProject); set algebra
    is then k-row joins, never a rescan."""
    from sparkobs.operators.profile import theta_sketch

    a, b = _theta_cell_sides(load_table(spark, sf_dir, "events"))
    ska = theta_sketch(a, "cell", k=_THETA_K, salt="th")
    skb = theta_sketch(b, "cell", k=_THETA_K, salt="th")
    return _theta_verdict(a, b, ska, skb)


def _stheta_partial(batch_df: DataFrame) -> DataFrame:
    """Per-batch theta partial for the streaming twin — ONE scan of
    the micro-batch: the side tag rides as a column
    (``_theta_cell_tagged``) and a side-GROUPED bottom-k sketch
    replaces the old per-side sketch pair, which scanned the batch
    once per side (r14 streaming scan audit; pinned by
    ``tests/test_plan_scans.py``). Identical output: both forms hash
    with ``_salted_hash60(cell, salt)``, distinct is per (side, h),
    and the grouped window's bottom-k per side equals each side's own
    bottom-k."""
    from sparkobs.operators.profile import theta_sketch_grouped

    return theta_sketch_grouped(
        _theta_cell_tagged(batch_df), "cell", ["side"], k=_THETA_K, salt="th"
    ).select("side", "h")


@query("streaming_theta_intersection_events", oracle=_THETA_CELLS_ORACLE)
def streaming_theta_intersection_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of theta_intersection_cells_events (completing
    the sketch-streaming-twin set next to CMS/HLL-sliding/KMV):
    events drain through a file-source micro-batch stream; each batch
    appends its per-side theta partials (side, h) to the state table;
    each side's final sketch is the bottom-k over the DISTINCT hash
    union of its partials — exact, because a hash in the global
    bottom-k of a side's distinct values is necessarily in its own
    batch's bottom-k, and re-occurrences across batches dedup by
    value-hash identity. The drained state therefore reproduces the
    one-shot batch sketches bit for bit and the SAME oracle certifies
    both. State: ≤ k rows per (batch, side)."""
    state_dir = _drain_event_partials(
        spark, sf_dir, "sparkobs_stheta", _stheta_partial
    )
    state = spark.read.schema("side string, h long").parquet(state_dir)
    ska = (
        state.where(F.col("side") == "a").select("h").distinct()
        .orderBy("h").limit(_THETA_K)
    )
    skb = (
        state.where(F.col("side") == "b").select("h").distinct()
        .orderBy("h").limit(_THETA_K)
    )
    a, b = _theta_cell_sides(load_table(spark, sf_dir, "events"))
    return _theta_verdict(a, b, ska, skb)


@query(
    "span_scrub_documents",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
                  FROM documents),
    occ AS (SELECT doc_id, i AS pos0, md5(array_to_string(t[i:i+4], ' ')) AS k
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
                  FROM toks WHERE len(t) >= 5)),
    dup AS (SELECT k FROM occ GROUP BY k HAVING count(DISTINCT doc_id) >= 2),
    covp AS (SELECT DISTINCT doc_id, cp FROM
               (SELECT o.doc_id, unnest(generate_series(o.pos0, o.pos0 + 4)) AS cp
                FROM occ o JOIN dup d ON o.k = d.k)),
    pos AS (SELECT doc_id, i, t[i] AS tok
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                  FROM toks)),
    kept AS (SELECT p.doc_id, p.i, p.tok
             FROM pos p LEFT JOIN covp c
               ON p.doc_id = c.doc_id AND p.i = c.cp
             WHERE c.cp IS NULL),
    rebuilt AS (SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS kept_tokens,
                       string_agg(tok, ' ' ORDER BY i) AS clean_text
                FROM kept GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(len(b.t) - coalesce(r.kept_tokens, 0) AS BIGINT) AS removed_tokens,
           coalesce(r.clean_text, '') AS clean_text
    FROM toks b LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def span_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL (extension: the rewrite half of
    Lee et al. 2022 next to dup_span_coverage_documents' measurement
    half): every token position covered by a 5-gram occurring in ≥2
    documents is cut and the document reassembled in order —
    memorization-prone cross-document boilerplate drops while the
    novel remainder survives (a fully-boilerplate doc survives empty,
    not vanishes). The oracle replays the positional shingle pipeline,
    the coverage set, and the ordered reassembly token for token."""
    from sparkobs.operators.dedup import remove_duplicated_spans

    return remove_duplicated_spans(
        load_table(spark, sf_dir, "documents"), n=5, min_docs=2
    )


def _kmv_est_one_sql(src_sql: str, q: float, k: int) -> str:
    """Scalar DuckDB subquery: the KMV q-quantile estimate over
    ``src_sql`` (a query yielding (h, v) hashed rows) — bottom-k, then
    the Percentile.scala interpolation for one q."""
    return f"""(
      WITH s AS (SELECT v FROM (
          SELECT v, row_number() OVER (ORDER BY h, v) AS rn
          FROM ({src_sql}))
        WHERE rn <= {k}),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS ka FROM s),
      r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
      t AS (SELECT kk.ka, CAST({q!r} AS DOUBLE) * (kk.ka - 1) AS rk
            FROM kk),
      p AS (SELECT t.ka, t.rk - floor(t.rk) AS frac, ceil(t.rk) - t.rk AS wlo,
                   max(CASE WHEN r.rn = CAST(floor(t.rk) AS BIGINT) + 1
                            THEN r.v END) AS v0,
                   max(CASE WHEN r.rn =
                              least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka)
                            THEN r.v END) AS v1
            FROM t JOIN r
              ON r.rn = CAST(floor(t.rk) AS BIGINT) + 1
              OR r.rn = least(CAST(floor(t.rk) AS BIGINT) + 2, t.ka)
            GROUP BY 1, 2, 3)
      SELECT CASE WHEN frac = 0 OR v0 = v1 THEN v0
                  ELSE wlo * v0 + frac * v1 END FROM p)"""


_PCT_CONTRACTS = (
    # (table, src table, id expr SQL, value col, q, ceiling)
    ("orders", "orders",
     "CAST(o_orderkey AS VARCHAR)", "o_totalprice", 0.95, 425000.0),
    ("lineitem", "lineitem",
     "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)",
     "l_extendedprice", 0.95, 97000.0),
    ("events", "events",
     "CAST(event_id AS VARCHAR)", "value", 0.99, 990.0),
)


def _pct_contract_oracle(k: int = 2048) -> str:
    legs = []
    for name, tbl, id_sql, col, q, ceiling in _PCT_CONTRACTS:
        dg = "md5('kmv' || " + id_sql + ")"
        # filter NULL ids exactly like kmv_quantile_sketch does (its
        # docstring calls the exclusion load-bearing): a nullable id
        # would put NULL-hash rows in this sample but not Spark's
        src = (
            f"SELECT {_hex15_sql(dg)} AS h, "
            f"CAST({col} AS DOUBLE) AS v FROM {tbl} "
            f"WHERE {col} IS NOT NULL AND ({id_sql}) IS NOT NULL"
        )
        est = _kmv_est_one_sql(src, q, k)
        # embed the whole-table sketch subquery ONCE; ok derives from
        # the projected column, coalesced exactly like the Spark side
        legs.append(
            f"SELECT table_name, col_name, q, est_value, ceiling, "
            f"coalesce(est_value <= ceiling, FALSE) AS ok FROM ("
            f"SELECT '{name}' AS table_name, '{col}' AS col_name, "
            f"CAST({q!r} AS DOUBLE) AS q, {est} AS est_value, "
            f"CAST({ceiling!r} AS DOUBLE) AS ceiling)"
        )
    return "\nUNION ALL\n".join(legs)


@query("percentile_contract_lake", oracle=_pct_contract_oracle())
def percentile_contract_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile SLO contract battery over KMV sketches (extension:
    the check type the quantile sketch exists for — "p95/p99 must
    stay under X" per table, one single-pass bounded-state sketch
    each, the monitor_suite composition shape). Three contracts
    (orders p95 total price, lineitem p95 extended price, events p99
    value) with deterministic estimate ≤ ceiling verdicts; the oracle
    replays every sketch and interpolation, so the whole battery —
    estimates AND booleans — is value-certified."""
    from sparkobs.operators.checks import percentile_contract

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    li_id = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    return percentile_contract(
        [
            ("orders", o, F.col("o_orderkey"), "o_totalprice", 0.95, 425000.0),
            ("lineitem", li, li_id, "l_extendedprice", 0.95, 97000.0),
            ("events", ev, F.col("event_id"), "value", 0.99, 990.0),
        ]
    )


# ---------------------------------------------------------------------------
# Phase 10 — the promoted round-9 queue (r10 gate wave): the sparse-cosine
# production-tier pair over the power-law synth corpus (exact comparison
# leg + absolute-df-cap pruned tier, identical outputs — the r8 verdict's
# one `weak`, resolved with a measured win), and the lake-wide
# monitor_suite percentile-SLO capstone. Staged + oracle-certified in
# the staging queue during r9; moved here verbatim (staging order) for
# driver certification.
# ---------------------------------------------------------------------------

_PL_DIM = 65536  # hash dim >> vocab so tail tokens keep their own dims
_PL_MAX_DF = 32  # absolute cap: group dims (df~5) pass, head dims (df~N) prune
_PL_THRESHOLD = 0.5  # within-group cos ~ 10/16, cross-group ~ 2/16


def _powerlaw_text_sql(n_hot: int = 2, n_group: int = 8, n_unique: int = 6,
                       group_size: int = 5) -> str:
    """DuckDB expression replaying synth_powerlaw_corpus's text."""
    parts = [f"'hot{j}'" for j in range(n_hot)]
    parts += [
        f"'g' || (doc_id // {group_size}) || '_{j}'" for j in range(n_group)
    ]
    parts += [f"'u' || doc_id || '_{j}'" for j in range(n_unique)]
    return " || ' ' || ".join(parts)


def _powerlaw_vec_ctes(dim: int = _PL_DIM) -> str:
    """Hashed-vector CTE chain (the _HASHED_VEC_CTES pattern,
    parameterized dim) over the synth power-law corpus."""
    return f"""
    synth AS (SELECT doc_id, {_powerlaw_text_sql()} AS text FROM documents),
    tok AS (SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS token
            FROM synth),
    hv AS (SELECT doc_id, {_hex15_sql('dg')} AS h
           FROM (SELECT doc_id, md5(token) AS dg FROM tok)),
    signed AS (SELECT doc_id, h % {dim} AS dim_idx,
                      CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END AS s
               FROM hv),
    counts AS (SELECT doc_id, dim_idx, CAST(sum(s) AS BIGINT) AS c
               FROM signed GROUP BY 1, 2 HAVING sum(s) <> 0),
    norms AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
              FROM counts GROUP BY 1),
    vecs AS (SELECT counts.doc_id, dim_idx, c / nrm AS weight
             FROM counts JOIN norms USING (doc_id))"""


# RETIRED (r11, per the r10 verdict's watch item / next-round item 3):
# sparse_cosine_powerlaw_exact was the DELIBERATELY-unpruned exact
# comparison leg for the production df-prune — registered in r10 so
# the pruned tier's measured win had an oracle-certified twin, but at
# 17.2 s (sf0.1, ~35% of all tail wall) it spent a registry slot and a
# third of the tail budget on a plan whose quadratic head term is the
# documented thing the prune REMOVES. With the registry at its
# 300-entry rotation ceiling, the comparison now lives where it costs
# no slot: (1) the identical-outputs guarantee is unit/property-tested
# on the same power-law corpus (tests/test_r9_ops.py — pruned == exact
# pair for pair, cosine for cosine, plus cap-sweep containment on a
# second corpus, tests/test_r9_ops.py::
# test_pruned_tier_equals_exact_tier_row_for_row), and (2) the
# pruned-vs-exact wall-clock gap is no longer probed; SCALE.md keeps
# its last measurements as history. The exact TIER stays
# a supported sparse_cosine_pairs configuration (max_df=None);
# sparse_cosine_powerlaw_pruned below remains its registered,
# oracle-certified production form, sharing the same CTE chain.


@query(
    "sparse_cosine_powerlaw_pruned",
    oracle=f"""
    WITH {_powerlaw_vec_ctes()},
    dfreq AS (SELECT dim_idx, count(*) AS df FROM vecs GROUP BY 1),
    rare AS (SELECT dim_idx FROM dfreq WHERE df <= {_PL_MAX_DF}),
    cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             FROM vecs a JOIN rare USING (dim_idx)
             JOIN vecs b ON a.dim_idx = b.dim_idx AND a.doc_id < b.doc_id),
    pr AS (SELECT c.ia AS id_a, c.ib AS id_b,
                  round(sum(a.weight * b.weight), 4) AS cos
           FROM cand c
           JOIN vecs a ON a.doc_id = c.ia
           JOIN vecs b ON b.doc_id = c.ib AND b.dim_idx = a.dim_idx
           GROUP BY 1, 2)
    SELECT id_a, id_b, cos FROM pr WHERE cos >= {_PL_THRESHOLD}
    """,
)
def sparse_cosine_powerlaw_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION sparse-cosine tier — absolute-df prune + exact
    rescore (similarity.py sparse_cosine_pairs docstring's prescribed
    configuration) over the power-law synth corpus: candidate pairs
    come only from dimensions with document frequency <= 32, which
    drops the Zipf-head posting lists (df ~ N) while keeping every
    group dimension (df ~ 5), bounding candidate volume at
    dim*cap^2/2 REGARDLESS of corpus size; candidates are rescored
    exactly over full vectors. On this corpus every >=-threshold pair
    shares a group dimension, so the output equals the exact tier's
    row for row and ONE oracle shape certifies both — while the bench
    shows this tier beating the exact tier's quadratic head join."""
    from sparkobs.operators.similarity import (
        hashed_tf_vectors,
        sparse_cosine_pairs,
        synth_powerlaw_corpus,
    )

    docs = synth_powerlaw_corpus(load_table(spark, sf_dir, "documents"))
    vecs = hashed_tf_vectors(docs, dim=_PL_DIM)
    return sparse_cosine_pairs(
        vecs, threshold=_PL_THRESHOLD, max_df=_PL_MAX_DF
    )


def _suite_pct_leg(tbl: str, id_sql: str, col: str, q: float,
                   ceiling: float, k: int = 2048) -> str:
    """One percentile-SLO leg of the monitor_suite oracle, in the
    suite's 5-column verdict shape."""
    dg = "md5('kmv' || " + id_sql + ")"
    src = (
        f"SELECT {_hex15_sql(dg)} AS h, CAST({col} AS DOUBLE) AS v "
        f"FROM {tbl} WHERE {col} IS NOT NULL AND ({id_sql}) IS NOT NULL"
    )
    est = _kmv_est_one_sql(src, q, k)
    return (
        f"SELECT '{tbl}' AS table_name, "
        f"'percentile_slo_p{q:g}' AS check_type, "
        f"'{col}' AS column, "
        f"CAST(est AS DOUBLE) AS metric_value, "
        f"coalesce(est <= CAST({ceiling!r} AS DOUBLE), FALSE) AS passed "
        f"FROM (SELECT {est} AS est)"
    )


_SUITE_SLO_ORACLE = f"""
    SELECT 'events' AS table_name, 'freshness' AS check_type,
           'ts' AS column,
           CAST((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                 - epoch_us(max(ts))) // 1000000 AS DOUBLE) AS metric_value,
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(ts))) // 1000000) <= 604800 AS passed
    FROM events
    UNION ALL
    SELECT 'events', 'not_null', 'user_id',
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE),
           sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    {_suite_pct_leg("events", "CAST(event_id AS VARCHAR)", "value", 0.99, 990.0)}
    UNION ALL
    SELECT 'orders', 'freshness', 'o_orderdate',
           CAST((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                 - epoch_us(max(o_orderdate))) // 1000000 AS DOUBLE),
           ((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - epoch_us(max(o_orderdate))) // 1000000) <= 604800
    FROM orders
    UNION ALL
    SELECT 'orders', 'range', 'o_totalprice',
           CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000
                    THEN 1 ELSE 0 END) AS DOUBLE),
           sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    {_suite_pct_leg("orders", "CAST(o_orderkey AS VARCHAR)", "o_totalprice", 0.95, 425000.0)}
    """


@query("monitor_suite_slo_lake", oracle=_SUITE_SLO_ORACLE)
def monitor_suite_slo_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-wide monitor battery WITH percentile SLO contracts (the
    r8 verdict's capstone observability shape: the reference's
    configure-a-template-per-table UX — snowflake_table_monitor.py:
    23-34 — with sketch-backed percentile verdicts as a first-class
    check type next to freshness SLAs and data contracts): one
    DataFrame carries freshness, not_null/range contracts, AND
    "p99(value) <= 990" / "p95(o_totalprice) <= 425k" verdicts, the
    percentile rows answered by single-pass bounded-state KMV
    sketches (ONE map-side top-k per contract, never a column
    buffer). The oracle replays every leg — staleness arithmetic,
    violation counts, the full sketch + Percentile.scala
    interpolation, and the boolean verdicts."""
    from sparkobs.monitors import monitor_suite

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return monitor_suite(
        [
            ("events", ev, "ts", [("not_null", "user_id")]),
            ("orders", orders, "o_orderdate",
             [("range", "o_totalprice", 0, 1000000)]),
        ],
        as_of="2024-02-01 00:00:00",
        percentiles={
            "events": [(F.col("event_id"), "value", 0.99, 990.0)],
            "orders": [(F.col("o_orderkey"), "o_totalprice", 0.95, 425000.0)],
        },
    )


# ---------------------------------------------------------------------------
# Phase 11 — the promoted round-10 queue (r11 gate wave): grouped
# theta-sketch distinct-intersection (batch + streaming twin, one shared
# oracle) and the sampled-CI AQP entry. Staged + oracle-certified in
# the staging queue during r10; moved here verbatim (staging order) for
# driver certification.
# ---------------------------------------------------------------------------

# --- grouped theta-sketch set algebra (r9 verdict stretch item 7) -----------
# The one sketch-family form that had no grouped registry tier:
# distinct-INTERSECTION per segment (theta sketches retain their hash
# sample, so per-group overlap is a direct per-group join — exactly
# where grouped HLL inclusion–exclusion blows up). Operator + unit
# tests landed in r10 (profile.theta_sketch_grouped /
# theta_intersect_grouped, tests/test_r10_ops.py); these entries are
# the oracle-certified registry forms (batch + streaming twin, one
# shared oracle), staged per the rotation-feasibility test (queue of
# 2 keeps r11 = 48 r5 re-certs + 2 = 50 exactly).

_TIG_K = 512
_TIG_SPACE_SQL = "CAST(1152921504606846976 AS DOUBLE)"  # 16^15 = 2^60


def _tig_sketch_sql(src: str) -> str:
    """DuckDB CTE body: per-seg theta sketch (bottom-k distinct 60-bit
    hashes per segment) of CTE ``{src}(seg, cell)``."""
    return f"""(SELECT seg, h FROM (
        SELECT seg, h,
               row_number() OVER (PARTITION BY seg ORDER BY h) AS rn
        FROM (SELECT DISTINCT seg, {_hex15_sql("md5('th' || cell)")} AS h
              FROM {src}))
      WHERE rn <= {_TIG_K})"""


_TIG_ORACLE = f"""
    WITH base AS (
      SELECT CAST(hour(ts) // 6 AS INT) AS seg, event_type,
             CAST(user_id AS VARCHAR) || ':' ||
             CAST(datediff('hour', TIMESTAMP '2024-01-01 00:00:00',
                            date_trunc('hour', ts)) AS VARCHAR) AS cell
      FROM events WHERE user_id IS NOT NULL),
    a AS (SELECT DISTINCT seg, cell FROM base WHERE event_type = 'click'),
    b AS (SELECT DISTINCT seg, cell FROM base WHERE event_type = 'purchase'),
    ska AS {_tig_sketch_sql('a')},
    skb AS {_tig_sketch_sql('b')},
    ta AS (SELECT seg, CASE WHEN count(*) < {_TIG_K} THEN {_TIG_SPACE_SQL}
                            ELSE CAST(max(h) AS DOUBLE) END AS th_a
           FROM ska GROUP BY 1),
    tb AS (SELECT seg, CASE WHEN count(*) < {_TIG_K} THEN {_TIG_SPACE_SQL}
                            ELSE CAST(max(h) AS DOUBLE) END AS th_b
           FROM skb GROUP BY 1),
    th AS (SELECT coalesce(ta.seg, tb.seg) AS seg,
                  least(coalesce(th_a, {_TIG_SPACE_SQL}),
                        coalesce(th_b, {_TIG_SPACE_SQL})) AS theta
           FROM ta FULL OUTER JOIN tb ON ta.seg = tb.seg),
    cm AS (SELECT ska.seg, CAST(count(*) AS BIGINT) AS nc
           FROM ska JOIN skb ON ska.seg = skb.seg AND ska.h = skb.h
                JOIN th ON th.seg = ska.seg AND ska.h < th.theta
           GROUP BY 1),
    ex AS (SELECT seg, CAST(count(*) AS BIGINT) AS exq FROM
             (SELECT seg, cell FROM a INTERSECT SELECT seg, cell FROM b)
           GROUP BY 1)
    SELECT th.seg AS seg,
           CAST(coalesce(nc, 0) AS BIGINT) AS n_common,
           CAST(coalesce(nc, 0) AS DOUBLE) * {_TIG_SPACE_SQL} / theta
             AS est_intersect,
           CAST(coalesce(exq, 0) AS BIGINT) AS exact_intersect
    FROM th LEFT JOIN cm ON cm.seg = th.seg LEFT JOIN ex ON ex.seg = th.seg
    """


def _tig_tagged(ev: DataFrame) -> DataFrame:
    """Side-TAGGED (side, seg, cell) frame for the grouped theta
    STREAMING twin — the ``_theta_cell_tagged`` shape (pushable
    ``isin`` side prefilter, CASE only for the tag) with a
    quarter-of-day segment column (cells partition cleanly into
    segments because the segment derives from the cell's own hour);
    one micro-batch scan serves both sides (r14 streaming scan
    audit)."""
    return (
        ev.where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.when(F.col("event_type") == "click", F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("side"),
            F.expr("hour(ts) div 6").cast("int").alias("seg"),
            _theta_cell_expr().alias("cell"),
        )
    )


def _tig_sides(ev: DataFrame) -> tuple:
    """(click (seg, cell), purchase (seg, cell)) frames for the
    BATCH grouped theta queries: per-side ``event_type`` equality
    filters so parquet pushdown reaches each leg's scan."""
    base = ev.where(F.col("user_id").isNotNull()).select(
        "event_type",
        F.expr("hour(ts) div 6").cast("int").alias("seg"),
        _theta_cell_expr().alias("cell"),
    )
    return (
        base.where(F.col("event_type") == "click").select("seg", "cell"),
        base.where(F.col("event_type") == "purchase").select("seg", "cell"),
    )


def _tig_verdict(
    spark: SparkSession, sf_dir: str, ska: DataFrame, skb: DataFrame
) -> DataFrame:
    """Shared verdict frame of the grouped theta batch query and its
    streaming twin: per-group estimates from the sketches + the exact
    per-group intersection from the raw frames.

    Like the ungrouped ``_theta_verdict``, the grouped set algebra
    runs driver-side over ONE bounded collect (r14): seg = hour div 6
    ∈ {0..3} by construction and each (side, seg) sketch is ≤ k rows
    by bottom-k geometry, so the union job materializes ≤ 2·4·k rows.
    The Python arithmetic replays ``theta_intersect_grouped``
    expression for expression (θ_side = SPACE when under-full else
    max-as-double; θ = least; h cast to double before the θ compare;
    coalesce(nc,0)·SPACE/θ in that order) — bit-identical, pinned by
    ``test_tig_verdict_driver_algebra_matches_operator``. Replaces 2
    eager checkpoints + the grouped-join estimate subtree (~10 jobs
    of fixed cost); the returned plan holds the exact legs plus a
    4-row broadcast of the estimates."""
    from collections import defaultdict

    k = _TIG_K
    space = float(16**15)
    rows = (
        ska.select(F.lit("a").alias("side"), "seg", "h")
        .unionByName(skb.select(F.lit("b").alias("side"), "seg", "h"))
        .collect()  # ≤ 2 sides · 4 segs · k rows by geometry
    )
    by_side_seg: dict = defaultdict(list)
    for r in rows:
        by_side_seg[(r.side, r.seg)].append(r.h)
    est_rows = []
    for seg in sorted({s for (_, s) in by_side_seg}):
        ha = sorted(by_side_seg.get(("a", seg), []))
        hb = sorted(by_side_seg.get(("b", seg), []))
        th_a = space if len(ha) < k else float(ha[-1])
        th_b = space if len(hb) < k else float(hb[-1])
        theta = min(th_a, th_b)
        nc = sum(1 for h in set(ha) & set(hb) if float(h) < theta)
        est_rows.append((int(seg), nc, (float(nc) * space) / theta))
    est = spark.createDataFrame(
        est_rows, "seg int, n_common long, est_intersect double"
    )
    a, b = _tig_sides(load_table(spark, sf_dir, "events"))
    exact = (
        a.distinct()
        .join(b.distinct(), ["seg", "cell"])
        .groupBy("seg")
        .agg(F.count(F.lit(1)).cast("long").alias("__ex"))
    )
    return est.join(exact, ["seg"], "left").select(
        "seg",
        "n_common",
        "est_intersect",
        F.coalesce("__ex", F.lit(0).cast("long")).alias("exact_intersect"),
    )


@query("theta_intersection_grouped_events", oracle=_TIG_ORACLE)
def theta_intersection_grouped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment distinct-intersection via GROUPED theta sketches
    (extension: the segment-drill-down form of theta set algebra —
    "how many user-hour cells both clicked AND purchased, per
    quarter-of-day"): per-segment bottom-k distinct-hash sketches of
    the click and purchase cell sets, per-group θ = min(side θs),
    common-below-θ counts scaled to estimates, groups seen on one
    side only surfacing as zero — next to the exact per-group
    intersection for certification. All joins touch only sketch rows
    (≤ k per group per side); the oracle replays sketches, thetas,
    common counts, scaled estimates, and the exact leg."""
    from sparkobs.operators.profile import theta_sketch_grouped

    a, b = _tig_sides(load_table(spark, sf_dir, "events"))
    ska = theta_sketch_grouped(a, "cell", ["seg"], k=_TIG_K, salt="th")
    skb = theta_sketch_grouped(b, "cell", ["seg"], k=_TIG_K, salt="th")
    return _tig_verdict(spark, sf_dir, ska, skb)


def _stg_partial(batch_df: DataFrame) -> DataFrame:
    """Per-batch grouped theta partial for the streaming twin — ONE
    scan of the micro-batch via the side-tagged frame and a
    (side, seg)-grouped bottom-k, replacing the per-side sketch pair
    that scanned the batch twice (r14 streaming scan audit; same
    hash/distinct/bottom-k identity argument as
    ``_stheta_partial``)."""
    from sparkobs.operators.profile import theta_sketch_grouped

    return theta_sketch_grouped(
        _tig_tagged(batch_df), "cell", ["side", "seg"], k=_TIG_K, salt="th"
    ).select("side", "seg", "h")


@query("streaming_theta_intersection_grouped_events", oracle=_TIG_ORACLE)
def streaming_theta_intersection_grouped_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of theta_intersection_grouped_events (every
    sketch family here ships one — CMS/HLL-sliding/KMV/theta all
    certify their fold law this way): events drain through a
    file-source micro-batch stream; each batch appends its per-(side,
    seg) grouped theta partials to the state table; each side's final
    grouped sketch is the per-group bottom-k over the DISTINCT hash
    union of its partials — exact per group, because a hash in a
    group's global bottom-k is necessarily in its own batch's
    bottom-k for that group, and re-occurrences dedup by value-hash
    identity. The drained state reproduces the one-shot grouped
    sketches bit for bit and the SAME oracle certifies both. State:
    ≤ k rows per (batch, side, group)."""
    from pyspark.sql import Window

    state_dir = _drain_event_partials(
        spark, sf_dir, "sparkobs_stgtheta", _stg_partial
    )
    state = spark.read.schema("side string, seg int, h long").parquet(state_dir)
    w = Window.partitionBy("seg").orderBy("h")

    def final(side: str) -> DataFrame:
        return (
            state.where(F.col("side") == side)
            .select("seg", "h")
            .distinct()
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= _TIG_K)
            .drop("__rn")
        )

    return _tig_verdict(spark, sf_dir, final("a"), final("b"))


# --- sampled aggregation with confidence intervals (AQP) --------------------
# Operator: sampling.sampled_agg_ci (Horvitz-Thompson count/sum
# estimators over the deterministic hash_sample predicate); unit tests
# in tests/test_r10_ops.py cover the one_in=1 exact degeneracy,
# partitioning invariance, and CI coverage of the true totals.

_ACI_HASH = "md5(CAST(o_orderkey AS VARCHAR))"


@query(
    "sampled_agg_ci_orders",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders
        WHERE ({_hex15_sql(_ACI_HASH)}) % 10 = 0
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_sample,
           CAST(count(*) * 10 AS BIGINT) AS est_count,
           round(1.959964 * sqrt(CAST(count(*) AS DOUBLE) * 90.0), 4)
               AS ci95_count,
           round(CAST(sum(v) * 10 AS DOUBLE), 2) AS est_sum,
           round(1.959964 * sqrt(CAST(sum(CAST(v * v AS DECIMAL(38,4)))
                                      AS DOUBLE) * 90.0), 4) AS ci95_sum
    FROM s GROUP BY 1
    """,
)
def sampled_agg_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-priority order count and revenue from a 1-in-10
    deterministic hash sample with 95% error bars (extension:
    online-aggregation-style AQP; the scan-1%-answer-with-CI path a
    100 TB interactive engine needs). Oracle = the same md5-mod
    predicate and Horvitz-Thompson arithmetic in DuckDB; the value is
    summed as DECIMAL so both engines' aggregation trees are exact."""
    from sparkobs.operators.sampling import sampled_agg_ci

    orders = load_table(spark, sf_dir, "orders")
    return sampled_agg_ci(
        orders, "o_orderkey", ["o_orderpriority"], "o_totalprice", one_in=10
    )


# --- join-side sampled aggregation with confidence intervals (AQP) ----------
# Promoted from the r11 staged queue into the r12 gate — the swap slot
# freed by the r11 sparse_cosine_powerlaw_exact retirement (tombstone
# above). Operator:
# sampling.sampled_join_agg_ci — coordinated key-UNIVERSE sampling
# over a join: independent per-side samples keep only 1/one_in^2 of
# joined pairs (pair starvation), so BOTH sides filter by the SAME
# md5-mod predicate on the join key and sampled keys contribute whole
# join clusters; Horvitz-Thompson then runs over per-(group, key)
# cluster totals in exact BIGINT/DECIMAL. one_in=1 degenerates to the
# exact join. Unit + property tests: tests/test_r11_ops.py.

_JACI_HASH_L = "md5(CAST(o_orderkey AS VARCHAR))"
_JACI_HASH_R = "md5(CAST(l_orderkey AS VARCHAR))"


@query(
    "sampled_join_agg_ci_lineitem",
    oracle=f"""
    WITH lk AS (SELECT o_orderkey, o_orderpriority FROM orders
                WHERE ({_hex15_sql(_JACI_HASH_L)}) % 10 = 0),
    rk AS (SELECT l_orderkey,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS v
           FROM lineitem
           WHERE ({_hex15_sql(_JACI_HASH_R)}) % 10 = 0),
    pk AS (SELECT o_orderpriority, o_orderkey AS k,
                  CAST(count(*) AS BIGINT) AS ck,
                  CAST(sum(v) AS DECIMAL(18,2)) AS sk
           FROM lk JOIN rk ON o_orderkey = l_orderkey GROUP BY 1, 2),
    g AS (SELECT o_orderpriority,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(sum(ck) AS BIGINT) AS njs,
                 CAST(sum(ck * ck) AS BIGINT) AS cksq,
                 sum(sk) AS sd,
                 sum(CAST(sk * sk AS DECIMAL(38,4))) AS ssq
          FROM pk GROUP BY 1)
    SELECT o_orderpriority, n_keys, njs AS n_join_sample,
           CAST(njs * 10 AS BIGINT) AS est_count,
           round(1.959964 * sqrt(CAST(cksq AS DOUBLE) * 90.0), 4)
               AS ci95_count,
           round(CAST(sd * 10 AS DOUBLE), 2) AS est_sum,
           round(1.959964 * sqrt(CAST(ssq AS DOUBLE) * 90.0), 4)
               AS ci95_sum
    FROM g
    """,
)
def sampled_join_agg_ci_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate per-priority joined-row count and extended-price
    total of orders ⋈ lineitem from a 1-in-10 JOIN-KEY-universe
    sample with 95% error bars (extension: join-side AQP — the form
    where independent per-table samples fail; both sides filter by
    the SAME md5-mod predicate on the order key, so sampled keys
    contribute whole join clusters and the HT variance runs over
    cluster totals). The oracle replays the coordinated predicate,
    the per-(priority, key) cluster totals, and the exact-decimal
    HT arithmetic in DuckDB."""
    from sparkobs.operators.sampling import sampled_join_agg_ci

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return sampled_join_agg_ci(
        orders,
        lineitem,
        "o_orderkey",
        "l_orderkey",
        ["o_orderpriority"],
        "l_extendedprice",
        one_in=10,
    )


# --- r13 promotion: EXT-152 filter-funnel curation audit (staged in
# the r12 queue, slot freed by the near_dup_groups_documents
# retirement — swap-ledger entry #1, SURVEY §2.11) -------------------

# The ordered rule chain the funnel audits. Rules are portable SQL
# (comparisons / LIKE / length-replace word count) so the DuckDB
# oracle replays the funnel verbatim, including the row-by-row
# invariant n_survivors[k-1] − n_failing_marginal[k] = n_survivors[k].
# NULL conditions count as FAIL on both engines (coalesce(cond,
# false) — the curation-safe default, unit-pinned).
_FUNNEL_RULES = [
    ("min_chars", "n_chars >= 150"),
    ("english", "lang = 'en'"),
    (
        "min_words",
        "length(text) - length(replace(text, ' ', '')) + 1 >= 40",
    ),
    ("mentions_query", "text LIKE '%query%'"),
]


@query(
    "filter_funnel_marginals_documents",
    oracle="""
    WITH p AS (SELECT
        coalesce(n_chars >= 150, false) AS p1,
        coalesce(lang = 'en', false) AS p2,
        coalesce(length(text) - length(replace(text, ' ', '')) + 1 >= 40,
                 false) AS p3,
        coalesce(text LIKE '%query%', false) AS p4
      FROM documents),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        CAST(sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        CAST(sum(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
        CAST(sum(CASE WHEN p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS m3,
        CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
        CAST(sum(CASE WHEN NOT p4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
        CAST(sum(CASE WHEN p1 AND p2 AND p3 AND NOT p4 THEN 1 ELSE 0 END) AS BIGINT) AS m4,
        CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
      FROM p)
    SELECT 1 AS step, 'min_chars' AS rule, n AS n_input, f1 AS n_failing,
           m1 AS n_failing_marginal, s1 AS n_survivors FROM a
    UNION ALL SELECT 2, 'english', n, f2, m2, s2 FROM a
    UNION ALL SELECT 3, 'min_words', n, f3, m3, s3 FROM a
    UNION ALL SELECT 4, 'mentions_query', n, f4, m4, s4 FROM a
    """,
)
def filter_funnel_marginals_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordered filter-funnel audit over the documents corpus
    (extension EXT-152: which curation rule removes what, marginally
    at its chain position, and what survives — the audit every 100 TB
    filter chain needs before committing; one scan, 3·k conditional
    aggregates). Oracle replays the identical predicate chain and
    funnel arithmetic in DuckDB."""
    from sparkobs.operators.text import filter_funnel

    return filter_funnel(
        load_table(spark, sf_dir, "documents"), _FUNNEL_RULES
    )
