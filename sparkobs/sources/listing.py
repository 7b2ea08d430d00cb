"""Object-store / filesystem listing source (OP-07/08/09/10/41).

Rebuild of the S3 monitors (s3_bucket_monitor.py:42-103,
s3_key_monitor.py:56-138): instead of a driver-side boto3 loop over
``bucket.objects.all()`` (the reference's own README warns it's "not
recommended for very large buckets", AWS_S3/README.md:45), the listing
becomes a DataFrame:

- **driver listing** (``list_files``): Hadoop FileSystem RemoteIterator
  → small DataFrame; right for ≤ ~1M objects of *metadata*.
- **distributed listing** (``list_files_distributed``): the
  ``binaryFile`` data source with the ``content`` column pruned — Spark
  enumerates and splits the listing across executors; scales to
  arbitrarily many objects and supports glob pruning (OP-08's prefix
  filter becomes file-source partition pruning).

Everything downstream (per-prefix aggregation, largest-key argmax,
capacity stats) is ordinary grouped aggregation over the listing
DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkobs.functions import MB
from sparkobs.io import collect_at_most
from sparkobs.session import jvm_class

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("modification_time", T.TimestampType(), False),
    ]
)


def list_files(spark: SparkSession, root: str, recursive: bool = True) -> DataFrame:
    """Driver-side Hadoop FS listing → DataFrame (OP-07).

    One metadata call per object via the JVM FileSystem API; no file
    content touched. Equivalent of the boto3 listing loop at
    s3_bucket_monitor.py:70-74, but returning a queryable DataFrame.
    """
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    jpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(root)
    fs = jpath.getFileSystem(conf)
    it = fs.listFiles(jpath, recursive)
    rows = []
    from datetime import datetime, timezone

    while it.hasNext():
        st = it.next()
        rows.append(
            (
                st.getPath().toString(),
                st.getLen(),
                datetime.fromtimestamp(st.getModificationTime() / 1000.0, tz=timezone.utc).replace(tzinfo=None),
            )
        )
    return spark.createDataFrame(rows, LISTING_SCHEMA)


def list_files_distributed(
    spark: SparkSession, root: str, glob: str | None = None
) -> DataFrame:
    """Distributed listing via the binaryFile source (OP-07/08 at scale).

    ``content`` is never selected, so column pruning keeps this a pure
    metadata scan; ``pathGlobFilter`` gives prefix/suffix pruning before
    tasks are even scheduled.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.option("recursiveFileLookup", "true").load(root)
    return df.select(
        F.col("path"),
        F.col("length"),
        F.col("modificationTime").alias("modification_time"),
    )


#: Extension → MIME type for the content-type column (OP-09). The
#: reference reads S3's stored ContentType (s3_key_monitor.py:74);
#: plain filesystems don't store one, so it's derived from the
#: extension — the same value S3 would have guessed at upload time.
CONTENT_TYPE_BY_EXT = {
    "parquet": "application/vnd.apache.parquet",
    "orc": "application/octet-stream",
    "avro": "application/avro",
    "json": "application/json",
    "jsonl": "application/jsonl",
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
    "txt": "text/plain",
    "md": "text/markdown",
    "html": "text/html",
    "xml": "application/xml",
    "gz": "application/gzip",
    "zst": "application/zstd",
    "zip": "application/zip",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "gif": "image/gif",
    "webp": "image/webp",
    "wav": "audio/wav",
    "mp3": "audio/mpeg",
    "flac": "audio/flac",
    "mp4": "video/mp4",
    "webm": "video/webm",
    "pdf": "application/pdf",
}

DEFAULT_CONTENT_TYPE = "application/octet-stream"


def content_type_expr(path_col: str = "path"):
    """MIME content-type from the path extension (JVM-side map lookup —
    a CASE over the extension, no UDF)."""
    ext = F.lower(F.element_at(F.split(F.element_at(F.split(path_col, "/"), -1), r"\."), -1))
    mapping = F.create_map(
        *[F.lit(x) for kv in CONTENT_TYPE_BY_EXT.items() for x in kv]
    )
    return F.coalesce(mapping[ext], F.lit(DEFAULT_CONTENT_TYPE))


def key_metrics(listing: DataFrame) -> DataFrame:
    """Per-object metrics (OP-09): basename, size (bytes + MB), mtime,
    content-type, storage-class, user metadata, parts count.

    Rebuild of monitor_S3_key's metric dict (s3_key_monitor.py:72-89):
    the reference logs ContentType (:74), the user Metadata map (:75),
    PartsCount (:76) and StorageClass (:77) alongside size and
    last-modified. Filesystems expose only path/size/mtime, so here
    content_type is derived from the extension and the S3-only fields
    are typed nulls — a real object-store listing fills them in without
    changing the schema. The MB division happens exactly once — the
    reference divides twice (compute at :126, again when logging at
    :131; SURVEY.md §8.1).
    """
    return listing.select(
        F.element_at(F.split("path", "/"), -1).alias("key"),
        "path",
        F.col("length").alias("size_bytes"),
        F.round(F.col("length") / F.lit(MB), 4).alias("size_mb"),
        F.date_format("modification_time", "yyyy-MM-dd HH:mm:ss").alias("last_modified"),
        content_type_expr("path").alias("content_type"),
        # S3-only metadata: typed nulls on plain filesystems (OP-09
        # parity columns; ref s3_key_monitor.py:75-77)
        F.lit(None).cast("string").alias("storage_class"),
        F.lit(None).cast("map<string,string>").alias("user_metadata"),
        F.lit(None).cast("int").alias("parts_count"),
    )


def prefix_stats(listing: DataFrame) -> DataFrame:
    """Per-prefix aggregation (OP-08/24/25/26/41): object count, total/
    mean/max size, latest mtime — the fused single-pass version of
    monitor_S3_prefix's running-sum/max loop (s3_key_monitor.py:107-133).
    """
    prefix = F.array_join(
        F.slice(F.split("path", "/"), 1, F.size(F.split("path", "/")) - 1), "/"
    )
    return (
        listing.groupBy(prefix.alias("prefix"))
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum("length").alias("total_bytes"),
            F.round(F.avg("length") / F.lit(MB), 4).alias("mean_size_mb"),
            F.max("length").alias("max_bytes"),
            F.max_by(
                F.element_at(F.split("path", "/"), -1),
                F.struct(F.col("length"), F.col("path")),
            ).alias("largest_key"),
            F.max("modification_time").alias("last_modified"),
        )
    )


def storage_stats(listing: DataFrame) -> DataFrame:
    """Whole-store capacity stats (OP-10 analog): totals over the listing
    (redshift_database_monitor.py:50-57's disk stats, recast as listing
    aggregates)."""
    return listing.agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum("length").alias("total_bytes"),
        F.round(F.sum("length") / F.lit(MB), 4).alias("total_mb"),
        F.max_by(F.col("path"), F.struct(F.col("length"), F.col("path"))).alias(
            "largest_object"
        ),
    )


FS_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("store", T.StringType(), False),
        T.StructField("capacity_bytes", T.LongType(), True),
        T.StructField("used_bytes", T.LongType(), True),
        T.StructField("remaining_bytes", T.LongType(), True),
        T.StructField("percent_used", T.DoubleType(), True),
    ]
)


def fs_status(spark: SparkSession, root: str) -> DataFrame:
    """Store-level capacity / used / free / percent-used via Hadoop
    ``FileSystem.getStatus`` — the percent-capacity analog of the
    reference's Redshift disk gauge (redshift_database_monitor.py:
    111-116), answered by whatever filesystem backs ``root`` (local
    disk, HDFS NameNode totals, ...). Stores that don't report
    capacity (object stores are logically unbounded) yield TYPED NULL
    columns rather than fake numbers — the same honest-null convention
    as the listing's S3-only metadata columns.

    One metadata RPC; no listing, no scan. Always exactly one row.
    """
    cap = used = rem = pct = None
    try:
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(root)
        st = jpath.getFileSystem(conf).getStatus(jpath)
        cap, used, rem = st.getCapacity(), st.getUsed(), st.getRemaining()
        if cap and cap > 0:
            pct = round(100.0 * (cap - rem) / cap, 4)
    except Exception:
        pass  # typed-null row: the store has no capacity concept
    return spark.createDataFrame([(root, cap, used, rem, pct)], FS_STATUS_SCHEMA)


def compaction_plan(listing: DataFrame, target_bytes: int) -> DataFrame:
    """Small-file compaction plan: group files (in path order) into
    merge groups of ≈ ``target_bytes`` — the maintenance job every
    streaming-ingested lake needs (thousands of tiny part files →
    row-group-sized outputs). Group id = floor(exclusive-prefix-sum /
    target), so a group closes once it crosses the target; the prefix
    sum is the DISTRIBUTED running-sum primitive (per-partition
    windows + broadcast offsets — a million-file listing never
    funnels through one partition). Output: one row per planned group
    with file count, total bytes, and the first/last path bounds.
    """
    return (
        compaction_assign(listing, target_bytes)
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("length").cast("long").alias("total_bytes"),
            F.min("path").alias("first_path"),
            F.max("path").alias("last_path"),
        )
        .select(
            F.col("group_id").cast("long").alias("group_id"),
            "n_files",
            "total_bytes",
            "first_path",
            "last_path",
        )
    )


DENSE_ASSIGN_MAX_FILES = 65536


def compaction_assign(
    listing: DataFrame,
    target_bytes: int,
) -> DataFrame:
    """Per-file group assignment behind :func:`compaction_plan`:
    (path, length, group_id) via an exclusive prefix sum in path
    order — the piece an *executor* of the plan needs (which files go
    into which output), where the plan itself only reports per-group
    summaries.

    Dense dispatch: ≤ ``DENSE_ASSIGN_MAX_FILES`` files run the prefix
    sum in numpy (:func:`sparkobs.io.collect_at_most`)."""
    pruned = listing.select("path", "length")
    pdf = collect_at_most(pruned, DENSE_ASSIGN_MAX_FILES)
    if pdf is not None:
        import numpy as np

        # UTF-8 byte order ≡ code-point order, so the pandas sort equals
        # Spark's binary string asc; the group formula divides as DOUBLE
        # like F.floor (an integer // would diverge past 2^53 bytes)
        pdf = pdf.sort_values("path", kind="mergesort", ignore_index=True)
        lens = pdf["length"].to_numpy(np.int64)
        cum_excl = np.cumsum(lens) - lens
        pdf["group_id"] = np.floor(
            cum_excl.astype(np.float64) / float(target_bytes)
        ).astype(np.int64)
        return listing.sparkSession.createDataFrame(
            pdf, "path string, length long, group_id long"
        )
    from sparkobs.operators.joins import global_running_sum

    cum = global_running_sum(pruned, ["path"], "length", out_col="__cum")
    gid = F.floor((F.col("__cum") - F.col("length")) / F.lit(target_bytes))
    return cum.select("path", "length", gid.cast("long").alias("group_id"))


def compaction_execute(
    spark: SparkSession,
    listing: DataFrame,
    target_bytes: int,
    out_dir: str,
    src_root: str,
) -> DataFrame:
    """EXECUTE a small-file compaction plan over same-schema parquet
    files: bin-pack the listed files into ≈``target_bytes`` groups (in
    path order, exactly as :func:`compaction_plan` reports them), then
    rewrite each group as ONE output file.

    Scale shape: no driver loop over groups — ONE read of all listed
    files tags each row with its source file (``input_file_name``),
    a broadcast join maps file → group_id (the listing is metadata,
    always broadcastable), and ``repartition(group_id) +
    partitionBy(group_id)`` makes every group exactly one write task
    producing exactly one file. The shuffle moves each row once — the
    minimum any rewrite pays — and group count scales with total
    bytes / target, never with file count.

    Returns the post-write audit: per group, files merged (from the
    assignment — a file assigned to the group counts even if empty),
    rows written (counted FROM THE WRITTEN OUTPUT, a partition-pruned
    scan of the fresh one-file-per-group layout — never a re-run of
    the source scan, and the only count that can catch a write that
    dropped rows), and output files found on disk (1 per group when
    healthy), so callers can assert row preservation before swapping
    directories.

    ``src_root``: the directory that holds the listed files. The
    reader reads the WHOLE directory and the broadcast join prunes it
    to the listed files, so a million-file listing never becomes a
    million reader paths on the driver. The caller vouches that every
    Parquet file the directory read sees shares the listed files'
    schema: without ``mergeSchema`` the read infers its schema from one
    footer, so a narrower unlisted sibling could drop listed-only
    columns from the rewrite.
    """
    # scheme-insensitive path key: Hadoop listings say file:/x,
    # input_file_name says file:///x
    norm = lambda c: F.regexp_replace(c, "^[a-z0-9+.-]+:/+", "/")  # noqa: E731
    assign = compaction_assign(listing, target_bytes).select(
        norm(F.col("path")).alias("__src"), "group_id"
    )
    rows = (
        spark.read.parquet(src_root)
        .withColumn("__src", norm(F.input_file_name()))
        .join(F.broadcast(assign), "__src")
    )
    n_groups = assign.select("group_id").distinct().count()
    (
        rows.drop("__src")
        .repartition(max(n_groups, 1), "group_id")
        .write.mode("overwrite")
        .partitionBy("group_id")
        .parquet(out_dir)
    )
    # audit from the LISTING (files per group — metadata, no scan) and
    # the WRITTEN OUTPUT (rows per group — a partition-pruned scan of
    # the freshly compacted one-file-per-group layout). The previous
    # shape re-aggregated the `rows` plan, re-running the full source
    # scan + broadcast join a second time after the write (~45% of the
    # operator's wall at sf0.1) — and an input-side recount can never
    # catch a write that dropped rows, which is the failure this audit
    # exists to surface; counting what actually landed on disk can.
    merged = assign.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files_in")
    )
    written = (
        spark.read.parquet(out_dir)
        .groupBy(F.col("group_id").cast("long").alias("group_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    out_files = (
        list_files(spark, out_dir)
        .where(F.col("path").rlike("group_id=") & ~F.col("path").rlike("_SUCCESS"))
        .select(
            F.regexp_extract("path", "group_id=(\\d+)", 1).cast("long").alias("group_id"),
            "path",
        )
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files_out"))
    )
    # LEFT joins from the assignment-derived frame (r11 review): a
    # group whose write produced ZERO rows has no partition directory
    # at all — an inner join would silently drop it from the audit,
    # hiding exactly the all-rows-dropped failure the output-side
    # count exists to surface. Missing groups report
    # (n_files_in > 0, n_rows = 0, n_files_out = 0) instead.
    return (
        merged.join(written, "group_id", "left")
        .join(out_files, "group_id", "left")
        .select(
            "group_id",
            "n_files_in",
            F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce("n_files_out", F.lit(0))
            .cast("long")
            .alias("n_files_out"),
        )
    )


def zone_map_build(spark: SparkSession, data_dir: str, col: str) -> DataFrame:
    """Zone-map (fragment min/max index) build over a parquet layout:
    per fragment, (path, min_val, max_val, n_rows) for ``col`` — the
    storage-health primitive behind partition-prune estimation
    (extension of the reference's storage monitors: s3_key_monitor.py
    tracks per-object size/mtime; a zone map tracks per-object VALUE
    ranges, which is what decides whether a predicate can skip it).

    Scale shape: ONE column-pruned distributed scan grouped by
    ``input_file_name()`` — at 100 TB you build the map ONCE (or read
    footer statistics, which this aggregate reproduces exactly while
    also being NaN/NULL-honest) and it is fragment-count-sized;
    every subsequent predicate estimate is then a metadata-only query
    over the map, never a data scan."""
    norm = F.regexp_replace(F.input_file_name(), "^[a-z0-9+.-]+:/+", "/")
    return (
        spark.read.parquet(data_dir)
        .groupBy(norm.alias("path"))
        .agg(
            F.min(col).alias("min_val"),
            F.max(col).alias("max_val"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


def zone_map_prune_estimate(zmap: DataFrame, lo, hi) -> DataFrame:
    """Estimate what a range predicate ``lo <= col <= hi`` can skip,
    from the zone map alone: each fragment classifies as ``pruned``
    (range disjoint from the predicate — never read), ``full``
    (entirely inside — read without filtering), or ``partial``
    (overlapping — read and filter). Output is ONE row of exact
    integers (fragment + row counts per class) plus the unrounded
    prunable-row share; cost is one aggregate over the
    fragment-count-sized map."""
    is_pruned = (F.col("max_val") < lo) | (F.col("min_val") > hi)
    is_full = (F.col("min_val") >= lo) & (F.col("max_val") <= hi)
    cls = F.when(is_pruned, "pruned").when(is_full, "full").otherwise("partial")
    per = zmap.select(cls.alias("__c"), "n_rows")

    def _n(tag):
        return F.coalesce(
            F.sum(F.when(F.col("__c") == tag, F.lit(1))), F.lit(0)
        ).cast("long")

    def _rows(tag):
        return F.coalesce(
            F.sum(F.when(F.col("__c") == tag, F.col("n_rows"))), F.lit(0)
        ).cast("long")

    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_fragments"),
        _n("pruned").alias("n_pruned"),
        _n("full").alias("n_full"),
        _n("partial").alias("n_partial"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long").alias("rows_total"),
        _rows("pruned").alias("rows_pruned"),
        _rows("full").alias("rows_full"),
        _rows("partial").alias("rows_partial"),
    ).select(
        "*",
        F.when(
            F.col("rows_total") > 0,
            F.col("rows_pruned") / F.col("rows_total"),
        ).alias("share_rows_pruned"),
    )
