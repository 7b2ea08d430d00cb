"""Table sources and metric sinks.

The reference pulls whole tables into pandas via DB cursors
(``databand_tracking_template.py:12-19``, ``redshift_table_monitor.py:24``);
here every source is a lazy Spark scan so Catalyst can push filters
and prune columns. A base table's row count is metadata, as in the
reference's warehouse monitors: :func:`table_row_count` sums the
Parquet footers' record counts and runs no Spark job.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import tempfile
import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkobs.session import jvm_class

#: Driver-generated star schema + extension tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: what :func:`stage_dir` names: ``sparkobs_stage_<source key>_<version key>``
_STAGE_NAME = re.compile(r"(sparkobs_stage_[0-9a-f]{16})_[0-9a-f]{8}")

#: the file :func:`ensure_stage` writes into a stage once it is built
_STAGE_MARKER = "_SUCCESS"

#: the zone-map layout (``orders`` range-partitioned into 16 files),
#: read by ``zone_map_prune_orders`` and by its oracle as ``{ZM16_DIR}``
ZM16_STAGE = (("orders",), "zm16")


def stage_dir(sf_dir: str, tables: tuple[str, ...], tag: str) -> str:
    """The directory of one staged layout: a derived on-disk copy of
    ``tables`` under ``sf_dir`` that ``tag`` describes. The name has a
    source key (the resolved sf-dir, the table names and the tag) and a
    version key (each ``<table>.parquet``'s ``st_mtime_ns``, 0 when it
    is missing): a source regenerated in place names a new stage, and
    two sf-dirs sharing a basename never share one. Pure (no Spark
    session), so :func:`oracle_substitute` resolves ``{ZM16_DIR}``
    through it too."""
    src = os.path.realpath(sf_dir)
    mtimes = []
    for t in tables:
        path = os.path.join(src, f"{t}.parquet")
        mtimes.append(os.stat(path).st_mtime_ns if os.path.exists(path) else 0)
    srckey = hashlib.sha256(f"{src}:{list(tables)}:{tag}".encode()).hexdigest()
    verkey = hashlib.sha256(str(mtimes).encode()).hexdigest()
    return os.path.join(
        tempfile.gettempdir(), f"sparkobs_stage_{srckey[:16]}_{verkey[:8]}"
    )


def _stage_owner_dead(name: str) -> bool:
    """.tmp<pid>/.aside<pid> suffixes embed the writer's pid: a
    leftover is prunable only once that process is gone (a LIVE
    concurrent stager's in-flight dirs must survive the sweep)."""
    digits = ""
    for ch in reversed(name):
        if not ch.isdigit():
            break
        digits = ch + digits
    if not digits:
        return False
    try:
        os.kill(int(digits), 0)
        return False  # alive
    except ProcessLookupError:
        return True
    except OSError:
        return False  # exists but not ours (EPERM) — leave it


def _prune_stage_siblings(stage: str) -> None:
    """Remove what sits next to ``stage`` before it is built: every
    older version of its source key (a :func:`stage_dir` name) with
    that version's leftovers, and ``<stage>.tmp<pid>`` /
    ``<stage>.aside<pid>`` leftovers whose writer process is gone (a
    process dying between the aside-rename and the rmtree otherwise
    leaks them forever)."""
    parent, base = os.path.split(stage)
    named = _STAGE_NAME.fullmatch(base)
    pattern = f"{named.group(1)}_*" if named else f"{base}.*"
    for sib in glob.glob(os.path.join(parent, pattern)):
        nm = os.path.basename(sib)
        if not nm.startswith(base) or (
            nm != base
            and (".tmp" in nm or ".aside" in nm)
            and _stage_owner_dead(nm)
        ):
            shutil.rmtree(sib, ignore_errors=True)


def _publish_stage(tmp: str, stage: str) -> str:
    """Atomically publish a fully-built ``tmp`` directory at ``stage``
    (one same-filesystem ``os.rename``), loser-safe: if the dest is
    occupied, a COMPLETE occupant (its marker present) wins and
    ``tmp`` is discarded; a partial occupant is moved ASIDE atomically
    and replaced. NEVER rmtrees the stage path — between a marker check
    and a delete, a concurrent publisher could land a complete stage
    and the delete would take out live data mid-read (r8 review)."""
    try:
        os.rename(tmp, stage)
    except OSError:
        if os.path.exists(os.path.join(stage, _STAGE_MARKER)):
            shutil.rmtree(tmp, ignore_errors=True)  # winner exists
        else:
            aside = f"{stage}.aside{os.getpid()}"
            try:
                os.rename(stage, aside)
            except OSError:
                pass  # occupant vanished or was renamed by another run
            try:
                os.rename(tmp, stage)
                shutil.rmtree(aside, ignore_errors=True)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
                if not os.path.exists(os.path.join(stage, _STAGE_MARKER)):
                    raise RuntimeError(
                        f"stage {stage} could not be published and no "
                        "concurrent run produced it"
                    )
    return stage


def ensure_stage(stage: str, build) -> str:
    """Return ``stage`` (a :func:`stage_dir` path), building it first
    when it is missing. Idempotent and safe under concurrent drivers.

    A hit is one ``os.path.exists`` of the stage's marker. On a miss,
    older versions of the same source key are removed (a stage of
    another table, tag or sf-dir is never touched), and so are the
    ``.tmp<pid>`` / ``.aside<pid>`` leftovers of this stage's dead
    writers. ``build(tmp_dir)`` then writes the stage's full content
    into a pid-keyed sibling directory; ensure_stage writes the marker
    after ``build`` returns, and publishes the directory with one
    atomic ``os.rename``. A concurrent reader sees the old complete
    stage, no stage, or the new complete stage, never a half-written
    one."""
    if os.path.exists(os.path.join(stage, _STAGE_MARKER)):
        return stage
    _prune_stage_siblings(stage)
    tmp = f"{stage}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)  # our own earlier failure
    os.makedirs(os.path.dirname(tmp) or ".", exist_ok=True)
    build(tmp)
    os.makedirs(tmp, exist_ok=True)
    open(os.path.join(tmp, _STAGE_MARKER), "a").close()
    return _publish_stage(tmp, stage)


def scratch_dir(prefix: str, key: str) -> str:
    """An empty per-process SCRATCH directory path (not a cache; it is
    not created): ``<tmp>/<prefix>_<key>_p<pid>``. Keying by pid makes
    concurrent drivers collision-free, while repeated runs in ONE
    process reuse a single path instead of leaking one per call: what
    an earlier call left there is removed. Dead owners' scratch of the
    same prefix is swept here, whatever its key (a key that names a
    stage changes with the stage's version), bounding the leak to one
    dir per live process and key."""
    tmp = tempfile.gettempdir()
    for sib in glob.glob(os.path.join(tmp, f"{prefix}_*_p*")):
        if _stage_owner_dead(os.path.basename(sib)):
            shutil.rmtree(sib, ignore_errors=True)
    out = os.path.join(tmp, f"{prefix}_{key}_p{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    return out


def oracle_substitute(sql: str, sf_dir: str) -> str:
    """Resolve every oracle-SQL placeholder for ``sf_dir``. One shared
    implementation for the driver contract (``__spark_entry__``), the
    local checker, and the queue tests — placeholders are a convention,
    not per-call-site string surgery:

    - ``{SF_DIR}``   → the parquet directory under test
    - ``{ZM16_DIR}`` → the staged range-partitioned layout for the
      zone-map queries (:data:`ZM16_STAGE`)
    """
    return sql.replace("{SF_DIR}", os.path.realpath(sf_dir)).replace(
        "{ZM16_DIR}", stage_dir(sf_dir, *ZM16_STAGE)
    )


#: SQL confs that Parquet schema inference reads: a change to any of
#: them can change the inferred schema of unchanged files.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)

#: session -> {path: [validation key, inferred schema, footer row
#: count or None until counted]}; one entry per path, dropped with the
#: session
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _leaf_files(spark: SparkSession, path: str) -> tuple:
    """``(path, length, modification time)`` of every leaf file under
    ``path``, listed through the path's Hadoop FileSystem (no Spark
    job)."""
    hpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    pending = [hpath]
    while pending:
        for st in fs.listStatus(pending.pop()):
            if st.isDirectory():
                pending.append(st.getPath())
            else:
                out.append(
                    (st.getPath().toString(), st.getLen(), st.getModificationTime())
                )
    return tuple(sorted(out))


def _memo_key(spark: SparkSession, path: str) -> tuple:
    """What a memo entry of ``path`` is valid for: its leaf files and
    the inference confs."""
    files = _leaf_files(spark, path)
    return (files, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the footer-inference job when
    this session already inferred the schema of these exact files under
    the same inference confs; see :func:`load_table` for the contract."""
    try:
        key = _memo_key(spark, path)
    except Py4JJavaError:
        # missing path and the like: let the plain read raise its error
        return spark.read.parquet(path)
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = [key, df.schema, None]
    return df


def _hidden(name: str) -> bool:
    """Spark's file-index rule: a file or directory the Parquet source
    never reads as data (``_SUCCESS``, ``_metadata``, ``.crc`` files,
    ``_temporary``, in-flight copies), but not a ``_k=v`` partition."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_rows(spark: SparkSession, path: str, files: tuple) -> int | None:
    """Sum of the Parquet footers' record counts over the data files in
    ``files`` (the :func:`_leaf_files` listing of ``path``): hidden
    names are skipped and so are zero-length files, which a scan splits
    into nothing. None when a visible file sits in a subdirectory (a
    ``k=v`` partition layout, which the scan counts) or outside
    ``path``."""
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm_class(spark, "org.apache.hadoop.fs.Path")
    root = hpath(path)
    root = root.getFileSystem(conf).makeQualified(root).toString()
    data = []
    for p, length, _ in files:
        if p == root:  # the path is the file itself
            rel = []
        elif p.startswith(root + "/"):
            rel = p[len(root) + 1 :].split("/")
        else:
            return None
        if any(map(_hidden, rel)):
            continue
        if len(rel) > 1:
            return None
        if length:
            data.append(p)
    open_footer = jvm_class(spark, "org.apache.parquet.hadoop.ParquetFileReader").open
    input_file = jvm_class(
        spark, "org.apache.parquet.hadoop.util.HadoopInputFile"
    ).fromPath
    total = 0
    for p in data:
        reader = open_footer(input_file(hpath(p), conf))
        try:
            total += reader.getRecordCount()
        finally:
            reader.close()
    return total


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of base table ``name`` (OP-04/22) read from metadata,
    as the reference reads it from the warehouse catalog
    (snowflake_table_monitor.py:57-62, redshift_database_monitor.py:36-44):
    the sum of the Parquet footers' record counts through parquet-mr on
    the JVM, so it works on any Hadoop FileSystem and launches no Spark
    job. The count is memoized in the path's schema-memo entry, so the
    listing that validates the schema validates the count too: a
    rewritten, added or removed file invalidates both. A layout the
    footer rule does not cover (a ``k=v`` partition subdirectory) or a
    footer that cannot be read is counted by a count-star scan."""
    path = f"{sf_dir}/{name}.parquet"
    hit = _SCHEMAS.get(spark, {}).get(path)
    try:
        valid = hit is not None and hit[0] == _memo_key(spark, path)
    except Py4JJavaError:
        valid = False
    if not valid:
        # infers the schema (a cold path) and stores a fresh entry
        load_table(spark, sf_dir, name)
        hit = _SCHEMAS.get(spark, {}).get(path)
    if hit is not None and hit[2] is None:
        try:
            hit[2] = _footer_rows(spark, path, hit[0][0])
        except Py4JJavaError:
            pass
    if hit is None or hit[2] is None:
        return load_table(spark, sf_dir, name).count()
    return hit[2]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Full/partial table scan (OP-01): lazy parquet read.

    Rebuild of ``SELECT * FROM {table}`` (redshift_table_monitor.py:24)
    — but lazy: a downstream ``.select``/``.filter`` reaches the parquet
    scan as column pruning / predicate pushdown instead of materializing
    the whole table like the reference's cursor fetch.

    Schema memo: the first read of a path in a session infers its
    schema from the Parquet footers, which costs one Spark job; later
    reads pass the remembered schema and launch none, the way a
    metastore-backed table supplies its schema. The memo holds metadata
    only, never rows, and at most one schema per (session, path). It is
    valid while the ``(path, length, modification time)`` of every leaf
    file under the path and the SQL confs that schema inference reads
    (``_INFERENCE_CONFS``) are unchanged; otherwise the read infers
    again and replaces the entry. Like a metastore schema it survives
    ``clearCache`` and ``bench.release_session_state``. Limitation:
    a rewrite that keeps each file's length and modification time is
    not detected, the same as a Spark catalog table before
    ``REFRESH TABLE``.
    """
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark rejects
        # unless nanos are read as long. Set the conf here (runtime SQL
        # conf) so the loader works under ANY session — including the
        # driver harness's vanilla SparkSession, not just ours.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos → microsecond TIMESTAMP_NTZ, built via timestampadd from
        # the epoch so the wall-clock value is independent of the
        # session timezone (DuckDB surfaces the same naive micros)
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry points (OP-11)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Partitioned corpus sink: hive-style ``col=value/`` directory
    layout, so downstream scans that filter on a partition column read
    ONLY the matching directories (partition pruning — the plan shows
    ``PartitionFilters``, and a pruned scan never opens the other
    partitions' files). The layout decision IS the 100 TB lever: a
    corpus partitioned by (source, lang) turns per-slice reads from
    full scans into directory listings.

    Keep partition columns low-cardinality (each value is a directory;
    high-cardinality keys belong in bucketing, not partitioning).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
) -> None:
    """Bucketed-table sink: pre-shuffles rows into ``n_buckets`` files
    by hash of ``bucket_cols`` and records the layout in the catalog,
    so a later join or aggregation on those columns runs with NO
    exchange — the shuffle is paid once at write time and amortized
    over every subsequent query (the fact-to-fact join strategy when
    neither side broadcasts; plan-pinned in tests).

    Written as an EXTERNAL table (explicit ``path``) so file placement
    is the caller's; ``sortBy`` the same columns so merge joins skip
    the per-bucket sort too.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .saveAsTable(name)
    )


def pin_corpus_frame(df: DataFrame) -> DataFrame:
    """Eagerly materialize a CORPUS-SCALE frame referenced by several
    plan legs (Catalyst reuses no subtree statically, so without a
    pin each leg re-runs the whole derivation).

    Small derived frames (cells, sketches, vocabularies, k-row
    seeds) ride ``localCheckpoint(eager=True)``: lineage truncation
    is harmless when the frame is provably tiny. A corpus-sized
    frame must NOT localCheckpoint — its blocks land in
    executor-LOCAL storage with the lineage cut, so at the 100 TB
    design point one lost executor mid-job makes the run
    unrecoverable (no recompute path). ``DISK_ONLY`` persist keeps
    the lineage: lost partitions recompute from source, and every
    reference after the materializing ``count()`` reads the cached
    blocks (``InMemoryTableScan``), so the multi-leg scan-dedup the
    pin exists for still holds. Plan-text note: the persisted
    frame's RECOVERABLE lineage still prints one ``Scan parquet``
    node inside the ``InMemoryRelation`` — the tests' scan-count
    helper excludes it from live-work budgets by default; it executes
    at most once (and again only on partition loss).

    Lifetime (r14 review correction): SQL-cache entries stay in the
    CacheManager until an explicit ``unpersist()`` or
    ``spark.catalog.clearCache()`` — UNLIKE the localCheckpoint RDD
    blocks this replaces, which the ContextCleaner freed when the
    RDD was garbage-collected. A long-lived session calling a
    pinning operator per batch (e.g. ``merge_upsert`` over a CDC
    stream) therefore accumulates one DISK_ONLY entry per distinct
    batch plan and should clear between jobs (the repo's bench does:
    ``_release_session_state``). Relatedly, CacheManager reuses
    entries by PLAN identity: rewriting files in place at the same
    path within one session can serve the first build's data — the
    same caveat class as Spark's own FileIndex caching, avoided the
    way the repo's staging already does (distinct ``scratch_dir``
    keys per build, never in-place rewrites)."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.DISK_ONLY)
    df.count()
    return df


def collect_at_most(df: DataFrame, n: int) -> "pandas.DataFrame | None":
    """The whole of ``df`` as a pandas frame when it has at most ``n``
    rows, else None — the one size decision of every dense driver
    tier and of the brute-force cosine corpus guard.

    One Arrow job, ``limit(n + 1)``: the same rows decide and fetch,
    so no separate ``count()`` runs first, and the driver holds at
    most n+1 rows even when ``df`` is 100 TB. None means "past the
    cap": the caller takes its distributed tier (or, for an input
    guard, raises). ``n <= 0`` returns None without a job, which is
    how a test forces the distributed tier (patch the caller's cap
    constant to 0)."""
    if n <= 0:
        return None
    pdf = df.limit(n + 1).toPandas()
    return pdf if len(pdf) <= n else None
