"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); on a real cluster the same
settings hold except parallelism knobs, which callers size via env:

- ``SPARK_GRAFT_CPUS``  — local core count (default 32)
- ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` — shuffle width (default = cpus)

Scale notes (100 TB design, SURVEY.md §4):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  so the static shuffle width only needs to be an upper bound.
- Arrow enabled: every pandas_udf/applyInPandas pays Arrow batch
  cost, not pickled rows.
- UTC session timezone: timestamp semantics identical to the DuckDB
  oracle and stable across clusters.
- Codegen cache of ``CODEGEN_CACHE_ENTRIES`` classes (Spark keeps
  100): one monitor cycle generates more than 100 distinct classes,
  so with the default every repeated cycle recompiles most of its own
  code with Janino. The cache lives in the driver JVM and holds
  generated code, not data, so the constant does not grow with data
  or cluster size.
- Python worker daemon ``sparkobs.pyworker`` (``spark.python.daemon.module``):
  Spark calls ``importlib.invalidate_caches()`` on every task, and on
  CPython < 3.13 that makes each of a worker's 16 ``zipimporter``s
  re-parse its archive's central directory, 26,672 entries per task.
  The daemon re-reads an archive only when it changed on disk, so a
  ``mapInPandas`` task that does nothing costs 0.03 s of worker CPU
  instead of 0.09 s. ``get_spark`` puts the directory holding the
  ``sparkobs`` package first on ``spark.executorEnv.PYTHONPATH`` so the
  daemon imports from any working directory.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: generated classes the driver JVM keeps compiled. One cycle of the
#: five perfbench ``monitor_stream_sf001`` queries compiles ~120
#: classes cold; at Spark's 100 every warm cycle recompiled 111-113
#: of them (sf0.01, 4 cores), at 1000 none. Measured cost: peak RSS
#: of that workload 1,790 -> 1,806 MB (median of 10 runs, +0.9%).
CODEGEN_CACHE_ENTRIES = 1000

#: the directory holding the ``sparkobs`` package
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "sparkobs", extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the output partitioning of persisted plans
        # too (default false): operators pin small edge/sketch frames
        # with persist() (the component loop's edge caches, streaming
        # band indexes), and without this every cached frame
        # materializes — and every later read schedules — the full
        # static shuffle width regardless of size. Scale-adaptive,
        # not a local tweak: coalescing follows
        # advisoryPartitionSizeInBytes, so corpus-sized caches keep
        # large partitions at any scale while kB-sized ones collapse
        # to a few tasks (guide §2.2). Measured at sf0.1 when the LSH
        # tier still pinned its candidates: near_dup_groups_lsh
        # 7.9->4.5 s, canonical_dedup 4.7->3.5 s (r14).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long, io.load_table converts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "sparkobs.pyworker")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PKG_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: SparkContexts whose Python workers were sent the package
_SHIPPED: weakref.WeakSet = weakref.WeakSet()


def ship_to_workers(spark: SparkSession) -> None:
    """Make ``sparkobs`` importable on the Python workers of ``spark``'s
    SparkContext, once per context. Arrow kernels pickle sparkobs
    functions by reference, and a worker started outside the checkout
    with no PYTHONPATH to it cannot import them. The package's sources
    are zipped into a per-process scratch directory and added with
    ``addPyFile``, which launches no Spark job. A worker started in the
    checkout keeps importing from it: its working directory comes first
    on its ``sys.path``, ahead of shipped files.

    A ``get_spark`` session needs none of this (its workers find the
    package through ``spark.executorEnv.PYTHONPATH``, which its daemon
    module needs too); a vanilla session that loads ``__spark_entry__``
    by path still does."""
    import zipfile

    from sparkobs.io import scratch_dir

    sc = spark.sparkContext
    if sc in _SHIPPED:
        return
    pkg = os.path.dirname(os.path.abspath(__file__))
    out = scratch_dir("sparkobs_pyfiles", "zip")
    os.makedirs(out, exist_ok=True)
    archive = os.path.join(out, "sparkobs.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for f in filenames:
                if f.endswith(".py"):
                    src = os.path.join(dirpath, f)
                    zf.write(src, os.path.relpath(src, os.path.dirname(pkg)))
    sc.addPyFile(archive)
    _SHIPPED.add(sc)


#: py4j gateway client -> {class name: JavaClass}
_CLASSES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def jvm_class(spark: SparkSession, fqn: str):
    """The JVM class ``fqn`` (e.g. ``"org.apache.hadoop.fs.Path"``) of
    ``spark``'s gateway, resolved once per gateway. Spelling it as a
    py4j package walk (one ``spark._jvm`` attribute per name segment)
    costs a gateway round trip per segment on every call, and the JVM
    answers each package segment with a failed class lookup over every
    jar on the classpath."""
    from py4j.java_gateway import JavaClass

    client = spark.sparkContext._gateway._gateway_client
    classes = _CLASSES.setdefault(client, {})
    if fqn not in classes:
        classes[fqn] = JavaClass(fqn, client)
    return classes[fqn]
