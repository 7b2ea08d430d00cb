"""Metadata-first table census: ``io.table_row_count`` answers a base
table's row count from its Parquet footers with no Spark job. It must
equal a count-star scan on the generated tables and on directories
that hold the files Spark's file index skips; a rewritten part file
must miss the memo; a ``k=v`` partition layout must fall back to the
scan. The census-backed registry entries are pinned at 0 jobs from
call to return."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from plan_helpers import jobs_in

from sparkobs import io
from sparkobs.queries import SPARK_QUERIES


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_census_equals_scan_for_every_base_table(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    for name in io.TABLES:
        assert io.table_row_count(spark, sf_dir, name) == (
            io.load_table(spark, sf_dir, name).count()
        ), name


def _part_dir(spark, tmp_path, n=1000, parts=4) -> str:
    """``<tmp>/t.parquet/`` written by Spark: several part files, a
    ``_SUCCESS`` marker and a ``.crc`` file beside each."""
    path = os.path.join(str(tmp_path), "t.parquet")
    spark.range(n).selectExpr("id", "id % 7 AS v").repartition(parts).write.parquet(path)
    return path


def test_census_skips_what_the_file_index_skips(spark, tmp_path):
    path = _part_dir(spark, tmp_path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert sum(n.startswith("part-") for n in names) == 4
    # not Parquet: reading any of these as data would fail the scan
    with open(os.path.join(path, ".hidden"), "w") as fh:
        fh.write("not parquet")
    os.makedirs(os.path.join(path, "_temporary", "0"))
    with open(os.path.join(path, "_temporary", "0", "part-x.parquet"), "w") as fh:
        fh.write("not parquet")
    # a visible zero-length file: a scan splits it into nothing
    open(os.path.join(path, "zz-empty.parquet"), "w").close()
    census = io.table_row_count(spark, str(tmp_path), "t")
    assert census == io.load_table(spark, str(tmp_path), "t").count() == 1000
    # warm: the count comes from the memo, and no job runs
    assert jobs_in(spark, lambda: io.table_row_count(spark, str(tmp_path), "t")) == 0


def test_rewritten_part_file_misses_the_memo(spark, tmp_path):
    path = _part_dir(spark, tmp_path)
    assert io.table_row_count(spark, str(tmp_path), "t") == 1000
    part = sorted(n for n in os.listdir(path) if n.startswith("part-"))[0]
    target = os.path.join(path, part)
    before = pq.read_metadata(target).num_rows
    stat = os.stat(target)
    pq.write_table(pa.table({"id": list(range(3)), "v": [0, 1, 2]}), target)
    os.remove(os.path.join(path, f".{part}.crc"))  # now stale
    os.utime(target, ns=(stat.st_atime_ns, stat.st_mtime_ns + 10**9))
    expect = 1000 - before + 3
    assert io.table_row_count(spark, str(tmp_path), "t") == expect
    assert io.load_table(spark, str(tmp_path), "t").count() == expect


def test_partitioned_layout_counts_through_the_scan(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t.parquet")
    spark.range(500).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(path)
    assert any(n.startswith("k=") for n in os.listdir(path))
    io.load_table(spark, str(tmp_path), "t")  # the schema is memoized
    got = []
    n_jobs = jobs_in(spark, lambda: got.append(io.table_row_count(spark, str(tmp_path), "t")))
    assert got == [500]
    assert n_jobs >= 1  # the count-star scan, not the footers


@pytest.mark.parametrize(
    "name", ["shape_summary_all", "database_monitor_metrics", "record_count_lineitem"]
)
def test_census_entries_launch_no_job_when_warm(spark, sf_dir, name):
    build = SPARK_QUERIES[name]
    build(spark, sf_dir)
    assert jobs_in(spark, lambda: build(spark, sf_dir)) == 0


def test_shape_summary_all_runs_in_at_most_two_jobs(spark, sf_dir):
    df = SPARK_QUERIES["shape_summary_all"](spark, sf_dir)
    assert jobs_in(spark, df.count) <= 2
