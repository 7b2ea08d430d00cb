"""Base-table read path: ``load_table`` infers a path's Parquet schema
once per session and reads with it afterwards, so a repeated read
launches no footer-inference Spark job. The memo must follow the files
(a rewrite re-infers) and the inference confs (a flipped conf
re-infers), and keep one entry per path."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparkobs import io


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def _write(sf_dir, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(str(sf_dir), "t.parquet"))


@pytest.fixture
def table_dir(tmp_path):
    _write(tmp_path, pa.table({"id": [1, 2, 3], "v": ["a", "b", "c"]}))
    return str(tmp_path)


def test_second_read_launches_no_job(spark, table_dir):
    io.load_table(spark, table_dir, "t")
    before = _jobs(spark)
    io.load_table(spark, table_dir, "t")
    assert _jobs(spark) == before


def test_second_read_returns_same_schema_and_rows(spark, table_dir):
    first = io.load_table(spark, table_dir, "t")
    second = io.load_table(spark, table_dir, "t")
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewrite_with_extra_column_is_reinferred(spark, table_dir):
    assert io.load_table(spark, table_dir, "t").columns == ["id", "v"]
    _write(table_dir, pa.table({"id": [4], "v": ["d"], "w": [1.5]}))
    df = io.load_table(spark, table_dir, "t")
    assert df.columns == ["id", "v", "w"]
    assert [tuple(r) for r in df.collect()] == [(4, "d", 1.5)]


def test_inference_conf_flip_is_reinferred(spark, tmp_path):
    _write(tmp_path, pa.table({"b": pa.array([b"x", b"y"], type=pa.binary())}))
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert dict(io.load_table(spark, str(tmp_path), "t").dtypes) == {"b": "binary"}
        spark.conf.set(key, "true")
        assert dict(io.load_table(spark, str(tmp_path), "t").dtypes) == {"b": "string"}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_rewrites_keep_one_memo_entry_per_path(spark, table_dir):
    for i in range(3):
        _write(table_dir, pa.table({"id": list(range(i + 1))}))
        io.load_table(spark, table_dir, "t")
        io.load_table(spark, table_dir, "t")
    path = f"{table_dir}/t.parquet"
    entries = [p for p in io._SCHEMAS[spark] if p.startswith(table_dir)]
    assert entries == [path]
    assert io.load_table(spark, table_dir, "t").count() == 3
