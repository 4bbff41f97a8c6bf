"""Per-path parquet schema cache behind `sources.registry.read_parquet`:
a read of unchanged files reuses the inferred schema (no inference Spark
job), and any change to the files or to an inference conf re-infers."""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from construction_data_lake_et_data_warehouse_tp3_spark.lake.transaction import Lakehouse
from construction_data_lake_et_data_warehouse_tp3_spark.sources.registry import (
    TABLES,
    load_table,
    read_parquet,
)

from conftest import SF_DIR

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
BINARY = "spark.sql.parquet.binaryAsString"


def _jobs(spark, fn):
    """Spark jobs started by `fn()`, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"test-schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def _with_conf(spark, key, value, fn):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_inferred_schema(spark, name):
    path = f"{SF_DIR}/{name}.parquet"
    expected = spark.read.parquet(path).schema
    assert read_parquet(spark, path).schema == expected
    assert read_parquet(spark, path).schema == expected  # served from the cache


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_parquet(spark, path).schema.simpleString() == "struct<a:bigint>"
    os.remove(path)  # a new file: size and mtime both change
    pq.write_table(pa.table({"a": pa.array(["x", "yz"])}), path)
    df = read_parquet(spark, path)
    assert df.schema.simpleString() == "struct<a:string>"
    assert sorted(r.a for r in df.collect()) == ["x", "yz"]


def test_rewritten_directory_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "dir")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "twice"]
    assert sorted(r.twice for r in df.collect()) == [0, 2, 4]


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    """An entry inferred under one value of an inference conf is never
    served under another: nanosAsLong=false fails exactly as a plain read
    does, and binaryAsString flips a binary column to a string."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "t": pa.array([1_000_000_000_123], pa.timestamp("ns")),
                "b": pa.array([b"x"], pa.binary()),
            }
        ),
        path,
    )
    as_long = _with_conf(spark, NANOS, "true", lambda: read_parquet(spark, path).schema)
    assert as_long["t"].dataType.simpleString() == "bigint"
    with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
        _with_conf(spark, NANOS, "false", lambda: spark.read.parquet(path).schema)
    with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
        _with_conf(spark, NANOS, "false", lambda: read_parquet(spark, path).schema)

    def binary_type(value):
        return _with_conf(
            spark,
            BINARY,
            value,
            lambda: _with_conf(
                spark, NANOS, "true", lambda: read_parquet(spark, path).schema["b"]
            ),
        ).dataType.simpleString()

    assert binary_type("false") == "binary"
    assert binary_type("true") == "string"
    assert binary_type("false") == "binary"


@pytest.mark.parametrize("kind", ["missing", "empty"])
def test_unreadable_path_raises_as_before(spark, tmp_path, kind):
    path = str(tmp_path / "nothing")
    if kind == "empty":
        os.makedirs(path)
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as cached:
        read_parquet(spark, path)
    assert type(cached.value) is type(plain.value)
    spark.range(2).write.mode("overwrite").parquet(path)  # the failure was not kept
    assert read_parquet(spark, path).count() == 2


def test_threads_reading_one_path_agree(spark, tmp_path):
    path = str(tmp_path / "shared")
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(path)
    with ThreadPoolExecutor(8) as pool:
        schemas = list(pool.map(lambda _: read_parquet(spark, path).schema, range(8)))
    assert all(s == schemas[0] for s in schemas)
    assert schemas[0] == spark.read.parquet(path).schema


class TestNoInferenceJobOnRepeatRead:
    """A repeated read of unchanged files starts no Spark job: the schema
    comes from the cache, so only the query's own execution runs jobs."""

    @pytest.mark.parametrize("name", ["orders", "documents"])
    def test_repeated_load_table(self, spark, name):
        load_table(spark, SF_DIR, name)
        jobs, df = _jobs(spark, lambda: load_table(spark, SF_DIR, name))
        assert jobs == 0
        assert df.columns == load_table(spark, SF_DIR, name).columns

    def test_repeated_snapshot_read(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        txn = lh.begin()
        txn.write("dim", spark.range(5).selectExpr("id", "id % 2 AS v"))
        txn.commit()
        lh.read("dim")
        jobs, df = _jobs(spark, lambda: lh.read("dim"))
        assert jobs == 0
        assert df.count() == 5
