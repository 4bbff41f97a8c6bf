"""Skew-handling and lake-maintenance semantics."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from construction_data_lake_et_data_warehouse_tp3_spark.functions.skew import (
    salted_join_keys,
    salted_sum_count,
)
from construction_data_lake_et_data_warehouse_tp3_spark.lake.maintenance import (
    compact_partition,
    partition_file_stats,
)
from construction_data_lake_et_data_warehouse_tp3_spark.sources import generator
from construction_data_lake_et_data_warehouse_tp3_spark.streaming import (
    ingest_stream_to_lake,
    json_feed_schema,
)


class TestSaltedAggregation:
    def test_matches_direct_groupby(self, spark):
        # one pathologically hot key (90% of rows) + a long tail
        df = spark.range(10_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 'hot' ELSE concat('k', id % 50) END AS key",
            "CAST(id % 97 AS DOUBLE) AS v",
        )
        salted = {
            r["key"]: (r["total_v"], r["count"], round(r["avg_v"], 9))
            for r in salted_sum_count(df, ["key"], "v", n_salts=16).collect()
        }
        direct = {
            r["key"]: (r["t"], r["c"], round(r["a"], 9))
            for r in df.groupBy("key")
            .agg(F.sum("v").alias("t"), F.count("*").alias("c"), F.avg("v").alias("a"))
            .collect()
        }
        assert salted == direct

    def test_salted_join_matches_plain_join(self, spark):
        left = spark.range(5_000).selectExpr("id % 5 AS k", "id AS payload")
        right = spark.createDataFrame(
            [(i, f"dim_{i}") for i in range(5)], "k long, label string"
        )
        l2, r2, keys = salted_join_keys(left, right, "k", n_salts=8)
        salted = l2.join(r2, keys).select("payload", "label")
        plain = left.join(right, "k").select("payload", "label")
        assert salted.count() == plain.count() == 5_000
        assert salted.exceptAll(plain).count() == 0


class TestCompaction:
    def test_compacts_small_files_preserving_rows(self, spark, tmp_path):
        part = str(tmp_path / "day=1")
        # streaming-style many tiny files
        for batch in range(8):
            spark.range(batch * 100, batch * 100 + 100).write.mode("append").parquet(part)
        before, _ = partition_file_stats(part)
        assert before >= 8
        stats = compact_partition(spark, part, target_file_mb=128)
        assert not stats["skipped"]
        assert stats["rows"] == 800
        assert stats["files_after"] < before
        assert spark.read.parquet(part).count() == 800
        # distinct ids intact
        assert spark.read.parquet(part).distinct().count() == 800

    def test_skips_already_compact(self, spark, tmp_path):
        part = str(tmp_path / "day=2")
        spark.range(100).coalesce(1).write.parquet(part)
        stats = compact_partition(spark, part, min_files_to_compact=4)
        assert stats["skipped"]

    def test_refuses_file_sink_partition_and_feed_stays_readable(
        self, spark, tmp_path
    ):
        """Five micro-batches of Spark's parquet file sink land five files
        in one day partition. The sink's `_spark_metadata` log lists them,
        so swapping in a compacted file would break every later read of
        the feed: compaction refuses and leaves the partition as it was."""
        topic, out = str(tmp_path / "topic"), str(tmp_path / "raw")
        generator.transaction_batch(spark, 50).repartition(5).write.json(topic)
        stream = (
            spark.readStream.schema(json_feed_schema("transaction_stream"))
            .option("maxFilesPerTrigger", 1)
            .json(topic)
        )
        ingest_stream_to_lake(stream, out, str(tmp_path / "ckpt")).awaitTermination(120)
        (part,) = glob.glob(f"{out}/year=*/month=*/day=*")
        assert partition_file_stats(part)[0] == 5
        with pytest.raises(ValueError, match="_spark_metadata"):
            compact_partition(spark, part, min_files_to_compact=4)
        assert partition_file_stats(part)[0] == 5
        assert spark.read.parquet(out).count() == 50
