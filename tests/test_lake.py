"""Lake layer semantics tests (SURVEY §5 item 3): catalog lifecycle,
version auto-increment, count-based retention, metadata stats — asserted
against the reference behaviors cited in SURVEY §2.11."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

import pytest

from construction_data_lake_et_data_warehouse_tp3_spark.lake import (
    DataLakeWriter,
    FeedCatalog,
    FeedConfig,
    FeedType,
    PartitioningType,
    StorageMode,
    apply_stream_retention,
    apply_version_retention,
)


@pytest.fixture
def catalog(tmp_path):
    return FeedCatalog(str(tmp_path / "lake"))


def stream_cfg(name="tx_stream"):
    return FeedConfig(
        feed_name=name,
        feed_type=FeedType.STREAM,
        source="transaction_stream",
        partitioning=PartitioningType.DATE,
        storage_mode=StorageMode.APPEND,
    )


def table_cfg(name="user_summary", keep=3):
    return FeedConfig(
        feed_name=name,
        feed_type=FeedType.TABLE,
        source="user_transaction_summary",
        partitioning=PartitioningType.VERSION,
        storage_mode=StorageMode.OVERWRITE,
        keep_versions=keep,
    )


def _staged(feed_path):
    return glob.glob(os.path.join(feed_path, "tables", "*", "_txn_*"))


class TestCatalog:
    def test_add_list_get(self, catalog):
        catalog.add(stream_cfg())
        catalog.add(table_cfg())
        names = [c.feed_name for c in catalog.list()]
        assert names == ["tx_stream", "user_summary"]  # sorted (#72)
        assert catalog.get("tx_stream").feed_type is FeedType.STREAM

    def test_add_duplicate_refused(self, catalog):
        catalog.add(stream_cfg())
        with pytest.raises(ValueError, match="already exists"):
            catalog.add(stream_cfg())

    def test_enum_validation(self, catalog):
        with pytest.raises(ValueError):
            catalog.add(
                FeedConfig(feed_name="bad", feed_type="nope", source="x")
            )

    def test_update_and_disable(self, catalog):
        catalog.add(stream_cfg())
        catalog.disable("tx_stream")
        assert not catalog.get("tx_stream").enabled
        updated = catalog.update("tx_stream", retention_days=30)
        assert updated.retention_days == 30
        with pytest.raises(ValueError, match="unknown feed field"):
            catalog.update("tx_stream", nonsense=1)

    def test_archive_restore_flips(self, catalog):
        catalog.add(stream_cfg())
        archived = catalog.archive("tx_stream")
        assert archived.archived_at and not archived.enabled
        assert [c.feed_name for c in catalog.list()] == []
        assert [c.feed_name for c in catalog.list(archived=True)] == ["tx_stream"]
        restored = catalog.restore("tx_stream")
        assert restored.enabled and restored.restored_at and restored.archived_at is None
        assert [c.feed_name for c in catalog.list()] == ["tx_stream"]

    def test_delete_requires_confirm_and_keeps_data(self, catalog, tmp_path):
        config = catalog.add(stream_cfg())
        data_dir = catalog.feed_data_path(config)
        with pytest.raises(ValueError, match="confirm"):
            catalog.delete("tx_stream")
        catalog.delete("tx_stream", confirm=True)
        import os

        assert os.path.isdir(data_dir)  # data retained (manage_feeds.py:262)

    def test_sync_from_config_idempotent(self, catalog):
        configs = [stream_cfg(), table_cfg()]
        assert catalog.sync_from_config(configs) == ["tx_stream", "user_summary"]
        assert catalog.sync_from_config(configs) == []


class TestWriter:
    def test_stream_export_partitions_and_metadata(self, spark, catalog):
        config = catalog.add(stream_cfg())
        writer = DataLakeWriter(spark, catalog)
        df = spark.range(10).selectExpr("id", "id * 2.0 AS amount")
        result = writer.export_stream(df, config)
        assert result["records"] == 10
        back = writer.read_stream_feed(config)
        assert back.count() == 10
        assert {"year", "month", "day"} <= set(back.columns)
        # append again → metadata merges the same partition entry (#25)
        writer.export_stream(df, config)
        assert writer.read_stream_feed(config).count() == 20
        import json

        with open(writer._metadata_path(config)) as fh:
            assert json.load(fh)["total_records"] == 20
        # an event-time export files its stats under the day partitions
        # it wrote, which exist on disk
        events = catalog.add(stream_cfg("ev_stream"))
        stamped = df.selectExpr("id", "TIMESTAMP'2024-03-01 10:00:00' AS ts")
        meta = writer.export_stream(stamped, events, event_time_col="ts")
        assert meta["size_mb"] > 0

    def test_disabled_and_empty_guards(self, spark, catalog):
        config = catalog.add(stream_cfg())
        writer = DataLakeWriter(spark, catalog)
        catalog.disable("tx_stream")
        assert writer.export_stream(
            spark.range(1), catalog.get("tx_stream")
        ) == {"skipped": "disabled"}
        assert writer.export_stream(spark.range(0), config) == {"skipped": "empty"}

    def test_version_autoincrement_and_retention(self, spark, catalog):
        config = catalog.add(table_cfg(keep=3))
        writer = DataLakeWriter(spark, catalog)
        df = spark.range(5).selectExpr("id", "id * 1.5 AS v")
        versions = [writer.export_table(df, config)["version"] for _ in range(5)]
        assert versions == [1, 2, 3, 4, 5]
        with open(writer._metadata_path(config)) as fh:
            entries = json.load(fh)["partitions"]
        assert [p["path"] for p in entries] == [f"version=v{n}" for n in versions]
        assert all(p["records"] == 5 and p["size_mb"] > 0 for p in entries)
        kept = sorted(writer.committed_versions(config))
        assert kept == [3, 4, 5]  # newest keep_versions survive
        assert len(_staged(catalog.feed_data_path(config))) == 3  # data too
        assert writer.read_table_feed(config).count() == 5  # latest readable
        with pytest.raises(LookupError):
            writer.read_table_feed(config, version=2)

    def test_export_table_counts_rows_in_the_write_job(self, spark, catalog, tmp_path):
        """export_table's Spark jobs are the isEmpty() guard and the write,
        exactly as many as running those two directly: the row count rides
        the write job, and no count() job re-runs the input plan after it."""
        import uuid

        config = catalog.add(table_cfg())
        writer = DataLakeWriter(spark, catalog)
        df = spark.range(20).selectExpr("id", "id * 1.5 AS v")
        sc = spark.sparkContext

        def jobs(fn):
            group = f"test-export-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                result = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group)), result

        def guard_and_write():
            assert not df.isEmpty()
            df.write.mode("overwrite").parquet(str(tmp_path / "direct"))

        direct, _ = jobs(guard_and_write)
        exported, meta = jobs(lambda: writer.export_table(df, config))
        assert meta["records"] == 20
        assert exported == direct, (exported, direct)


class TestRetention:
    def test_stream_retention_dry_run_and_delete(self, spark, catalog):
        config = catalog.add(stream_cfg())
        writer = DataLakeWriter(spark, catalog)
        df = spark.range(3).selectExpr("id")
        from datetime import date

        writer.export_stream(df, config, partition_date=date(2020, 1, 1))
        writer.export_stream(df, config, partition_date=date(2020, 6, 1))
        writer.export_stream(df, config)  # today
        path = catalog.feed_data_path(config)
        preview = apply_stream_retention(path, retention_days=365, dry_run=True)
        assert len(preview) == 2
        deleted = apply_stream_retention(path, retention_days=365)
        assert sorted(deleted) == sorted(preview)
        assert writer.read_stream_feed(config).count() == 3  # only today's rows

    def test_stream_retention_refuses_file_sink_feed(self, spark, tmp_path):
        """A feed landed by Spark's file sink is listed in its
        `_spark_metadata` log: deleting day partitions under it would
        break every later read, so retention refuses and deletes nothing."""
        from datetime import datetime, timedelta, timezone

        from construction_data_lake_et_data_warehouse_tp3_spark.sources import generator
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming import (
            ingest_stream_to_lake,
            json_feed_schema,
        )

        topic, out = str(tmp_path / "topic"), str(tmp_path / "raw")
        generator.transaction_batch(spark, 20).repartition(2).write.json(topic)
        stream = (
            spark.readStream.schema(json_feed_schema("transaction_stream"))
            .option("maxFilesPerTrigger", 1)
            .json(topic)
        )
        ingest_stream_to_lake(stream, out, str(tmp_path / "ckpt")).awaitTermination(120)
        days = glob.glob(f"{out}/year=*/month=*/day=*")
        assert days
        later = datetime.now(timezone.utc) + timedelta(days=400)
        with pytest.raises(ValueError, match="_spark_metadata"):
            apply_stream_retention(out, retention_days=365, now=later)
        assert glob.glob(f"{out}/year=*/month=*/day=*") == days
        assert spark.read.parquet(out).count() == 20

    def test_version_retention_dry_run(self, spark, catalog):
        config = catalog.add(table_cfg(keep=None))
        writer = DataLakeWriter(spark, catalog)
        for n in range(1, 6):
            writer.export_table(spark.range(n), config)
        feed = catalog.feed_data_path(config)
        preview = apply_version_retention(feed, keep_versions=2, dry_run=True)
        assert len(preview) == 3
        assert writer.committed_versions(config) == {1, 2, 3, 4, 5}
        deleted = apply_version_retention(feed, keep_versions=2)
        assert sorted(deleted) == sorted(preview)
        assert writer.committed_versions(config) == {4, 5}
        assert len(_staged(feed)) == 2
        assert writer.read_table_feed(config).count() == 5


class Crash(Exception):
    pass


class TestCrashSafeSidecars:
    def test_torn_json_dump_keeps_previous_files(self, spark, catalog, monkeypatch):
        """A crash inside json.dump leaves the feed config and the stats
        sidecar as they were, and both still parse."""
        config = catalog.add(stream_cfg())
        writer = DataLakeWriter(spark, catalog)
        df = spark.range(5).selectExpr("id")
        writer.export_stream(df, config)

        def torn(obj, fh, **kwargs):
            fh.write('{"partial": ')
            raise Crash

        with monkeypatch.context() as patch:
            patch.setattr(json, "dump", torn)
            with pytest.raises(Crash):
                catalog.update("tx_stream", description="changed")
            with pytest.raises(Crash):
                writer.export_stream(df, config)
        assert catalog.get("tx_stream").description == ""
        with open(writer._metadata_path(config)) as fh:
            assert json.load(fh)["total_records"] == 5
        assert writer.export_stream(df, config)["records"] == 5
