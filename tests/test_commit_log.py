"""Versioned-feed commit tests: each feed is one table of its own
Lakehouse, so an export is one `_txn_log` commit. Concurrent
export_table calls must never double-allocate a version, readers must
never see an uncommitted (in-flight) version, and retention must never
count an in-flight export as a version."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import DataFrameWriter

from construction_data_lake_et_data_warehouse_tp3_spark.lake import (
    DataLakeWriter,
    FeedCatalog,
    FeedConfig,
    FeedType,
    PartitioningType,
    StorageMode,
    transaction,
)
from construction_data_lake_et_data_warehouse_tp3_spark.lake.writer import _TABLE


def _feed(catalog, name="snap", keep_versions=20):
    return catalog.add(
        FeedConfig(
            feed_name=name,
            feed_type=FeedType.TABLE,
            source="s",
            partitioning=PartitioningType.VERSION,
            storage_mode=StorageMode.OVERWRITE,
            keep_versions=keep_versions,
        )
    )


@pytest.fixture
def config(tmp_path):
    catalog = FeedCatalog(str(tmp_path / "lake"))
    return catalog, _feed(catalog)


def test_concurrent_writers_get_distinct_versions(spark, config):
    catalog, cfg = config
    writer = DataLakeWriter(spark, catalog)

    def export(n):
        return writer.export_table(spark.range(n), cfg)["version"]

    with ThreadPoolExecutor(max_workers=6) as pool:
        versions = list(pool.map(export, [10, 20, 30, 40, 50, 60]))

    assert sorted(versions) == [1, 2, 3, 4, 5, 6]  # no double-allocation
    assert writer.committed_versions(cfg) == {1, 2, 3, 4, 5, 6}
    # every snapshot intact: each version dir holds exactly one write
    sizes = sorted(
        writer.read_table_feed(cfg, version=v).count() for v in versions
    )
    assert sizes == [10, 20, 30, 40, 50, 60]
    # the stats sidecar kept every writer's entry (lock, no lost updates)
    import json

    with open(writer._metadata_path(cfg)) as fh:
        meta = json.load(fh)
    assert len(meta["partitions"]) == 6
    assert meta["total_records"] == 210


def test_inflight_claim_not_visible_to_readers(spark, config):
    catalog, cfg = config
    writer = DataLakeWriter(spark, catalog)
    writer.export_table(spark.range(10), cfg)
    # a second writer stages its snapshot and has not committed it
    txn = transaction.Lakehouse(spark, catalog.feed_data_path(cfg)).begin()
    txn.write(_TABLE, spark.range(5))
    assert writer.committed_versions(cfg) == {1}
    assert writer.read_table_feed(cfg).count() == 10  # latest == v1
    with pytest.raises(LookupError):  # never a neighbour's snapshot
        writer.read_table_feed(cfg, version=2)
    # an uncommitted transaction holds no version number
    meta = writer.export_table(spark.range(99), cfg)
    assert meta["version"] == 2
    assert writer.read_table_feed(cfg).count() == 99


def test_retention_keeps_committed_version_while_another_export_writes(
    spark, tmp_path, monkeypatch
):
    """keep_versions=1, two exports in flight. A began first and commits
    while B is still writing: A's retention must not count B's
    uncommitted write as a version, so A's version stays readable, and B
    then commits as the next version. Each export is held right after
    its parquet write until the test releases it."""
    catalog = FeedCatalog(str(tmp_path / "lake"))
    cfg = _feed(catalog, "race", keep_versions=1)
    writer = DataLakeWriter(spark, catalog)
    written = {name: threading.Event() for name in "AB"}
    release = {name: threading.Event() for name in "AB"}
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        name = threading.current_thread().name
        if name in release:
            written[name].set()
            release[name].wait(120)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    results = {}

    def export(name, rows):
        results[name] = writer.export_table(spark.range(rows), cfg)

    threads = {
        name: threading.Thread(target=export, args=(name, rows), name=name)
        for name, rows in (("A", 10), ("B", 20))
    }
    try:
        for name in "AB":
            threads[name].start()
            assert written[name].wait(120), f"export {name} never wrote"
        release["A"].set()
        threads["A"].join(120)
        assert not threads["A"].is_alive()
        assert writer.read_table_feed(cfg).count() == 10
        release["B"].set()
        threads["B"].join(120)
        assert not threads["B"].is_alive()
    finally:
        for event in release.values():
            event.set()
    assert results["B"]["version"] == results["A"]["version"] + 1
    assert writer.committed_versions(cfg) == {results["B"]["version"]}
    assert writer.read_table_feed(cfg).count() == 20


class Crash(Exception):
    pass


def _crash(*args, **kwargs):
    raise Crash


@pytest.mark.parametrize(
    "step, target, latest_rows",
    [
        ("after the staged write", (transaction.LakeTransaction, "commit"), 10),
        ("after the .claim", (transaction.os, "rename"), 10),
        ("after the manifest rename", (DataLakeWriter, "_update_metadata"), 20),
    ],
)
def test_stop_export_after_each_commit_step(
    spark, config, monkeypatch, step, target, latest_rows
):
    """An export stopped at any step leaves the feed readable: the
    previous version until the manifest rename, the new one after it.
    Each step is stopped by patching it to raise, as TestCrashSafety
    does for warehouse tables."""
    catalog, cfg = config
    writer = DataLakeWriter(spark, catalog)
    writer.export_table(spark.range(10), cfg)
    with monkeypatch.context() as patch:
        patch.setattr(*target, _crash)
        with pytest.raises(Crash):
            writer.export_table(spark.range(20), cfg)
    assert writer.read_table_feed(cfg).count() == latest_rows, step
    meta = writer.export_table(spark.range(30), cfg)
    assert meta["version"] == max(writer.committed_versions(cfg))
    assert writer.read_table_feed(cfg).count() == 30
