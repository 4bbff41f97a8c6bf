"""Partitioned lake writers + metadata stats (SURVEY §2.1 #7-9, §2.4 #30,
§2.6 #41).

Reference behaviors re-expressed Spark-first:
- date-partitioned append (export_to_data_lake.py:105-158, path scheme
  data_lake_config.py:141-143) → `partitionBy("year","month","day")`
  with mode=append; Spark discovers the Hive-style dirs natively.
- version-partitioned snapshot (export_to_data_lake.py:160-212,
  version scan :235-245) → each versioned feed is the one table of its
  own `Lakehouse` (lake/transaction.py), rooted at the feed's data path:
  an export is one `_txn_log` commit and its version is the snapshot
  number, so the feeds, warehouse tables and state stores share one
  commit protocol. `keep_versions` is snapshot expiry (`vacuum`), which
  never drops an in-flight export.
- `_metadata.json` running stats (export_to_data_lake.py:277-328) →
  per-partition record/size stats read from the committed files, so an
  append adds to its partition's entry; the batch's own row count and
  the partitions it touched ride the write job as an Observation.

Scale notes: writers never collect data to the driver and never re-run
the input plan to count it; stats come from the listing and parquet
footers of the touched partitions (O(files), not O(rows)). At 100 TB
the date partitioning bounds every retention delete and every
time-ranged scan to partition pruning; a version export writes one
staged directory and one manifest.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import FeedCatalog, FeedConfig, write_json
from .observe import counted
from .transaction import Lakehouse

_TABLE = "data"  # the one table of a versioned feed's Lakehouse


def _partition_stats(path: str) -> tuple[int, float]:
    """(rows, MB) committed under one partition directory: sizes from the
    listing, rows from the parquet footers; in-flight `_temporary` output
    is skipped."""
    import pyarrow.parquet as pq

    rows = size = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            size += os.path.getsize(os.path.join(root, name))
            if name.endswith(".parquet"):
                rows += pq.read_metadata(os.path.join(root, name)).num_rows
    return rows, round(size / (1024 * 1024), 6)


class DataLakeWriter:
    """Feed-aware exporter: DataFrame → partitioned parquet + metadata."""

    def __init__(self, spark: SparkSession, catalog: FeedCatalog):
        self.spark = spark
        self.catalog = catalog

    # ---- streams: date-partitioned append (#8) -------------------------

    def export_stream(
        self,
        df: DataFrame,
        config: FeedConfig,
        partition_date: date | None = None,
        event_time_col: str | None = None,
    ) -> dict:
        """Append df under year=/month=/day= of the feed dir.

        Partition date defaults to *processing time* — the reference's
        behavior (kafka_consumer_datalake.py:35; SURVEY §7 risk 3 keeps
        this default). Pass ``event_time_col`` to opt into event-time
        partitioning: partition columns derive from that column per row,
        so one batch may fan out to many day-partitions."""
        if not config.enabled:  # #19 enabled-feed predicate
            return {"skipped": "disabled"}
        if df.isEmpty():  # #20 empty-input guard
            return {"skipped": "empty"}
        path = self.catalog.feed_data_path(config)
        if event_time_col is not None:
            out = (
                df.withColumn("year", F.year(event_time_col))
                .withColumn("month", F.month(event_time_col))
                .withColumn("day", F.dayofmonth(event_time_col))
            )
        else:
            when = partition_date or datetime.now(timezone.utc).date()
            out = (
                df.withColumn("year", F.lit(when.year))
                .withColumn("month", F.lit(when.month))
                .withColumn("day", F.lit(when.day))
            )
        day = F.format_string("year=%d/month=%d/day=%d", "year", "month", "day")
        out, obs = counted(out, F.collect_set(day).alias("partitions"))
        out.write.mode("append").partitionBy("year", "month", "day").parquet(path)
        partitions = {p: os.path.join(path, p) for p in sorted(obs.get["partitions"])}
        return self._update_metadata(config, partitions, obs.get["records"])

    # ---- tables: one transaction-log table per feed (#9, #41) ----------

    def _lakehouse(self, config: FeedConfig) -> Lakehouse:
        return Lakehouse(self.spark, self.catalog.feed_data_path(config))

    def committed_versions(self, config: FeedConfig) -> set[int]:
        """Versions safe to read: the snapshots in the feed's `_txn_log`."""
        return set(self._lakehouse(config)._committed_snapshots())

    def export_table(self, df: DataFrame, config: FeedConfig) -> dict:
        """Commit a full snapshot as the feed's next version (its snapshot
        number in the feed's `_txn_log`), then expire versions beyond
        keep_versions (export post-export cleanup,
        export_to_data_lake.py:204-206). Expiry drops only committed,
        superseded snapshots: a concurrent export still in flight is not
        a version yet, and vacuum protects its staging."""
        if not config.enabled:
            return {"skipped": "disabled"}
        if df.isEmpty():
            return {"skipped": "empty"}
        lake = self._lakehouse(config)
        txn = lake.begin()
        records = txn.write(_TABLE, df)
        n = txn.commit()
        staged = os.path.join(lake.root, txn.staged[_TABLE])
        meta = self._update_metadata(config, {f"version=v{n}": staged}, records)
        if config.keep_versions:
            lake.vacuum(keep_snapshots=config.keep_versions)
        meta["version"] = n
        return meta

    # ---- readers --------------------------------------------------------

    def read_stream_feed(self, config: FeedConfig) -> DataFrame:
        """Batch view over all date partitions; year/month/day become
        partition columns usable for pruning."""
        return self.spark.read.parquet(self.catalog.feed_data_path(config))

    def read_table_feed(self, config: FeedConfig, version: int | None = None) -> DataFrame:
        """The latest committed version, or exactly `version`: LookupError
        if that is not a committed snapshot (never a neighbour's)."""
        live = self.committed_versions(config)
        if version is None:
            if not live:
                raise LookupError(f"no committed version of {config.feed_name}")
            version = max(live)
        elif version not in live:
            raise LookupError(f"version {version} of {config.feed_name} is not committed")
        return self._lakehouse(config).read(_TABLE, version)

    def read_table_as_of(self, config: FeedConfig, as_of_iso: str) -> DataFrame:
        """Time travel: the newest version committed at or before
        `as_of_iso` (ISO timestamp) — the Delta `TIMESTAMP AS OF`
        equivalent, read from the manifests' `committed_at`."""
        lake = self._lakehouse(config)
        for n in reversed(lake._committed_snapshots()):
            if lake._manifest(n)["committed_at"] <= as_of_iso:
                return lake.read(_TABLE, n)
        raise LookupError(
            f"no live version of {config.feed_name} at or before {as_of_iso}"
        )

    # ---- metadata (#30, export_to_data_lake.py:277-328) -----------------

    def _metadata_path(self, config: FeedConfig) -> str:
        # NOT inside the data dir: Spark special-cases files named
        # _metadata* in a parquet directory as parquet sidecars.
        meta_dir = os.path.join(self.catalog.root, "feeds", "meta")
        os.makedirs(meta_dir, exist_ok=True)
        return os.path.join(meta_dir, f"{config.feed_name}_metadata.json")

    def _update_metadata(
        self, config: FeedConfig, partitions: dict[str, str], records: int
    ) -> dict:
        """Read-modify-write of the feed's stats sidecar, serialized by an
        O_EXCL lock file so concurrent exporters can't lose each other's
        partition entries. Locks older than 60 s are presumed crashed and
        stolen."""
        import time

        lock = self._metadata_path(config) + ".lock"
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > 60:
                        # Steal by atomic rename, not unlink: two waiters
                        # observing the same stale lock could otherwise
                        # both unlink — the second removing the FIRST
                        # stealer's fresh lock and letting a third writer
                        # into the critical section. rename() succeeds
                        # for exactly one stealer; the loser gets ENOENT
                        # and retries the O_EXCL create.
                        stolen = f"{lock}.stale.{os.getpid()}.{time.monotonic_ns()}"
                        os.rename(lock, stolen)
                        os.unlink(stolen)
                        continue
                except OSError:
                    continue
                time.sleep(0.01)
        try:
            return self._update_metadata_locked(config, partitions, records)
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass

    def _update_metadata_locked(
        self, config: FeedConfig, partitions: dict[str, str], records: int
    ) -> dict:
        """Refresh the entry of every partition the export touched (label
        → committed directory) from what is on disk now; returns the
        export's own records and the touched partitions' size."""
        path = self._metadata_path(config)
        meta = {
            "source": config.source,
            "type": config.feed_type.value,
            "storage_mode": config.storage_mode.value,
            "format": config.format,
            "partitioning": config.partitioning.value,
            "created_at": datetime.now(timezone.utc).isoformat(),
            "total_records": 0,
            "total_size_mb": 0.0,
            "partitions": [],
        }
        if os.path.exists(path):
            with open(path) as fh:
                meta = json.load(fh)
        exported_at = datetime.now(timezone.utc).isoformat()
        # #25 partition-info merge (export_to_data_lake.py:313-322)
        entries = {p["path"]: p for p in meta["partitions"]}
        for partition, directory in partitions.items():
            rows, mb = _partition_stats(directory)
            entries.setdefault(partition, {"path": partition}).update(
                records=rows, size_mb=mb, exported_at=exported_at
            )
        meta["partitions"] = list(entries.values())
        meta["total_records"] = sum(p["records"] for p in meta["partitions"])
        meta["total_size_mb"] = round(sum(p["size_mb"] for p in meta["partitions"]), 6)
        meta["last_export"] = exported_at
        write_json(path, meta)
        size_mb = round(sum(entries[p]["size_mb"] for p in partitions), 6)
        return {"partitions": list(partitions), "records": records, "size_mb": size_mb}
