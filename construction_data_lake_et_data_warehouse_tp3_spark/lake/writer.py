"""Partitioned lake writers + metadata stats (SURVEY §2.1 #7-9, §2.4 #30,
§2.6 #41).

Reference behaviors re-expressed Spark-first:
- date-partitioned append (export_to_data_lake.py:105-158, path scheme
  data_lake_config.py:141-143) → `partitionBy("year","month","day")`
  with mode=append; Spark discovers the Hive-style dirs natively.
- version-partitioned snapshot (export_to_data_lake.py:160-212,
  version scan :235-245) → literal `version=vN` partition column; every
  export claims N through the feed's `_commit_log`, one past any
  claimed, committed or on-disk version (`_get_next_version`).
- `_metadata.json` running stats (export_to_data_lake.py:277-328) →
  per-partition record/size stats read from the committed files, so an
  append adds to its partition's entry; the batch's own row count and
  the partitions it touched ride the write job as an Observation.

Scale notes: writers never collect data to the driver and never re-run
the input plan to count it; stats come from the listing and parquet
footers of the touched partitions (O(files), not O(rows)). At 100 TB
the date partitioning bounds every retention delete and every
time-ranged scan to partition pruning; version overwrite touches one
version directory.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import FeedCatalog, FeedConfig, PartitioningType
from .observe import counted


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
        return self._update_metadata(
            config, sorted(obs.get["partitions"]), obs.get["records"]
        )

    # ---- tables: version-partitioned overwrite (#9, #41) ---------------
    #
    # Concurrent-writer safety (VERDICT r1 §What's missing #3): version
    # numbers are allocated through a tiny Delta-style commit log under
    # <feed>/_commit_log/ (underscore-prefixed, so Spark's file index
    # ignores it). A writer CLAIMS vN by atomically creating vN.claim
    # (open 'x' — O_EXCL); losers observe the claim and move to N+1, so
    # two concurrent export_table calls can never write the same
    # directory. After the parquet write succeeds the writer promotes the
    # claim to vN.commit via write-temp + os.rename (atomic), and readers
    # treat only committed versions as visible — a crashed or in-flight
    # write is never exposed as "latest". Tables written before the log
    # existed fall back to the directory listing.

    def _commit_log_dir(self, config: FeedConfig) -> str:
        return os.path.join(self.catalog.feed_data_path(config), "_commit_log")

    def _logged_versions(self, config: FeedConfig, suffix: str) -> set[int]:
        entries = glob.glob(os.path.join(self._commit_log_dir(config), f"v*.{suffix}"))
        out = set()
        for path in entries:
            stem = os.path.basename(path).removeprefix("v").removesuffix(f".{suffix}")
            if stem.isdigit():
                out.add(int(stem))
        return out

    def _dir_versions(self, config: FeedConfig) -> set[int]:
        path = self.catalog.feed_data_path(config)
        return {
            int(os.path.basename(d).replace("version=v", ""))
            for d in glob.glob(os.path.join(path, "version=v*"))
            if os.path.basename(d).replace("version=v", "").isdigit()
        }

    def committed_versions(self, config: FeedConfig) -> set[int]:
        """Versions safe to read: committed in the log (intersected with
        the directories that survived retention), plus pre-log legacy
        directories."""
        dirs = self._dir_versions(config)
        commits = self._logged_versions(config, "commit")
        claims = self._logged_versions(config, "claim")
        legacy = dirs - commits - claims  # written before the log existed
        return (commits & dirs) | legacy

    def next_version(self, config: FeedConfig) -> int:
        """max(claimed ∪ committed ∪ on-disk versions) + 1
        (export_to_data_lake.py:235-245). Advisory — export_table uses
        claim_version for the race-free allocation."""
        taken = (
            self._dir_versions(config)
            | self._logged_versions(config, "claim")
            | self._logged_versions(config, "commit")
        )
        return max(taken, default=0) + 1

    def claim_version(self, config: FeedConfig) -> int:
        """Atomically allocate the next version number: first writer to
        create vN.claim owns N; anyone losing the O_EXCL race probes
        upward."""
        log_dir = self._commit_log_dir(config)
        os.makedirs(log_dir, exist_ok=True)
        n = self.next_version(config)
        while True:
            try:
                with open(os.path.join(log_dir, f"v{n}.claim"), "x") as fh:
                    fh.write(datetime.now(timezone.utc).isoformat())
                return n
            except FileExistsError:
                n += 1

    def _commit_version(self, config: FeedConfig, n: int, records: int) -> None:
        log_dir = self._commit_log_dir(config)
        tmp = os.path.join(log_dir, f".v{n}.commit.tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": n,
                    "records": records,
                    "committed_at": datetime.now(timezone.utc).isoformat(),
                },
                fh,
            )
        os.rename(tmp, os.path.join(log_dir, f"v{n}.commit"))  # atomic publish

    def export_table(self, df: DataFrame, config: FeedConfig) -> dict:
        """Write a full snapshot under version=v<N> (claimed through the
        commit log), then purge versions beyond keep_versions (export
        post-export cleanup, export_to_data_lake.py:204-206)."""
        if not config.enabled:
            return {"skipped": "disabled"}
        if df.isEmpty():
            return {"skipped": "empty"}
        n = self.claim_version(config)
        path = os.path.join(self.catalog.feed_data_path(config), f"version=v{n}")
        out, obs = counted(df)
        out.write.mode("overwrite").parquet(path)
        meta = self._update_metadata(config, [f"version=v{n}"], obs.get["records"])
        self._commit_version(config, n, meta["records"])
        if config.keep_versions:
            from .retention import apply_version_retention

            apply_version_retention(
                self.catalog.feed_data_path(config), config.keep_versions
            )
        meta["version"] = n
        return meta

    # ---- readers --------------------------------------------------------

    def read_stream_feed(self, config: FeedConfig) -> DataFrame:
        """Batch view over all date partitions; year/month/day become
        partition columns usable for pruning."""
        return self.spark.read.parquet(self.catalog.feed_data_path(config))

    def read_table_feed(self, config: FeedConfig, version: int | None = None) -> DataFrame:
        base = self.catalog.feed_data_path(config)
        if version is None:
            live = self.committed_versions(config)
            if not live:
                raise LookupError(f"no committed version of {config.feed_name}")
            version = max(live)  # never an in-flight claim
        return self.spark.read.parquet(os.path.join(base, f"version=v{version}"))

    def read_table_as_of(self, config: FeedConfig, as_of_iso: str) -> DataFrame:
        """Time travel: latest snapshot exported at or before `as_of_iso`
        (ISO timestamp) — the Delta `VERSION AS OF`/`TIMESTAMP AS OF`
        equivalent over explicit version=vN partitions, resolved from the
        feed's export metadata (surviving retention pruning)."""
        path = self._metadata_path(config)
        if not os.path.exists(path):
            raise FileNotFoundError(f"no export metadata for {config.feed_name}")
        with open(path) as fh:
            meta = json.load(fh)
        candidates = [
            int(p["path"].replace("version=v", ""))
            for p in meta["partitions"]
            if p["path"].startswith("version=v") and p["exported_at"] <= as_of_iso
        ]
        candidates = [n for n in candidates if n in self.committed_versions(config)]
        if not candidates:
            raise LookupError(
                f"no live version of {config.feed_name} at or before {as_of_iso}"
            )
        return self.read_table_feed(config, version=max(candidates))

    # ---- metadata (#30, export_to_data_lake.py:277-328) -----------------

    def _metadata_path(self, config: FeedConfig) -> str:
        # NOT inside the data dir: Spark special-cases files named
        # _metadata* in a parquet directory as parquet sidecars.
        meta_dir = os.path.join(self.catalog.root, "feeds", "meta")
        os.makedirs(meta_dir, exist_ok=True)
        return os.path.join(meta_dir, f"{config.feed_name}_metadata.json")

    def _update_metadata(
        self, config: FeedConfig, partitions: list[str], records: int
    ) -> dict:
        """Read-modify-write of the feed's stats sidecar, serialized by an
        O_EXCL lock file so concurrent exporters (now legal, see commit
        log above) can't lose each other's partition entries. Locks older
        than 60 s are presumed crashed and stolen."""
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
        self, config: FeedConfig, partitions: list[str], records: int
    ) -> dict:
        """Refresh the entry of every partition the export touched from
        what is on disk now; returns the export's own records and the
        touched partitions' size."""
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
        for partition in partitions:
            rows, mb = _partition_stats(
                os.path.join(self.catalog.feed_data_path(config), partition)
            )
            entries.setdefault(partition, {"path": partition}).update(
                records=rows, size_mb=mb, exported_at=exported_at
            )
        meta["partitions"] = list(entries.values())
        meta["total_records"] = sum(p["records"] for p in meta["partitions"])
        meta["total_size_mb"] = round(sum(p["size_mb"] for p in meta["partitions"]), 6)
        meta["last_export"] = exported_at
        with open(path, "w") as fh:
            json.dump(meta, fh, indent=2)
        size_mb = round(sum(entries[p]["size_mb"] for p in partitions), 6)
        return {"partitions": partitions, "records": records, "size_mb": size_mb}
