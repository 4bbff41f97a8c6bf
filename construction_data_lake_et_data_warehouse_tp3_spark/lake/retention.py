"""Retention jobs (SURVEY §2.11 #77-78, §4 'custom work' items).

- stream retention: delete day-partitions older than now - retention_days
  (data_retention.py:29-51) — a pure partition-pruning delete: only
  directory names are inspected, no data files are read.
- version retention: keep the newest K committed versions of a
  versioned feed (data_retention.py:54-78; count-based, unlike Delta's
  age-based VACUUM — SURVEY §4 notes this needs custom code) by expiring
  older snapshots from the feed's transaction log.

Both support dry_run (data_retention.py:41-42,73-75).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from datetime import date, datetime, timedelta, timezone

from .maintenance import _file_sink_root
from .transaction import Lakehouse, _txn_dir

_DATE_PART = re.compile(r"year=(\d+)/month=(\d+)/day=(\d+)$")


def list_day_partitions(feed_path: str) -> list[tuple[date, str]]:
    """(partition_date, path) for every year=/month=/day= leaf dir —
    parsed from names only (data_retention.py:13-26)."""
    out = []
    for path in glob.glob(os.path.join(feed_path, "year=*", "month=*", "day=*")):
        match = _DATE_PART.search(path.replace(os.sep, "/"))
        if match:
            y, m, d = (int(g) for g in match.groups())
            try:
                out.append((date(y, m, d), path))
            except ValueError:
                continue
    return sorted(out)


def apply_stream_retention(
    feed_path: str,
    retention_days: int,
    dry_run: bool = False,
    now: datetime | None = None,
) -> list[str]:
    """Delete day-partitions older than the cutoff; returns deleted (or
    would-delete) partition paths. Prunes empty parent dirs like
    data_retention.py:44-51. Raises ValueError, touching nothing, for a
    feed under a Spark file sink: its `_spark_metadata` log would still
    list the deleted files and every later read of the feed would fail."""
    sink = _file_sink_root(feed_path)
    if sink is not None:
        raise ValueError(
            f"{feed_path} belongs to the Spark file sink at {sink}: its "
            "_spark_metadata log would still list the deleted partitions"
        )
    # UTC, matching DataLakeWriter.export_stream's partitioning clock — a
    # naive local-time cutoff can delete/retain a day-partition off by one
    # near midnight on a non-UTC host (ADVICE r1)
    cutoff = ((now or datetime.now(timezone.utc)) - timedelta(days=retention_days)).date()
    victims = [path for when, path in list_day_partitions(feed_path) if when < cutoff]
    if not dry_run:
        for path in victims:
            shutil.rmtree(path)
        for month_dir in glob.glob(os.path.join(feed_path, "year=*", "month=*")):
            if not os.listdir(month_dir):
                os.rmdir(month_dir)
        for year_dir in glob.glob(os.path.join(feed_path, "year=*")):
            if not os.listdir(year_dir):
                os.rmdir(year_dir)
    return victims


def apply_version_retention(
    feed_path: str, keep_versions: int, dry_run: bool = False
) -> list[str]:
    """Keep the newest `keep_versions` committed versions of the versioned
    feed at `feed_path` and delete the rest (data_retention.py:60-69; CLI
    default 5 vs config default 7 is the caller's choice — SURVEY §7
    risk 6); returns the staged directories deleted. Only committed,
    superseded snapshots expire: an export still in flight is not a
    version yet, and `Lakehouse.vacuum` protects its staging. A dry run
    reads only the log and lists the directories of the snapshots that
    would be dropped."""
    if not keep_versions:
        return []
    lake = Lakehouse(None, feed_path)  # vacuum and the log need no session
    if not dry_run:
        return lake.vacuum(keep_snapshots=keep_versions)
    return [
        _txn_dir(feed_path, rel)
        for n in lake._committed_snapshots()[:-keep_versions]
        for rel in lake._manifest(n)["tables"].values()
    ]
