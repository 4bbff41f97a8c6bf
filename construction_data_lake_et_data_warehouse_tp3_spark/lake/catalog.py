"""Feed catalog — the engine's DDL surface (SURVEY §2.11 #70-76).

The reference keeps one JSON file per feed under feeds/active|archived
(/root/reference/manage_feeds.py:107-126) with enum-validated fields
(:77-98). The rebuild keeps the same catalog semantics (add / list /
update / enable / disable / archive / restore / delete / sync-from-config)
with explicit dataclass validation, fixing the reference's silent
schema-drift defect by carrying an explicit per-feed schema slot
(SURVEY §1.3).

Catalog entries are metadata only; DROP removes the entry and keeps data
files, matching manage_feeds.py:242-263.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone
from enum import Enum


class FeedType(str, Enum):
    STREAM = "stream"  # data_lake_config.py:17-21
    TABLE = "table"


class StorageMode(str, Enum):
    APPEND = "append"  # data_lake_config.py:10-14
    OVERWRITE = "overwrite"
    IGNORE = "ignore"


class PartitioningType(str, Enum):
    DATE = "date"  # year=/month=/day= (data_lake_config.py:141-143)
    VERSION = "version"  # version=vN    (data_lake_config.py:146-148)


def _utcnow() -> str:
    return datetime.now(timezone.utc).isoformat()


def write_json(path: str, data: dict) -> None:
    """Replace the JSON file at `path` atomically: write a temp file in the
    same directory, then os.replace it over the old one. A crash mid-dump
    leaves the previous file whole (and a stray dot-named temp file)."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            json.dump(data, fh, indent=2)
        os.replace(tmp, path)
    except BaseException:
        os.remove(tmp)
        raise


@dataclass
class FeedConfig:
    """One catalog entry (manage_feeds.py:107-122 field set)."""

    feed_name: str
    feed_type: FeedType
    source: str
    description: str = ""
    partitioning: PartitioningType = PartitioningType.DATE
    storage_mode: StorageMode = StorageMode.APPEND
    format: str = "parquet"
    retention_days: int | None = 365  # data_lake_config.py:52
    keep_versions: int | None = 7  # data_lake_config.py:88
    enabled: bool = True
    schema_ddl: str | None = None  # explicit schema (fixes sync_to_mysql.py:112)
    created_at: str = field(default_factory=_utcnow)
    updated_at: str = field(default_factory=_utcnow)
    archived_at: str | None = None
    restored_at: str | None = None

    def __post_init__(self) -> None:
        self.feed_type = FeedType(self.feed_type)
        self.storage_mode = StorageMode(self.storage_mode)
        self.partitioning = PartitioningType(self.partitioning)

    def partition_columns(self) -> tuple[str, ...]:
        if self.partitioning is PartitioningType.DATE:
            return ("year", "month", "day")
        return ("version",)


class FeedCatalog:
    """JSON-per-feed catalog under <root>/feeds/{active,archived}
    (manage_feeds.py layout), with lake zones streams/ tables/ logs/."""

    ZONES = ("streams", "tables", "feeds/active", "feeds/archived", "logs")

    def __init__(self, root: str):
        self.root = root
        self.ensure_directories()

    # #70 ensure_directories (data_lake_config.py:151-172)
    def ensure_directories(self) -> None:
        for zone in self.ZONES:
            os.makedirs(os.path.join(self.root, zone), exist_ok=True)

    def _path(self, name: str, archived: bool = False) -> str:
        zone = "feeds/archived" if archived else "feeds/active"
        return os.path.join(self.root, zone, f"{name}.json")

    def feed_data_path(self, config: FeedConfig) -> str:
        zone = "streams" if config.feed_type is FeedType.STREAM else "tables"
        return os.path.join(self.root, zone, config.feed_name)

    def _write(self, config: FeedConfig, archived: bool = False) -> None:
        data = asdict(config)
        for key, value in data.items():
            if isinstance(value, Enum):
                data[key] = value.value
        write_json(self._path(config.feed_name, archived), data)

    def _read(self, name: str, archived: bool = False) -> FeedConfig:
        path = self._path(name, archived)
        if not os.path.exists(path):
            raise KeyError(f"feed {name!r} not found ({'archived' if archived else 'active'})")
        with open(path) as fh:
            return FeedConfig(**json.load(fh))

    # #71 add (manage_feeds.py:65-139)
    def add(self, config: FeedConfig) -> FeedConfig:
        if os.path.exists(self._path(config.feed_name)) or os.path.exists(
            self._path(config.feed_name, archived=True)
        ):
            raise ValueError(f"feed {config.feed_name!r} already exists")
        self._write(config)
        os.makedirs(self.feed_data_path(config), exist_ok=True)
        return config

    # #72 list (manage_feeds.py:27-63) — sorted, like sorted(active_feeds)
    def list(self, archived: bool = False) -> list[FeedConfig]:
        zone = "feeds/archived" if archived else "feeds/active"
        names = sorted(
            f[:-5]
            for f in os.listdir(os.path.join(self.root, zone))
            if f.endswith(".json")
        )
        return [self._read(n, archived) for n in names]

    def get(self, name: str) -> FeedConfig:
        return self._read(name)

    # #73 update / enable / disable (manage_feeds.py:149-188)
    def update(self, name: str, **changes) -> FeedConfig:
        config = self._read(name)
        for key, value in changes.items():
            if not hasattr(config, key):
                raise ValueError(f"unknown feed field {key!r}")
            setattr(config, key, value)
        config.__post_init__()  # re-validate enums
        config.updated_at = _utcnow()
        self._write(config)
        return config

    def enable(self, name: str) -> FeedConfig:
        return self.update(name, enabled=True)

    def disable(self, name: str) -> FeedConfig:
        return self.update(name, enabled=False)

    # #74 archive / restore (manage_feeds.py:190-240)
    def archive(self, name: str) -> FeedConfig:
        config = self._read(name)
        config.enabled = False
        config.archived_at = _utcnow()
        config.updated_at = _utcnow()
        self._write(config, archived=True)
        os.remove(self._path(name))
        return config

    def restore(self, name: str) -> FeedConfig:
        config = self._read(name, archived=True)
        config.enabled = True
        config.restored_at = _utcnow()
        config.archived_at = None
        config.updated_at = _utcnow()
        self._write(config)
        os.remove(self._path(name, archived=True))
        return config

    # #75 delete — config only, data retained (manage_feeds.py:242-263)
    def delete(self, name: str, confirm: bool = False) -> None:
        if not confirm:
            raise ValueError("refusing to delete without confirm=True")
        os.remove(self._path(name))

    # #76 sync-from-config (manage_feeds.py:265-305)
    def sync_from_config(self, configs: list[FeedConfig]) -> list[str]:
        created = []
        for config in configs:
            try:
                self.add(config)
                created.append(config.feed_name)
            except ValueError:
                continue  # idempotent CREATE IF NOT EXISTS
        return created
