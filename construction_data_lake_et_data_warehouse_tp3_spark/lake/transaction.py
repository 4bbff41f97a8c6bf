"""Atomic transactions over the parquet lake — the commit protocol for
every table the engine rewrites whole: a sync that lands dim_users AND
its fact tables must expose either ALL of the new state or NONE of it,
which per-table version commits cannot guarantee (the reference's MySQL
warehouse gets this from InnoDB transactions, sync_to_mysql.py:117-142;
the lake needs its own). The same log also commits single-table writes:
each warehouse `ParquetTable` (warehouse/merge.py) — and so every
warehouse MERGE and every streaming state store built on one — and each
versioned feed (lake/writer.py, whose version is the snapshot number)
is the one table of its own Lakehouse. It is the engine's one commit
protocol; the raw zone's Spark file-sink `_spark_metadata` is the only
other log.

Design (Delta/Iceberg-shaped, filesystem-atomic primitives only):

- every table write stages into `tables/<name>/_txn_<id>_<seq>/data/`:
  the underscore keeps staging out of any listing of `tables/<name>/`,
  and the plain leaf name is what readers are handed, so Spark does not
  take the path itself for a hidden one;
- `commit()` publishes ONE manifest `_txn_log/<n>.json` via write-temp +
  os.rename (atomic) after claiming slot n with an O_EXCL `.claim` —
  two committers can never take the same snapshot number;
- a reader resolves a SNAPSHOT: the latest committed manifest ≤ the
  requested version gives, per table, the staged directory that snapshot
  sees. All tables in one manifest become visible in the same instant —
  half-landed transactions (crash after staging, before manifest rename)
  are invisible garbage, reclaimable by `vacuum()`.

Scale notes: manifests are O(#tables) JSON — commit cost is independent
of data volume; staged writes are plain parquet writes at full cluster
parallelism; time travel is manifest selection, no data copies. On a
shared filesystem/object store, swap os.rename for the store's atomic
put-if-absent; call sites are unchanged.
"""

from __future__ import annotations

import glob
import json
import os
import pathlib
import shutil
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import read_parquet
from .observe import counted


def _txn_dir(root: str, rel: str) -> str:
    """The `tables/<name>/_txn_*` directory holding a staged write: the
    parent of its `data` leaf, or the staged path itself in manifests
    written before the leaf existed."""
    return os.path.normpath(os.path.join(root, *pathlib.PurePath(rel).parts[:3]))


class TxnConflictError(RuntimeError):
    """Raised when commit() loses the snapshot-slot race more than
    max_retries times (heavy committer contention)."""


class LakeTransaction:
    """One multi-table write transaction; use via Lakehouse.begin()."""

    def __init__(self, lakehouse: "Lakehouse"):
        self.lakehouse = lakehouse
        self.txn_id = uuid.uuid4().hex[:12]
        self.staged: dict[str, str] = {}
        self.records: dict[str, int] = {}
        self.committed: int | None = None
        self._seq = 0

    def write(self, table: str, df: DataFrame) -> int:
        """Stage df as this transaction's state for `table` (full
        snapshot semantics, like a version-partitioned overwrite);
        returns the rows written, counted by the write job itself.
        Re-staging the same table lands in a FRESH dir — df may derive
        from this transaction's previous staged state (iterated MERGEs),
        and Spark cannot read and overwrite one path in a single job;
        the superseded dir becomes vacuum()-able garbage."""
        if self.committed is not None:
            raise RuntimeError("transaction already committed")
        self._seq += 1
        rel = os.path.join("tables", table, f"_txn_{self.txn_id}_{self._seq}", "data")
        out, obs = counted(df)
        out.write.mode("overwrite").parquet(os.path.join(self.lakehouse.root, rel))
        self.staged[table] = rel
        self.records[table] = obs.get["records"]
        return self.records[table]

    def read_staged(self, table: str) -> DataFrame:
        """This transaction's current view of `table`: its own staged
        state if it wrote one, else the committed snapshot."""
        if table in self.staged:
            return read_parquet(
                self.lakehouse.spark,
                os.path.join(self.lakehouse.root, self.staged[table]),
            )
        return self.lakehouse.read(table)

    def commit(self, max_retries: int = 100) -> int:
        """Publish every staged table in ONE atomic manifest; returns the
        snapshot number. Nothing staged → error (empty commits hide bugs)."""
        if not self.staged:
            raise RuntimeError("nothing staged")
        if self.committed is not None:
            return self.committed
        log_dir = self.lakehouse._log_dir
        os.makedirs(log_dir, exist_ok=True)
        for _ in range(max_retries):
            n = self.lakehouse.latest_snapshot(include_claims=True) + 1
            claim = os.path.join(log_dir, f"{n}.claim")
            try:
                with open(claim, "x") as fh:
                    fh.write(self.txn_id)
            except FileExistsError:
                continue  # lost the slot race — probe the next number
            manifest = {
                "snapshot": n,
                "txn_id": self.txn_id,
                "committed_at": datetime.now(timezone.utc).isoformat(),
                "tables": self.staged,
                "records": self.records,
            }
            tmp = os.path.join(log_dir, f".{n}.json.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            os.rename(tmp, os.path.join(log_dir, f"{n}.json"))  # atomic publish
            self.committed = n
            self.lakehouse._clear_active(self.txn_id)
            return n
        raise TxnConflictError(f"no snapshot slot after {max_retries} attempts")

    def abort(self) -> None:
        """Explicitly drop this transaction: delete its staged dirs and
        release its active marker (vacuum() no longer has to wait out the
        crash-retention window for a transaction that KNOWS it is done)."""
        if self.committed is not None:
            raise RuntimeError("transaction already committed")
        for rel in self.staged.values():
            shutil.rmtree(_txn_dir(self.lakehouse.root, rel), ignore_errors=True)
        self.staged.clear()
        self.records.clear()
        self.lakehouse._clear_active(self.txn_id)


class TxnTable:
    """merge_into-compatible table view bound to a LakeTransaction
    (duck-types warehouse.merge.ParquetTable): reads see the
    transaction's own staged state first, then the committed snapshot;
    overwrites stage into the transaction — nothing publishes until
    commit(). This is what lets the EXISTING warehouse MERGE logic run
    unchanged inside a multi-table transaction."""

    def __init__(self, txn: LakeTransaction, name: str):
        self.txn = txn
        self.name = name

    def exists(self) -> bool:
        return (
            self.name in self.txn.staged
            or self.name in self.txn.lakehouse.tables()
        )

    def read(self) -> DataFrame:
        return self.txn.read_staged(self.name)

    def overwrite(self, df: DataFrame) -> int:
        return self.txn.write(self.name, df)


class Lakehouse:
    """Manifest-committed multi-table lake root with snapshot reads."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._log_dir = os.path.join(root, "_txn_log")
        self._active_dir = os.path.join(self._log_dir, "active")

    # ---- write side -----------------------------------------------------

    def begin(self) -> LakeTransaction:
        txn = LakeTransaction(self)
        # live-transaction marker: vacuum() must be able to tell an
        # in-flight transaction (whose commit() would otherwise publish a
        # manifest pointing at deleted data) from a crashed one — the
        # marker is the positive signal, the vacuum age threshold is the
        # crash fallback (Delta/Iceberg solve this with a retention window)
        os.makedirs(self._active_dir, exist_ok=True)
        with open(os.path.join(self._active_dir, txn.txn_id), "w") as fh:
            fh.write(datetime.now(timezone.utc).isoformat())
        return txn

    def _clear_active(self, txn_id: str) -> None:
        try:
            os.remove(os.path.join(self._active_dir, txn_id))
        except FileNotFoundError:
            pass

    # ---- manifest resolution --------------------------------------------

    def _committed_snapshots(self) -> list[int]:
        out = []
        for path in glob.glob(os.path.join(self._log_dir, "*.json")):
            stem = os.path.basename(path).removesuffix(".json")
            if stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def latest_snapshot(self, include_claims: bool = False) -> int:
        taken = set(self._committed_snapshots())
        if include_claims:
            for path in glob.glob(os.path.join(self._log_dir, "*.claim")):
                stem = os.path.basename(path).removesuffix(".claim")
                if stem.isdigit():
                    taken.add(int(stem))
        return max(taken, default=0)

    def _manifest(self, snapshot: int) -> dict:
        with open(os.path.join(self._log_dir, f"{snapshot}.json")) as fh:
            return json.load(fh)

    def _resolve(self, table: str, snapshot: int | None) -> str:
        """The staged dir `table` resolves to at `snapshot` (default
        latest): the newest manifest ≤ snapshot that wrote the table."""
        commits = self._committed_snapshots()
        if snapshot is not None:
            commits = [n for n in commits if n <= snapshot]
        for n in reversed(commits):
            manifest = self._manifest(n)
            if table in manifest["tables"]:
                return os.path.join(self.root, manifest["tables"][table])
        raise KeyError(
            f"table {table!r} has no committed state"
            + (f" at snapshot {snapshot}" if snapshot is not None else "")
        )

    # ---- read side ------------------------------------------------------

    def read(self, table: str, snapshot: int | None = None) -> DataFrame:
        return read_parquet(self.spark, self._resolve(table, snapshot))

    def tables(self, snapshot: int | None = None) -> dict[str, str]:
        """Every table visible at `snapshot` → its resolved directory."""
        commits = self._committed_snapshots()
        if snapshot is not None:
            commits = [n for n in commits if n <= snapshot]
        out: dict[str, str] = {}
        for n in commits:  # ascending: later manifests win
            for table, rel in self._manifest(n)["tables"].items():
                out[table] = os.path.join(self.root, rel)
        return out

    # ---- maintenance ----------------------------------------------------

    def vacuum(
        self, keep_snapshots: int = 2, min_txn_age_seconds: float = 86400.0
    ) -> list[str]:
        """Delete staged dirs no retained snapshot references (crashed
        transactions and states older than the last `keep_snapshots`);
        returns the removed paths. Readers of retained snapshots are
        unaffected — resolution only ever touches referenced dirs.

        An UNCOMMITTED transaction's staging is protected while its
        `_txn_log/active/<txn_id>` marker is younger than
        `min_txn_age_seconds` — without this, a concurrent vacuum would
        delete an in-flight transaction's data and its later commit()
        would publish a manifest pointing at nothing (silent loss on
        read). Markers older than the threshold are presumed crashed and
        reclaimed along with their staging; pass 0 only when no writer
        can be live (maintenance windows, tests). The same window applies
        to a `.claim` that never got its manifest: a commit that died
        between claim and rename leaves it and its temp manifest, and
        both are removed once older than the window."""
        # Scan active markers BEFORE resolving commits/live: a transaction
        # that commits mid-vacuum clears its marker, and if markers were
        # read last it would be neither live (manifest landed after the
        # commit scan) nor protected — its freshly published staging
        # would be deleted. Marker-first ordering closes that window; the
        # staged-dir age guard below covers transactions begun after this
        # scan.
        now = time.time()
        protected: set[str] = set()
        for marker in glob.glob(os.path.join(self._active_dir, "*")):
            try:
                young = (now - os.path.getmtime(marker)) < min_txn_age_seconds
            except OSError:
                continue  # marker raced away: its txn committed/aborted
            if young:
                protected.add(os.path.basename(marker))
            else:
                try:  # presumed crashed — staging reclaimed below
                    os.remove(marker)
                except FileNotFoundError:
                    pass  # cleared by a concurrent commit/abort/vacuum
        commits = self._committed_snapshots()
        # one read per manifest for the whole vacuum (the winner loop,
        # done_txns, and live-set resolution all need them)
        manifests = {n: self._manifest(n) for n in commits}
        retained = commits[-keep_snapshots:] if keep_snapshots else []
        needed: set[int] = set(retained)
        # a retained snapshot may resolve a table through an OLDER
        # manifest (latest-write-wins): keep every manifest it resolves
        # through, not just the retained window itself
        for n in retained:
            winner: dict[str, int] = {}
            for c in (c for c in commits if c <= n):
                for table in manifests[c]["tables"]:
                    winner[table] = c
            needed.update(winner.values())
        # staged dirs: only what the retained snapshots actually SEE lives
        live = set()
        for n in retained:
            resolved: dict[str, str] = {}
            for c in (c for c in commits if c <= n):  # ascending: later wins
                for table, rel in manifests[c]["tables"].items():
                    resolved[table] = rel
            live.update(_txn_dir(self.root, rel) for rel in resolved.values())
        # a txn_id appearing in any committed manifest is definitively
        # DONE — its unreferenced staging (superseded re-stages) is
        # reclaimable immediately, no age heuristic needed
        done_txns = {m.get("txn_id") for m in manifests.values()}
        removed = []
        for staged in glob.glob(os.path.join(self.root, "tables", "*", "_txn_*")):
            if os.path.normpath(staged) in live:  # never a live `…/data`
                continue
            # dir name is _txn_<id>_<seq>; <id> is fixed-width hex
            txn_id = os.path.basename(staged)[len("_txn_"):].rsplit("_", 1)[0]
            if txn_id in protected:
                continue
            if txn_id not in done_txns:
                try:  # txn begun AFTER the marker scan: staging is young
                    if (now - os.path.getmtime(staged)) < min_txn_age_seconds:
                        continue
                except OSError:
                    continue  # already being cleaned up elsewhere
            shutil.rmtree(staged, ignore_errors=True)
            removed.append(staged)
        for n in commits:
            if n in needed:
                continue
            for suffix in (".json", ".claim"):
                path = os.path.join(self._log_dir, f"{n}{suffix}")
                if os.path.exists(path):
                    os.remove(path)
        # a claim with no manifest is a commit that died before its rename
        # (or a removal torn between the two files above): once the claim
        # and its temp manifest are older than the crash window, both go
        for claim in glob.glob(os.path.join(self._log_dir, "*.claim")):
            stem = os.path.basename(claim).removesuffix(".claim")
            if not stem.isdigit() or os.path.exists(
                os.path.join(self._log_dir, f"{stem}.json")
            ):
                continue
            orphan = [claim, os.path.join(self._log_dir, f".{stem}.json.tmp")]
            try:
                ages = [now - os.path.getmtime(p) for p in orphan if os.path.exists(p)]
            except OSError:
                continue  # raced away: its commit finished or was reclaimed
            if min(ages, default=0.0) < min_txn_age_seconds:
                continue
            for path in orphan:
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass
        return removed

    # ---- change data feed ------------------------------------------------

    def diff(
        self,
        table: str,
        from_snapshot: int,
        to_snapshot: int,
        keys: list[str] | tuple[str, ...],
    ) -> DataFrame:
        """Change-data-feed between two snapshots (Delta CDF-shaped):
        one row per key whose state changed, with `_change_type` in
        {'insert', 'update', 'delete'} and the non-key columns packed as
        `_before` / `_after` structs (null on insert / delete
        respectively). Unchanged rows are dropped.

        If both snapshots resolve the table to the SAME staged directory
        (no transaction rewrote it in between), the answer is empty by
        manifest metadata alone — no scan, no join; commit cost stays
        independent of data volume. Otherwise: one full-outer equi-join
        on the key (two scans, one shuffle), null-safe struct equality
        for update detection — the downstream-sync primitive ("what
        changed since the snapshot I last exported?") the reference's
        full-table MySQL re-sync (sync_to_mysql.py:117) lacks."""
        def _resolve_or_none(snapshot: int) -> str | None:
            try:
                return os.path.normpath(self._resolve(table, snapshot))
            except KeyError:
                return None

        old_dir = _resolve_or_none(from_snapshot)
        new_dir = _resolve_or_none(to_snapshot)
        if new_dir is None and old_dir is None:
            raise KeyError(f"table {table!r} exists at neither snapshot")

        def _packed(path: str, alias: str) -> DataFrame:
            df = read_parquet(self.spark, path)
            value_cols = [c for c in df.columns if c not in keys]
            return df.select(*keys, F.struct(*value_cols).alias(alias))

        if old_dir == new_dir:  # metadata-only fast path: nothing changed
            empty = _packed(new_dir, "_after").limit(0)
            return empty.select(
                *keys,
                F.lit(None).cast("string").alias("_change_type"),
                F.col("_after").alias("_before"),
                "_after",
            )
        if old_dir is None:  # table born between the snapshots
            new = _packed(new_dir, "_after")
            return new.select(
                *keys,
                F.lit("insert").alias("_change_type"),
                F.lit(None).cast(new.schema["_after"].dataType).alias("_before"),
                "_after",
            )
        if new_dir is None:  # table dropped (no manifest covers it anymore)
            old = _packed(old_dir, "_before")
            return old.select(
                *keys,
                F.lit("delete").alias("_change_type"),
                "_before",
                F.lit(None).cast(old.schema["_before"].dataType).alias("_after"),
            )
        old = _packed(old_dir, "_before")
        new = _packed(new_dir, "_after")
        joined = old.join(new, list(keys), "full_outer")
        return (
            joined.withColumn(
                "_change_type",
                F.when(F.col("_before").isNull(), F.lit("insert"))
                .when(F.col("_after").isNull(), F.lit("delete"))
                .when(~F.col("_before").eqNullSafe(F.col("_after")), F.lit("update")),
            )
            .where(F.col("_change_type").isNotNull())
            .select(*keys, "_change_type", "_before", "_after")
        )
