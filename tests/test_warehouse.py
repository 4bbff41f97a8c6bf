"""Warehouse MERGE semantics (SURVEY §5 item 4): upsert key behavior,
idempotency (re-run same batch ⇒ same state — the ON-DUPLICATE semantics
of sync_to_mysql.py:137-142), full star sync, FK-miss reporting,
permissions grant/expiry."""

from __future__ import annotations

import glob
import os
from datetime import date, timedelta

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from construction_data_lake_et_data_warehouse_tp3_spark.lake import transaction
from construction_data_lake_et_data_warehouse_tp3_spark.lake.permissions import (
    PermissionError_,
    PermissionsManager,
    enforce,
)
from construction_data_lake_et_data_warehouse_tp3_spark.warehouse import (
    ParquetTable,
    merge_into,
    sync_warehouse,
)
from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.star import (
    Warehouse,
    check_fk_misses,
)

SF_DIR = "/root/testdata/sf0.001"


class TestMerge:
    def test_insert_then_update(self, spark, tmp_path):
        table = ParquetTable(spark, str(tmp_path / "t"))
        first = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        merge_into(table, first, ["id"])
        second = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
        merge_into(table, second, ["id"])
        rows = {r["id"]: r["v"] for r in table.read().collect()}
        assert rows == {1: "a", 2: "B", 3: "c"}
        assert "updated_at" in table.read().columns

    def test_idempotent_replay(self, spark, tmp_path):
        table = ParquetTable(spark, str(tmp_path / "t"))
        batch = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, amount double")
        merge_into(table, batch, ["id"])
        state1 = sorted((r["id"], r["amount"]) for r in table.read().collect())
        merge_into(table, batch, ["id"])  # replay same batch
        state2 = sorted((r["id"], r["amount"]) for r in table.read().collect())
        assert state1 == state2

    def test_dedupe_updates_last_wins(self, spark, tmp_path):
        table = ParquetTable(spark, str(tmp_path / "t"))
        batch = spark.createDataFrame(
            [(1, 10.0, 1), (1, 99.0, 2)], "id long, amount double, seq long"
        )
        merge_into(table, batch, ["id"], order_by="seq")
        assert table.read().collect()[0]["amount"] == 99.0

    def test_unstamped_merge_preserves_existing_stamps(self, spark, tmp_path):
        """stamp_updated_at=False against a previously-stamped target must
        carry the matched rows' existing updated_at forward, never null it
        (the reference's ON DUPLICATE KEY UPDATE refreshes or preserves,
        sync_to_mysql.py:137-142). New keys were never stamped → null."""
        table = ParquetTable(spark, str(tmp_path / "t"))
        first = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        merge_into(table, first, ["id"])  # stamps updated_at
        stamps = {r["id"]: r["updated_at"] for r in table.read().collect()}
        assert all(stamps.values())
        second = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
        merge_into(table, second, ["id"], stamp_updated_at=False)
        after = {r["id"]: (r["v"], r["updated_at"]) for r in table.read().collect()}
        assert after[2] == ("B", stamps[2])  # matched: value new, stamp kept
        assert after[1] == ("a", stamps[1])  # untouched
        assert after[3][1] is None  # brand-new key: never stamped

    def test_composite_keys(self, spark, tmp_path):
        table = ParquetTable(spark, str(tmp_path / "t"))
        b1 = spark.createDataFrame(
            [(1, "O", 5.0), (1, "F", 6.0)], "user_id long, tt string, amt double"
        )
        merge_into(table, b1, ["user_id", "tt"])
        b2 = spark.createDataFrame([(1, "O", 50.0)], "user_id long, tt string, amt double")
        merge_into(table, b2, ["user_id", "tt"])
        rows = {(r["user_id"], r["tt"]): r["amt"] for r in table.read().collect()}
        assert rows == {(1, "O"): 50.0, (1, "F"): 6.0}



OLD = [(1, "a"), (2, "b")]
NEW = [(2, "B"), (3, "c")]
LATER = [(4, "d")]


class Crash(Exception):
    """Stands in for the process dying at the patched step."""


def _crash(*args, **kwargs):
    raise Crash


def _overwrite(spark, table, rows):
    table.overwrite(spark.createDataFrame(rows, "id long, v string"))


def _rows(table):
    return sorted((r.id, r.v) for r in table.read().collect())


def _staged(table):
    return sorted(glob.glob(os.path.join(table.lakehouse.root, "tables", "*", "_txn_*")))


class TestCrashSafety:
    """A crash at any step of ParquetTable.overwrite leaves the table
    readable: the previous rows until the manifest rename, the new rows
    after it. Each step is stopped by patching it to raise. The commit
    path has no cleanup handler, so the files left behind are those a
    killed process leaves."""

    @pytest.mark.parametrize(
        "step, target, visible",
        [
            ("after the staged write", (transaction.LakeTransaction, "commit"), OLD),
            ("after the .claim", (transaction.os, "rename"), OLD),
            ("after the manifest rename", (transaction.Lakehouse, "vacuum"), NEW),
        ],
    )
    def test_stop_after_each_commit_step(
        self, spark, tmp_path, monkeypatch, step, target, visible
    ):
        table = ParquetTable(spark, str(tmp_path / "t"))
        _overwrite(spark, table, OLD)
        with monkeypatch.context() as patch:
            patch.setattr(*target, _crash)
            with pytest.raises(Crash):
                _overwrite(spark, table, NEW)
        assert _rows(table) == sorted(visible), step
        # a later commit and a vacuum past the crash window both succeed,
        # and the vacuum leaves only the committed state on disk
        _overwrite(spark, table, LATER)
        table.lakehouse.vacuum(min_txn_age_seconds=0)
        assert _rows(table) == LATER
        assert _staged(table) == [os.path.dirname(table.path)]

    def test_crash_at_every_rename_leaves_table_readable(
        self, spark, tmp_path, monkeypatch
    ):
        """Kill overwrite at its k-th os.rename, for every k it reaches.
        A rename swap (live directory out, new directory in) leaves the
        table missing at k=2."""
        real_rename = os.rename
        k, crashed = 0, True
        while crashed:
            k += 1
            table = ParquetTable(spark, str(tmp_path / f"t{k}"))
            _overwrite(spark, table, OLD)
            calls = 0

            def rename(src, dst):
                nonlocal calls
                calls += 1
                if calls == k:
                    raise Crash
                real_rename(src, dst)

            with monkeypatch.context() as patch:
                patch.setattr(os, "rename", rename)
                try:
                    _overwrite(spark, table, NEW)
                    crashed = False
                except Crash:
                    pass
            assert _rows(table) in (sorted(OLD), sorted(NEW)), f"crash at rename {k}"


class TestPathContract:
    """`path` names the committed directory: plain parquet that pyarrow
    reads without the log (pyarrow skips `_`-prefixed directories, so the
    Lakehouse root itself would read as empty)."""

    @pytest.mark.parametrize("standalone", [True, False])
    def test_pyarrow_reads_what_read_returns(self, spark, tmp_path, standalone):
        table = (
            ParquetTable(spark, str(tmp_path / "t"))
            if standalone
            else Warehouse(spark, str(tmp_path / "wh")).table("dim_payment_methods")
        )
        for batch in (OLD, NEW, LATER):
            merge_into(
                table,
                spark.createDataFrame(batch, "payment_method_id long, v string"),
                ["payment_method_id"],
            )
        arrow = pq.read_table(table.path, columns=["payment_method_id", "v"])
        got = sorted(zip(*(arrow.column(c).to_pylist() for c in arrow.column_names)))
        want = sorted(
            (r.payment_method_id, r.v) for r in table.read().collect()
        )
        assert got == want == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]


class TestStarSync:
    def test_full_sync_and_replay(self, spark, tmp_path, plain_warehouse):
        import shutil

        shared_root, counts = plain_warehouse
        root = str(tmp_path / "wh")
        shutil.copytree(shared_root, root)  # mutating test: copy, don't share
        assert counts["dim_users"] > 0
        assert counts["fact_user_transaction_summary"] > 0
        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.star import (
            Warehouse,
        )

        wh = Warehouse(spark, root)
        dim_n = wh.read("dim_users").count()
        fact_n = wh.read("fact_user_transaction_summary").count()
        # dim PK uniqueness
        assert wh.read("dim_users").select("user_id").distinct().count() == dim_n
        # replay same snapshot ⇒ unchanged row counts (idempotent MERGE)
        sync_warehouse(spark, SF_DIR, root, snapshot_version=1)
        assert wh.read("dim_users").count() == dim_n
        assert wh.read("fact_user_transaction_summary").count() == fact_n
        # new snapshot version ⇒ new fact rows, same dims
        sync_warehouse(spark, SF_DIR, root, snapshot_version=2)
        assert wh.read("fact_user_transaction_summary").count() == 2 * fact_n
        assert wh.read("dim_users").count() == dim_n

    def test_fk_miss_detection_all_at_once(self, spark):
        facts = spark.createDataFrame(
            [("card",), ("paypal",), ("crypto",), ("wire",)], "payment_method_name string"
        )
        dim = spark.createDataFrame(
            [("card", 1), ("paypal", 2)], "payment_method_name string, payment_method_id int"
        )
        misses = check_fk_misses(facts, dim, "payment_method_name")
        assert sorted(r[0] for r in misses.collect()) == ["crypto", "wire"]


class TestPermissions:
    def test_grant_check_revoke(self, spark, tmp_path):
        pm = PermissionsManager(spark, str(tmp_path / "perms"))
        pm.grant("a@x.com", "/lake/streams/tx", "read", granted_by="admin")
        assert pm.check("a@x.com", "/lake/streams/tx", "read")
        assert not pm.check("a@x.com", "/lake/streams/tx", "write")
        assert not pm.check("b@x.com", "/lake/streams/tx", "read")
        pm.revoke("a@x.com", "/lake/streams/tx", "read")
        assert not pm.check("a@x.com", "/lake/streams/tx", "read")

    def test_admin_parent_folder_and_expiry(self, spark, tmp_path):
        pm = PermissionsManager(spark, str(tmp_path / "perms"))
        pm.grant("root@x.com", "/lake", "admin", granted_by="boot")
        assert pm.check("root@x.com", "/lake/streams/tx", "write")
        pm.grant(
            "tmp@x.com",
            "/lake/tmp",
            "read",
            granted_by="admin",
            expires_at=date.today() - timedelta(days=1),
        )
        assert not pm.check("tmp@x.com", "/lake/tmp", "read")
        with pytest.raises(PermissionError_):
            enforce(pm, "tmp@x.com", "/lake/tmp", "read")

    def test_invalid_permission_type(self, spark, tmp_path):
        pm = PermissionsManager(spark, str(tmp_path / "perms"))
        with pytest.raises(ValueError, match="permission_type"):
            pm.grant("a@x.com", "/lake", "superuser", granted_by="x")

    def test_ordered_listing(self, spark, tmp_path):
        pm = PermissionsManager(spark, str(tmp_path / "perms"))
        pm.grant("b@x.com", "/b", "read", granted_by="x")
        pm.grant("a@x.com", "/a", "read", granted_by="x")
        emails = [r["user_email"] for r in pm.list().collect()]
        assert emails == ["a@x.com", "b@x.com"]
