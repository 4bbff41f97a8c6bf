"""Multi-table atomic transactions (lake/transaction.py): all-or-nothing
visibility, snapshot isolation / time travel, crash invisibility,
committer races, vacuum safety."""

from __future__ import annotations

import glob
import os

import pytest

from construction_data_lake_et_data_warehouse_tp3_spark.lake.transaction import (
    Lakehouse,
)


def _df(spark, rows, schema="id long, v string"):
    return spark.createDataFrame(rows, schema)


class TestAtomicity:
    def test_staged_writes_invisible_until_commit(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        txn = lh.begin()
        txn.write("dim", _df(spark, [(1, "a")]))
        txn.write("fact", _df(spark, [(10, "x")]))
        # nothing committed: neither table resolves
        with pytest.raises(KeyError):
            lh.read("dim")
        snap = txn.commit()
        # both appear together at the same snapshot
        assert lh.read("dim", snap).count() == 1
        assert lh.read("fact", snap).count() == 1

    def test_crashed_transaction_never_visible(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        good = lh.begin()
        good.write("dim", _df(spark, [(1, "a")]))
        good.commit()
        crashed = lh.begin()  # stages, then "crashes" before commit()
        crashed.write("dim", _df(spark, [(666, "ghost")]))
        crashed.write("fact", _df(spark, [(666, "ghost")]))
        assert [r.id for r in lh.read("dim").collect()] == [1]
        with pytest.raises(KeyError):
            lh.read("fact")  # only the crashed txn ever wrote fact

    def test_empty_commit_rejected(self, spark, tmp_path):
        with pytest.raises(RuntimeError, match="nothing staged"):
            Lakehouse(spark, str(tmp_path / "lh")).begin().commit()


class TestSnapshots:
    def test_time_travel_and_latest_write_wins(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        t1 = lh.begin()
        t1.write("dim", _df(spark, [(1, "old")]))
        t1.write("fact", _df(spark, [(10, "f0")]))
        s1 = t1.commit()
        t2 = lh.begin()  # updates dim only; fact resolves through s1
        t2.write("dim", _df(spark, [(1, "new")]))
        s2 = t2.commit()
        assert s2 == s1 + 1
        assert lh.read("dim", s1).collect()[0].v == "old"
        assert lh.read("dim", s2).collect()[0].v == "new"
        assert lh.read("dim").collect()[0].v == "new"
        # cross-manifest resolution: fact at s2 is the s1 state
        assert lh.read("fact", s2).collect()[0].v == "f0"
        assert set(lh.tables(s2)) == {"dim", "fact"}

    def test_resolved_paths_have_plain_leaf_names(self, spark, tmp_path):
        """Readers are handed `…/_txn_<id>_<seq>/data`: Spark takes a path
        whose own name starts with `_` or `.` for hidden and warns."""
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        for rows in ([(1, "a")], [(2, "b")]):
            txn = lh.begin()
            txn.write("dim", _df(spark, rows))
            txn.write("fact", _df(spark, rows))
            txn.commit()
        paths = lh.tables()
        assert set(paths) == {"dim", "fact"}
        for path in paths.values():
            assert not os.path.basename(path).startswith(("_", "."))
            assert os.path.basename(os.path.dirname(path)).startswith("_txn_")

    def test_concurrent_commits_take_distinct_snapshots(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        a, b = lh.begin(), lh.begin()
        a.write("t", _df(spark, [(1, "a")]))
        b.write("t", _df(spark, [(2, "b")]))
        sa, sb = a.commit(), b.commit()
        assert sa != sb
        # latest wins; the earlier snapshot stays readable
        assert lh.read("t").collect()[0].v == ("b" if sb > sa else "a")
        assert lh.read("t", min(sa, sb)).count() == 1


class TestAtomicWarehouseSync:
    def test_atomic_sync_matches_plain_sync(self, spark, tmp_path, plain_warehouse):
        """sync_warehouse_atomic runs the identical MERGE logic through
        TxnTable staging: same rows per table as the plain path, all five
        tables published in ONE snapshot, and a re-sync lands a second
        snapshot while the first stays readable (time travel)."""
        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.star import (
            WAREHOUSE_TABLES,
            Warehouse,
            sync_warehouse_atomic,
        )

        sf = "/root/testdata/sf0.001"
        plain_root, plain_counts = plain_warehouse
        atomic_counts, snap = sync_warehouse_atomic(spark, sf, str(tmp_path / "lh"))
        assert atomic_counts == plain_counts

        lh = Lakehouse(spark, str(tmp_path / "lh"))
        assert set(lh.tables(snap)) == set(WAREHOUSE_TABLES)
        plain = Warehouse(spark, plain_root)

        def rows(df):
            cols = sorted(c for c in df.columns if c != "updated_at")
            return sorted(
                tuple(r[c] for c in cols) for r in df.select(*cols).collect()
            )

        for name in WAREHOUSE_TABLES:
            assert rows(lh.read(name, snap)) == rows(plain.read(name)), name

        # second sync version: new snapshot, first still readable intact
        dim_v1 = lh.read("dim_users", snap).count()
        _, snap2 = sync_warehouse_atomic(
            spark, sf, str(tmp_path / "lh"), snapshot_version=2
        )
        assert snap2 > snap
        assert lh.read("dim_users", snap).count() == dim_v1
        assert (
            lh.read("fact_user_transaction_summary", snap2).count()
            == 2 * lh.read("fact_user_transaction_summary", snap).count()
        )


class TestVacuum:
    def test_vacuum_reclaims_crashed_and_old_keeps_resolvable(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        t1 = lh.begin()
        t1.write("fact", _df(spark, [(10, "f0")]))  # only writer of fact
        t1.commit()
        for v in ("v1", "v2", "v3"):
            t = lh.begin()
            t.write("dim", _df(spark, [(1, v)]))
            t.commit()
        crashed = lh.begin()
        crashed.write("dim", _df(spark, [(9, "ghost")]))

        # min_txn_age_seconds=0 simulates the crash-retention window having
        # passed — at the default threshold this staging would be protected
        removed = lh.vacuum(keep_snapshots=2, min_txn_age_seconds=0.0)
        # crashed staging + the v1 dim state are gone
        assert any("_txn_" + crashed.txn_id in p for p in removed)
        staged_left = glob.glob(os.path.join(str(tmp_path / "lh"), "tables", "*", "_txn_*"))
        assert len(staged_left) == 3  # fact(f0) + dim(v2) + dim(v3)
        # retained snapshots still fully resolve — INCLUDING fact, whose
        # manifest predates the retention window
        assert lh.read("dim").collect()[0].v == "v3"
        assert lh.read("fact").collect()[0].v == "f0"
        latest = lh.latest_snapshot()
        assert lh.read("dim", latest - 1).collect()[0].v == "v2"

    def test_vacuum_keeps_live_snapshots_of_both_layouts(self, spark, tmp_path):
        """A manifest written before staging gained its `data` leaf still
        resolves, and vacuum compares live state by `_txn_` directory, so
        it deletes neither that directory nor a live `…/data`."""
        import json

        root = str(tmp_path / "lh")
        legacy = os.path.join("tables", "fact", "_txn_0123456789ab_1")
        _df(spark, [(10, "f0")]).write.parquet(os.path.join(root, legacy))
        os.makedirs(os.path.join(root, "_txn_log"))
        with open(os.path.join(root, "_txn_log", "1.json"), "w") as fh:
            json.dump({"snapshot": 1, "txn_id": "0123456789ab",
                       "tables": {"fact": legacy}, "records": {"fact": 1}}, fh)
        lh = Lakehouse(spark, root)
        for v in ("v1", "v2"):
            t = lh.begin()
            t.write("dim", _df(spark, [(1, v)]))
            t.commit()
        removed = lh.vacuum(keep_snapshots=1, min_txn_age_seconds=0.0)
        # only dim's superseded v1 goes
        assert [os.path.basename(os.path.dirname(p)) for p in removed] == ["dim"]
        assert lh.read("fact").collect()[0].v == "f0"
        assert lh.read("dim").collect()[0].v == "v2"
        staged_left = glob.glob(os.path.join(root, "tables", "*", "_txn_*"))
        assert sorted(staged_left) == sorted(
            os.path.dirname(p) if p.endswith("data") else p
            for p in lh.tables().values()
        )

    def test_vacuum_protects_in_flight_txn(self, spark, tmp_path):
        """A concurrent vacuum must NOT delete the staging of a live
        (begun, not yet committed) transaction — its later commit() would
        publish a manifest pointing at deleted data."""
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        t0 = lh.begin()
        t0.write("dim", _df(spark, [(1, "v1")]))
        t0.commit()
        inflight = lh.begin()
        inflight.write("dim", _df(spark, [(2, "v2")]))

        removed = lh.vacuum(keep_snapshots=2)  # default retention window
        assert not any("_txn_" + inflight.txn_id in p for p in removed)
        snap = inflight.commit()  # still publishable after the vacuum
        assert lh.read("dim", snap).collect()[0].v == "v2"

    def test_abort_releases_marker_and_staging(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        t0 = lh.begin()
        t0.write("dim", _df(spark, [(1, "v1")]))
        t0.commit()
        doomed = lh.begin()
        doomed.write("dim", _df(spark, [(9, "ghost")]))
        doomed.abort()
        staged_left = glob.glob(
            os.path.join(str(tmp_path / "lh"), "tables", "*", "_txn_*")
        )
        assert all("_txn_" + doomed.txn_id not in p for p in staged_left)
        assert lh.read("dim").collect()[0].v == "v1"

    def test_vacuum_reclaims_old_orphan_claims_only(self, spark, tmp_path):
        """A commit that died between its claim and its manifest rename
        leaves `<n>.claim` and `.<n>.json.tmp`. Once both are older than
        the crash window vacuum removes them; a young claim may be a live
        commit and stays."""
        import time

        lh = Lakehouse(spark, str(tmp_path / "lh"))
        t0 = lh.begin()
        t0.write("dim", _df(spark, [(1, "v1")]))
        t0.commit()
        log = os.path.join(str(tmp_path / "lh"), "_txn_log")
        old = [os.path.join(log, "2.claim"), os.path.join(log, ".2.json.tmp")]
        young = os.path.join(log, "3.claim")
        for path in (*old, young):
            with open(path, "w") as fh:
                fh.write("crashed")
        two_days_ago = time.time() - 2 * 86400
        for path in old:
            os.utime(path, (two_days_ago, two_days_ago))

        lh.vacuum(keep_snapshots=1)
        assert not any(os.path.exists(p) for p in old)
        assert os.path.exists(young)
        t1 = lh.begin()
        t1.write("dim", _df(spark, [(2, "v2")]))
        assert t1.commit() == 4  # past the young claim
        assert lh.read("dim").collect()[0].v == "v2"
        assert lh.read("dim", 1).collect()[0].v == "v1"


class TestChangeDataFeed:
    """Lakehouse.diff: snapshot-to-snapshot CDC (insert/update/delete,
    unchanged dropped, metadata-only fast path when nothing rewrote the
    table)."""

    def _two_snapshots(self, spark, tmp_path):
        lh = Lakehouse(spark, str(tmp_path / "lh"))
        t1 = lh.begin()
        t1.write("users", _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        s1 = t1.commit()
        t2 = lh.begin()
        t2.write("users", _df(spark, [(2, "b"), (3, "X"), (4, "d")]))
        s2 = t2.commit()
        return lh, s1, s2

    def test_insert_update_delete_detected(self, spark, tmp_path):
        lh, s1, s2 = self._two_snapshots(spark, tmp_path)
        rows = {r["id"]: r for r in lh.diff("users", s1, s2, ["id"]).collect()}
        assert set(rows) == {1, 3, 4}  # id=2 unchanged → dropped
        assert rows[1]["_change_type"] == "delete"
        assert rows[1]["_before"]["v"] == "a" and rows[1]["_after"] is None
        assert rows[3]["_change_type"] == "update"
        assert (rows[3]["_before"]["v"], rows[3]["_after"]["v"]) == ("c", "X")
        assert rows[4]["_change_type"] == "insert"
        assert rows[4]["_before"] is None and rows[4]["_after"]["v"] == "d"

    def test_untouched_table_diff_is_metadata_only(self, spark, tmp_path):
        lh, s1, s2 = self._two_snapshots(spark, tmp_path)
        t3 = lh.begin()
        t3.write("other", _df(spark, [(9, "z")]))
        s3 = t3.commit()
        d = lh.diff("users", s2, s3, ["id"])
        # same staged dir at both snapshots → empty, and the plan must be
        # a scanless local limit (no join was built)
        assert d.count() == 0
        assert "Join" not in d._jdf.queryExecution().executedPlan().toString()

    def test_table_born_between_snapshots_is_all_inserts(self, spark, tmp_path):
        lh, s1, s2 = self._two_snapshots(spark, tmp_path)
        t3 = lh.begin()
        t3.write("other", _df(spark, [(9, "z")]))
        s3 = t3.commit()
        d = lh.diff("other", s1, s3, ["id"]).collect()
        assert [(r["id"], r["_change_type"]) for r in d] == [(9, "insert")]
        assert d[0]["_before"] is None and d[0]["_after"]["v"] == "z"
