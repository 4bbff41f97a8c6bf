"""CDC-driven incremental warehouse sync: applying the diff between two
lake snapshots must land the target in EXACTLY the state a from-scratch
full sync of the newer snapshot produces (the differential that justifies
replacing the reference's full re-sync)."""

from __future__ import annotations

import uuid

from construction_data_lake_et_data_warehouse_tp3_spark.lake.transaction import (
    Lakehouse,
)
from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.incremental import (
    apply_changes,
)
from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.merge import (
    ParquetTable,
    merge_into,
)

KEYS = ("id",)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, amount long")


def _rows(table):
    return sorted(
        tuple(r) for r in table.read().select("id", "v", "amount").collect()
    )


def _snapshots(spark, tmp_path):
    lh = Lakehouse(spark, str(tmp_path / "lh"))
    t1 = lh.begin()
    t1.write("facts", _df(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)]))
    s1 = t1.commit()
    t2 = lh.begin()
    t2.write("facts", _df(spark, [(2, "b", 20), (3, "c2", 31), (4, "d", 40)]))
    s2 = t2.commit()
    return lh, s1, s2


class TestIncrementalSync:
    def test_incremental_equals_full_resync(self, spark, tmp_path):
        lh, s1, s2 = _snapshots(spark, tmp_path)
        # target synced at s1
        target = ParquetTable(spark, str(tmp_path / "wh"))
        merge_into(target, lh.read("facts", s1), KEYS)
        # incremental apply of the s1→s2 interval
        out = apply_changes(lh, "facts", target, KEYS, s1, s2)
        assert out == {"upserted": 2, "deleted": 1}  # upd(3) + ins(4); del(1)
        # from-scratch full sync of s2
        fresh = ParquetTable(spark, str(tmp_path / "wh_full"))
        merge_into(fresh, lh.read("facts", s2), KEYS)
        assert _rows(target) == _rows(fresh)

    def test_reapply_is_idempotent(self, spark, tmp_path):
        lh, s1, s2 = _snapshots(spark, tmp_path)
        target = ParquetTable(spark, str(tmp_path / "wh"))
        merge_into(target, lh.read("facts", s1), KEYS)
        apply_changes(lh, "facts", target, KEYS, s1, s2)
        before = _rows(target)
        out = apply_changes(lh, "facts", target, KEYS, s1, s2)  # replay
        assert out["deleted"] == 0  # key 1 already gone
        assert _rows(target) == before

    def test_untouched_interval_is_noop(self, spark, tmp_path):
        lh, s1, s2 = _snapshots(spark, tmp_path)
        t3 = lh.begin()
        t3.write("other", _df(spark, [(9, "z", 0)]))
        s3 = t3.commit()
        target = ParquetTable(spark, str(tmp_path / "wh"))
        merge_into(target, lh.read("facts", s2), KEYS)
        before = _rows(target)
        assert apply_changes(lh, "facts", target, KEYS, s2, s3) == {
            "upserted": 0,
            "deleted": 0,
        }
        assert _rows(target) == before

    def test_merge_deletes_missing_table_and_absent_keys(self, spark, tmp_path):
        absent = ParquetTable(spark, str(tmp_path / "nope"))
        some = _df(spark, [(1, "a", 1)])
        none = some.limit(0)
        assert merge_into(absent, none, KEYS, deletes=some)["deleted"] == 0
        target = ParquetTable(spark, str(tmp_path / "wh"))
        merge_into(target, _df(spark, [(5, "e", 5)]), KEYS)
        out = merge_into(target, none, KEYS, deletes=some)  # key 1 not present
        assert out == {"upserted": 0, "deleted": 0}
        assert _rows(target) == [(5, "e", 5)]

    def test_apply_changes_commits_the_target_once(self, spark, tmp_path):
        """Upserts and deletes of one interval land in ONE snapshot: one
        `_txn_log` manifest, where an upsert pass followed by a delete
        pass commits two."""
        lh, s1, s2 = _snapshots(spark, tmp_path)
        target = ParquetTable(spark, str(tmp_path / "wh"))
        merge_into(target, lh.read("facts", s1), KEYS)
        before = target.lakehouse.latest_snapshot()
        out = apply_changes(lh, "facts", target, KEYS, s1, s2)
        assert out == {"upserted": 2, "deleted": 1}
        assert target.lakehouse.latest_snapshot() == before + 1

    def test_apply_changes_runs_no_count_job(self, spark, tmp_path):
        """apply_changes' Spark jobs are the emptiness guard and the write,
        with the schema reads and the query stages and broadcasts those
        two plan (named after the thread that runs them): the counts ride
        the write job, so no job is a count()."""
        lh, s1, s2 = _snapshots(spark, tmp_path)
        target = ParquetTable(spark, str(tmp_path / "wh"))
        merge_into(target, lh.read("facts", s1), KEYS)
        sc = spark.sparkContext
        group = f"test-apply-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            apply_changes(lh, "facts", target, KEYS, s1, s2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(stage)
            for job in tracker.getJobIdsForGroup(group)
            for stage in tracker.getJobInfo(job).stageIds
        ]
        # a stage a job reuses (skipped) is the first the status store
        # evicts in a long session: only stages that ran are named
        calls = {info.name.split(" at ")[0] for info in stages if info is not None}
        actions = {c for c in calls if not c.startswith("$anonfun")}
        assert actions == {"isEmpty", "parquet"}, calls

    def test_key_in_upserts_and_deletes_ends_up_deleted(self, spark, tmp_path):
        """The delete wins, as it did when deletes ran after the upserts."""
        target = ParquetTable(spark, str(tmp_path / "wh"))
        merge_into(target, _df(spark, [(1, "a", 1), (2, "b", 2)]), KEYS)
        out = merge_into(
            target,
            _df(spark, [(2, "b2", 20), (3, "c", 3)]),
            KEYS,
            deletes=_df(spark, [(2, "b", 2), (3, "c", 3), (9, "z", 9)]),
        )
        assert out == {"upserted": 0, "deleted": 1}
        assert _rows(target) == [(1, "a", 1)]
