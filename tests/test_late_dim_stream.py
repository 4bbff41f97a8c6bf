"""Late-arriving dimension handler (streaming/late_dim_stream.py):
facts that miss their dim row must park, recover EXACTLY ONCE when the
dim catches up, age visibly while parked, and replays must not
duplicate anything."""

from __future__ import annotations

from pyspark.sql import functions as F


def _facts(spark, rows):
    return spark.createDataFrame(rows, "event_id long, user_id long, value double")


def _dim(spark, rows):
    return spark.createDataFrame(rows, "user_id long, segment string")


def _enriched(enr):
    return sorted(
        (r.event_id, r.user_id, r.segment) for r in enr.enriched_facts().collect()
    )


class TestLateDimEnricher:
    def test_miss_parks_then_recovers_exactly_once(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.late_dim_stream import (
            LateDimEnricher,
        )

        enr = LateDimEnricher(spark, str(tmp_path))
        dim_v1 = _dim(spark, [(1, "gold")])
        # batch 0: event 10 matches, event 11 (user 2) has no dim row yet
        c0 = enr.process_batch(
            _facts(spark, [(10, 1, 5.0), (11, 2, 7.0)]), dim_v1, 0
        )
        assert c0 == {"hits": 1, "parked": 1, "recovered": 0}
        assert _enriched(enr) == [(10, 1, "gold")]
        assert [r.event_id for r in enr.backlog().collect()] == [11]

        # batch 1: dim catches up with user 2 -> event 11 recovers
        dim_v2 = _dim(spark, [(1, "gold"), (2, "silver")])
        c1 = enr.process_batch(_facts(spark, []), dim_v2, 1)
        assert c1["recovered"] == 1
        assert _enriched(enr) == [(10, 1, "gold"), (11, 2, "silver")]
        assert enr.backlog().count() == 0

        # batch 2: nothing left to recover — no duplicate lands
        c2 = enr.process_batch(_facts(spark, []), dim_v2, 2)
        assert c2["recovered"] == 0
        assert _enriched(enr) == [(10, 1, "gold"), (11, 2, "silver")]

    def test_backlog_ages_while_dim_still_missing(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.late_dim_stream import (
            LateDimEnricher,
        )

        enr = LateDimEnricher(spark, str(tmp_path))
        dim = _dim(spark, [(1, "gold")])
        enr.process_batch(_facts(spark, [(20, 9, 1.0)]), dim, 0)
        enr.process_batch(_facts(spark, []), dim, 1)
        enr.process_batch(_facts(spark, []), dim, 2)
        b = enr.backlog().collect()[0]
        assert b.event_id == 20
        assert b.first_batch_id == 0
        assert b.retry_count == 2  # retried (and missed) in batches 1 and 2

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.late_dim_stream import (
            LateDimEnricher,
        )

        enr = LateDimEnricher(spark, str(tmp_path))
        dim = _dim(spark, [(1, "gold")])
        batch = _facts(spark, [(30, 1, 2.0), (31, 5, 3.0)])
        enr.process_batch(batch, dim, 0)
        truth_e = _enriched(enr)
        enr.process_batch(batch, dim, 0)  # at-least-once replay
        assert _enriched(enr) == truth_e
        assert enr.enriched_facts().count() == 1
        assert enr.backlog().count() == 1  # 31 still parked, once

    def test_nullable_dim_attribute_does_not_fake_a_miss(self, spark, tmp_path):
        """A dim row whose ATTRIBUTE is NULL is still a match — the hit
        marker, not the attribute, decides."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.late_dim_stream import (
            LateDimEnricher,
        )

        enr = LateDimEnricher(spark, str(tmp_path))
        dim = _dim(spark, [(1, None)])
        c = enr.process_batch(_facts(spark, [(40, 1, 9.0)]), dim, 0)
        assert c == {"hits": 1, "parked": 0, "recovered": 0}
        assert enr.backlog().count() == 0

    def test_duplicate_delivery_keeps_backlog_age(self, spark, tmp_path):
        """An at-least-once re-delivery of an already-parked fact must
        NOT reset first_batch_id/retry_count (ADVICE r5: the fresh stamp
        silently zeroed the escalation signal)."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.late_dim_stream import (
            LateDimEnricher,
        )

        enr = LateDimEnricher(spark, str(tmp_path))
        dim = _dim(spark, [(1, "gold")])
        enr.process_batch(_facts(spark, [(40, 9, 1.0)]), dim, 0)
        enr.process_batch(_facts(spark, []), dim, 1)  # retry 1, still missing
        # batch 2 re-delivers the SAME fact (different batch id)
        enr.process_batch(_facts(spark, [(40, 9, 1.0)]), dim, 2)
        b = enr.backlog().collect()[0]
        assert b.event_id == 40
        assert b.first_batch_id == 0  # not reset to 2
        assert b.retry_count >= 1  # aging preserved
        # and the recovery path still fires exactly once afterwards
        dim2 = _dim(spark, [(1, "gold"), (9, "late")])
        c = enr.process_batch(_facts(spark, []), dim2, 3)
        assert c["recovered"] == 1
        assert enr.backlog().count() == 0

    def test_recovery_runs_no_count_job(self, spark, tmp_path):
        """A batch that recovers a parked fact reports `recovered` from
        the enriched MERGE's own write, so none of its jobs is a count()."""
        import uuid

        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.late_dim_stream import (
            LateDimEnricher,
        )

        enr = LateDimEnricher(spark, str(tmp_path))
        enr.process_batch(_facts(spark, [(50, 2, 1.0)]), _dim(spark, [(1, "gold")]), 0)
        dim2 = _dim(spark, [(1, "gold"), (2, "silver")])
        sc = spark.sparkContext
        group = f"test-late-dim-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            c = enr.process_batch(_facts(spark, []), dim2, 1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert c["recovered"] == 1
        tracker = sc.statusTracker()
        stages = [
            tracker.getStageInfo(stage)
            for job in tracker.getJobIdsForGroup(group)
            for stage in tracker.getJobInfo(job).stageIds
        ]
        calls = {info.name.split(" at ")[0] for info in stages if info is not None}
        assert calls and "count" not in calls, calls
