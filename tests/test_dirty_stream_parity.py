"""Dirty-micro-batch stream==batch parity for the stateful maintainers
VERDICT r8 ask #5 left uncovered: scd2 / rollup / cms / anomaly
(r8's commit eb9fd44 locked dedup/manifest).

Contract per maintainer: folding DIRTY micro-batches (NULL keys, NULL
timestamps, NULL/NaN measures, contentless documents) must neither
crash the fold (the ANSI CAST-abort class the money helpers already
quarantine) nor diverge from the batch twin on the same dirty input —
corrupt rows quarantine identically on both paths, clean rows produce
the batch answer bit-for-bit."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

T0 = dt.datetime(2024, 1, 10, 8, 0, 0)


def _ts(h):
    return T0 + dt.timedelta(hours=h)


def _sorted(rows):
    """None-tolerant canonical ordering (dirty rows carry NULL keys)."""
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _dirty_events(spark):
    """Real per-user transitions interleaved with every dirty class:
    NULL user, NULL ts, NULL state, NULL value, NaN value."""
    rows = [
        # user 1: A -> A (compacts) -> B -> B (compacts) -> A
        (1, _ts(0), 1, "view", 10.0, "{}"),
        (2, _ts(1), 1, "view", 20.0, "{}"),
        (3, _ts(2), 1, "purchase", 30.0, "{}"),
        (4, _ts(3), 1, "purchase", float("nan"), "{}"),
        (5, _ts(4), 1, "view", None, "{}"),
        # user 2: single state, NULL-state row in the middle
        (6, _ts(0), 2, "cart", 5.0, "{}"),
        (7, _ts(1), 2, None, 6.0, "{}"),
        (8, _ts(2), 2, "cart", 7.0, "{}"),
        # corrupt rows: NULL user / NULL ts / all-NULL
        (9, _ts(1), None, "view", 1.0, "{}"),
        (10, None, 3, "view", 2.0, "{}"),
        (11, None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def _write_sf(df, tmp_path, table):
    out = str(tmp_path / "sf")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    return out


class TestDirtyScd2:
    def test_dirty_fold_equals_batch_operator(self, spark, tmp_path):
        """NULL user/ts rows are excluded by the batch operator (dirty
        parity sweep: NULL keys rank-shift differently per engine); the
        stream fold must quarantine them identically — before this lock
        they flowed into the window and minted NULL-keyed history."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            scd2_user_state_history,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.scd2_stream import (
            StreamingScd2,
        )

        ev = _dirty_events(spark)
        sf = _write_sf(ev, tmp_path, "events")
        truth = sorted(
            tuple(r) for r in scd2_user_state_history(spark, sf).collect()
        )

        sel = ev.select(
            "user_id", "ts", "event_id", F.col("event_type").alias("state")
        )
        scd2 = StreamingScd2(spark, str(tmp_path / "store"), seq_col="event_id")
        scd2.process_batch(sel.where(F.col("event_id") <= 5))
        scd2.process_batch(sel.where(F.col("event_id") > 5))
        got = sorted(tuple(r) for r in scd2.history().collect())
        assert got == truth
        # the corrupt rows minted no history at all
        keys = {r.user_id for r in scd2.history().collect()}
        assert None not in keys and 3 not in keys  # user 3 only had NULL ts


class TestDirtyRollup:
    def test_nan_and_null_measures_quarantine_not_abort(self, spark, tmp_path):
        """Before the nanvl guard, a NaN value made the partials CAST
        raise under ANSI and abort the whole micro-batch; it must instead
        contribute a counted row with a NULL-cents measure — the money
        helpers' posture — and the N-batch fold must equal the one-shot."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.rollup_stream import (
            StreamingRollup,
        )

        ev = _dirty_events(spark)
        two = StreamingRollup(spark, str(tmp_path / "two"))
        assert two.process_batch(ev.where(F.col("event_id") <= 5), 0) > 0
        assert two.process_batch(ev.where(F.col("event_id") > 5), 1) > 0
        one = StreamingRollup(spark, str(tmp_path / "one"))
        assert one.process_batch(ev, 0) > 0
        state_two = _sorted(two.rollup().collect())
        state_one = _sorted(one.rollup().collect())
        assert state_two == state_one
        # batch-truth expression (the maintainer's committed contract,
        # test_rollup_stream._batch_truth) with the same NaN quarantine
        truth = _sorted(
            ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.expr(
                        "CAST(round(nanvl(value, CAST(NULL AS DOUBLE)) * 100)"
                        " AS BIGINT)"
                    )
                ).alias("total_cents"),
            )
            .collect()
        )
        assert state_two == truth
        # the NaN row was counted, its measure quarantined: hour 3 bucket
        # exists with n_rows=1 and NULL cents
        h3 = [r for r in two.rollup().collect() if r.bucket == _ts(3)]
        assert len(h3) == 1 and h3[0].n_rows == 1 and h3[0].total_cents is None


class TestDirtyCms:
    def test_null_tokens_fold_identically_to_one_shot(self, spark, tmp_path):
        """NULL tokens (a corrupt upstream explode) must not crash the
        grid MERGE, must not perturb real tokens' estimates, and the
        split fold must equal the one-shot fold cell for cell."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.cms_stream import (
            StreamingCountMin,
        )

        a = spark.createDataFrame([("x",)] * 5 + [("y",)], "token string")
        b = spark.createDataFrame(
            [("y",)] + [(None,)] * 3 + [("z",)], "token string"
        )
        two = StreamingCountMin(spark, str(tmp_path / "two"))
        two.process_batch(a, 0)
        two.process_batch(b, 1)
        one = StreamingCountMin(spark, str(tmp_path / "one"))
        one.process_batch(a.unionByName(b), 0)

        def grid(cms):
            return _sorted(
                cms.cells.read()
                .groupBy("d", "bucket")
                .agg(F.sum("cell").alias("n"))
                .collect()
            )

        assert grid(two) == grid(one)
        probes = spark.createDataFrame([("x",), ("y",), ("z",)], "token string")
        est = {r.token: r.cms_estimate for r in two.estimate(probes).collect()}
        # CMS invariant: estimate >= exact, unperturbed by the NULL rows
        assert est["x"] >= 5 and est["y"] >= 2 and est["z"] >= 1


class TestDirtyAnomaly:
    def test_nan_and_null_values_quarantine_not_abort(self, spark, tmp_path):
        """A NaN amount made score()'s cents CAST raise under ANSI,
        killing the whole micro-batch (and every alert in it); NaN/NULL
        must score as NULL z (never alert) while the real outlier in the
        same dirty batch still alerts exactly once — and stream scoring
        must equal batch score() on the dirty frame."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming import (
            StreamingAnomalyMonitor,
            train_baseline,
        )

        hist = spark.createDataFrame(
            [(i, 100.0 + (i % 9)) for i in range(200)],
            "transaction_id long, amount double",
        )
        mu, sigma = train_baseline(hist)
        monitor = StreamingAnomalyMonitor(
            spark, str(tmp_path / "store"), mu, sigma, threshold_sigmas=3.0
        )
        live = spark.createDataFrame(
            [
                (1000, 101.0),
                (1001, 5000.0),  # true outlier
                (1002, float("nan")),
                (1003, None),
            ],
            "transaction_id long, amount double",
        )
        monitor.process_batch(live.where("transaction_id <= 1001"), 0)
        monitor.process_batch(live.where("transaction_id > 1001"), 1)
        alerts = {r.transaction_id for r in monitor.alerts.read().collect()}
        assert alerts == {1001}
        scored = {r.transaction_id: r for r in monitor.score(live).collect()}
        assert scored[1002].z_score is None and scored[1003].z_score is None
        assert scored[1001].is_anomaly is True
        assert not math.isnan(scored[1000].z_score)
