"""Planted-semantics locks for the r5e operator batch (CUSUM change-point,
OLS trend slope, ...) — each operator gets a tiny corpus where the right
answer is computable by hand, so the semantics can't drift even if the
oracle drifts with them (the oracle proves Spark==DuckDB, these prove
both==the intended math).
"""

from __future__ import annotations

import datetime

import pytest


def _write_orders(spark, out, rows):
    """orders.parquet with just the columns the operators under test read."""
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp"
    ).coalesce(1).write.parquet(f"{out}/orders.parquet")


class TestCusumChangepoint:
    def test_level_shift_flagged_at_the_shift(self, spark, tmp_path):
        """10 days at $1.00 then 10 days at $2.00: |CUSUM| peaks on the
        last low day (t=10), nowhere else."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            cusum_changepoint,
        )

        rows = []
        for d in range(20):
            price = 1.0 if d < 10 else 2.0
            rows.append((d, 1, price, datetime.datetime(2024, 1, 1 + d)))
        out = str(tmp_path / "sf")
        _write_orders(spark, out, rows)
        got = {r.day: r for r in cusum_changepoint(spark, out).collect()}
        assert len(got) == 20
        flagged = [d for d, r in got.items() if r.is_changepoint]
        assert flagged == [datetime.date(2024, 1, 10)]
        # scaled CUSUM at the peak: n*S_10 = n*(prefix - 10*mean) =
        # 20*1000 - 10*3000 = -10000 (cents scale)
        assert got[datetime.date(2024, 1, 10)].cusum_scaled == -10000

    def test_flat_series_peak_is_earliest_tie(self, spark, tmp_path):
        """All-equal days → every cusum_scaled is 0; the deterministic
        tie-break flags the FIRST day."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            cusum_changepoint,
        )

        rows = [(d, 1, 5.0, datetime.datetime(2024, 3, 1 + d)) for d in range(5)]
        out = str(tmp_path / "sf")
        _write_orders(spark, out, rows)
        got = cusum_changepoint(spark, out).collect()
        assert all(r.cusum_scaled == 0 for r in got)
        flagged = [r.day for r in got if r.is_changepoint]
        assert flagged == [datetime.date(2024, 3, 1)]


class TestRevenueTrendSlope:
    def test_exact_linear_series_recovered(self, spark, tmp_path):
        """Daily revenue y = 100 + 7x cents (x = day of month) → slope
        exactly 7.0, intercept exactly 100.0 — OLS on a perfect line."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            revenue_trend_slope,
        )

        rows = [
            (d, 1, (100 + 7 * (d + 1)) / 100.0, datetime.datetime(2024, 5, d + 1))
            for d in range(28)
        ]
        out = str(tmp_path / "sf")
        _write_orders(spark, out, rows)
        got = revenue_trend_slope(spark, out).collect()
        assert len(got) == 1
        r = got[0]
        assert r.n_days == 28
        assert r.slope_cents_per_day == pytest.approx(7.0)
        assert r.intercept_cents == pytest.approx(100.0)

    def test_single_day_month_is_null_not_error(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            revenue_trend_slope,
        )

        rows = [(1, 1, 3.5, datetime.datetime(2024, 6, 15))]
        out = str(tmp_path / "sf")
        _write_orders(spark, out, rows)
        r = revenue_trend_slope(spark, out).collect()[0]
        assert r.slope_cents_per_day is None and r.intercept_cents is None


class TestEventPathTrigrams:
    def test_planted_paths_counted(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            event_path_trigrams,
        )

        rows = []
        # user 1: a b c d  -> a>b>c, b>c>d ; user 2: a b c -> a>b>c
        seq = {1: ["a", "b", "c", "d"], 2: ["a", "b", "c"]}
        eid = 0
        for u, types in seq.items():
            for i, t in enumerate(types):
                rows.append((eid, dt.datetime(2024, 1, 1, 0, i), u, t, 1.0, "{}"))
                eid += 1
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        got = {r.path: r.n_paths for r in event_path_trigrams(spark, out).collect()}
        assert got == {"a>b>c": 2, "b>c>d": 1}

    def test_tie_timestamps_use_event_id_order(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            event_path_trigrams,
        )

        ts = dt.datetime(2024, 1, 1)
        rows = [(i, ts, 1, t, 1.0, "{}") for i, t in enumerate(["x", "y", "z"])]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        got = {r.path: r.n_paths for r in event_path_trigrams(spark, out).collect()}
        assert got == {"x>y>z": 1}


class TestTermPmiPairs:
    def test_perfect_collocation_tops_the_list(self, spark, tmp_path):
        import math

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.text import (
            term_pmi_pairs,
        )

        # 10 docs contain the pair (alpha, beta) and a shared filler word;
        # 10 more docs contain only filler -> filler pairs have low PMI,
        # (alpha, beta) has PMI = ln(N * 10 / (10 * 10)) = ln 2.
        rows = []
        for d in range(10):
            rows.append((d, "alpha beta filler stuff", "en", "s", 10))
        for d in range(10, 20):
            rows.append((d, "filler stuff other words", "en", "s", 10))
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(f"{out}/documents.parquet")
        got = term_pmi_pairs(spark, out).collect()
        top = got[0]
        assert (top.tok_a, top.tok_b) == ("alpha", "beta")
        assert top.c_ab == 10 and top.c_a == 10 and top.c_b == 10
        assert top.pmi_micro == round(math.log(2) * 1_000_000)

    def test_support_floor_drops_rare_pairs(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.text import (
            term_pmi_pairs,
        )

        rows = [(0, "rare paironce", "en", "s", 10)] + [
            (d, "common words here always", "en", "s", 10) for d in range(1, 15)
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(f"{out}/documents.parquet")
        pairs = {(r.tok_a, r.tok_b) for r in term_pmi_pairs(spark, out).collect()}
        assert ("paironce", "rare") not in pairs  # c_ab = 1 < floor
        assert ("always", "common") in pairs  # c_ab = 14


class TestSessionBounceRate:
    def test_planted_sessions(self, spark, tmp_path):
        """User 1: a lone 'view' (bounce), then >30 min later a 3-event
        session entered via 'click' -> view bounces 1/1, click 0/1."""
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.temporal import (
            session_bounce_rate,
        )

        t0 = dt.datetime(2024, 1, 1, 8, 0)
        rows = [
            (0, t0, 1, "view", 1.0, "{}"),
            (1, t0 + dt.timedelta(minutes=45), 1, "click", 1.0, "{}"),
            (2, t0 + dt.timedelta(minutes=50), 1, "purchase", 1.0, "{}"),
            (3, t0 + dt.timedelta(minutes=55), 1, "view", 1.0, "{}"),
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        got = {r.entry_type: r for r in session_bounce_rate(spark, out).collect()}
        assert got["view"].n_sessions == 1 and got["view"].n_bounces == 1
        assert got["view"].bounce_bp == 10000
        assert got["click"].n_sessions == 1 and got["click"].n_bounces == 0
        assert got["click"].n_events_total == 3
        assert got["click"].bounce_bp == 0
