"""Planted-semantics locks for the r5h batch: table profiling, running
unique users, seasonal-naive forecast backtest."""

from __future__ import annotations

import datetime


class TestProfileTable:
    def test_profile_counts_nulls_distincts_and_extremes(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.profiling import (
            profile_table,
        )

        rows = [
            (1, 10, "O", 5.00, datetime.datetime(2024, 1, 1), "1-URGENT"),
            (2, 10, None, 7.50, datetime.datetime(2024, 2, 1), "5-LOW"),
            (3, 20, "F", None, datetime.datetime(2024, 3, 1), "5-LOW"),
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        got = {r.col_name: r for r in profile_table(spark, out).collect()}
        assert len(got) == 6 and all(r.n_rows == 3 for r in got.values())
        assert got["o_orderstatus"].n_nulls == 1
        assert got["o_orderstatus"].n_distinct == 2
        assert got["o_totalprice"].n_nulls == 1
        # floating columns render through DECIMAL(38,6) (r8): a raw JVM
        # double->string goes scientific above 1e7 where DuckDB prints
        # positionally, so the profile contract is fixed-scale decimal
        assert got["o_totalprice"].min_value == "5.000000"
        assert got["o_custkey"].n_distinct == 2
        assert got["o_custkey"].min_value == "10" and got["o_custkey"].max_value == "20"
        assert got["o_orderpriority"].max_value == "5-LOW"


class TestProfileDf:
    def test_non_identifier_column_names_are_quoted(self, spark):
        """CLI users profile arbitrary parquet columns: spaces, hyphens,
        reserved words must work; unknown columns must raise cleanly,
        never evaluate as SQL expression text (ADVICE r5)."""
        import pytest

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.profiling import (
            profile_df,
        )

        df = (
            spark.createDataFrame([(1, 2.0, "x"), (2, None, "y")], "a long, b double, c string")
            .withColumnRenamed("a", "order key")
            .withColumnRenamed("b", "total-price")
            .withColumnRenamed("c", "select")
        )
        got = {r.col_name: r for r in profile_df(
            df, ("order key", "total-price", "select")
        ).collect()}
        assert got["order key"].n_distinct == 2
        assert got["total-price"].n_nulls == 1
        assert got["select"].max_value == "y"
        with pytest.raises(ValueError, match="not in DataFrame"):
            profile_df(df, ("order key, 1); drop",))

    def test_nan_inf_and_overflow_floats_quarantine_not_abort(self, spark):
        """ADVICE r8: under ANSI mode a float column holding NaN/Infinity
        (or |x| >= 1e32, past DECIMAL(38,6)'s integral range) made the
        decimal render CAST raise and abort the WHOLE profile. Such
        values must quarantine to NULL (the money helpers' posture)
        while every other stat on the column still computes."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.profiling import (
            profile_df,
        )

        df = spark.createDataFrame(
            [
                (1, float("nan")),
                (2, float("inf")),
                (3, 1e40),
                (4, 2.5),
                (5, None),
            ],
            "k long, v double",
        )
        got = {r.col_name: r for r in profile_df(df, ("k", "v")).collect()}
        v = got["v"]
        assert v.n_rows == 5 and v.n_nulls == 1 and v.n_distinct == 4
        # min(v)=2.5 renders; max(v)=NaN (Spark orders NaN greatest) is
        # quarantined to NULL rather than aborting the job
        assert v.min_value == "2.500000"
        assert v.max_value is None
        # an all-finite-but-huge column: TRY_CAST NULLs it, no abort
        huge = spark.createDataFrame([(1, 1e40)], "k long, v double")
        row = {r.col_name: r for r in profile_df(huge, ("v",)).collect()}["v"]
        assert row.min_value is None and row.max_value is None


class TestCumulativeUniqueUsers:
    def test_each_user_counts_once_on_first_day(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            cumulative_unique_users,
        )

        rows = [
            # user 1 active on day 1 AND day 3 (must not recount)
            (0, dt.datetime(2024, 1, 1), 1, "view", 1.0, "{}"),
            (1, dt.datetime(2024, 1, 3), 1, "view", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 2), 2, "view", 1.0, "{}"),
            (3, dt.datetime(2024, 1, 3), 3, "view", 1.0, "{}"),
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        got = {r.day: r for r in cumulative_unique_users(spark, out).collect()}
        assert got[datetime.date(2024, 1, 1)].cum_users == 1
        assert got[datetime.date(2024, 1, 2)].cum_users == 2
        assert got[datetime.date(2024, 1, 3)].cum_users == 3
        assert got[datetime.date(2024, 1, 3)].n_new_users == 1  # only user 3


class TestSeasonalNaiveBacktest:
    def test_lag7_prediction_and_mae(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            seasonal_naive_backtest,
        )

        # 14 days: week 1 at $1.00/day, week 2 at $1.50/day
        rows = [
            (d, 1, 1.0 if d < 7 else 1.5, dt.datetime(2024, 1, 1 + d))
            for d in range(14)
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        got = {r.day: r for r in seasonal_naive_backtest(spark, out).collect()}
        d1, d8 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 8)
        assert got[d1].pred_cents is None and got[d1].abs_err_cents is None
        assert got[d8].pred_cents == 100 and got[d8].abs_err_cents == 50
        # 7 scored days, each off by 50 cents
        assert all(r.mae_cents == 50 for r in got.values())


class TestAbTestZscore:
    def test_planted_arms_counts_and_z(self, spark, tmp_path):
        """Synthetic users with known md5 arms: counts, rates and the
        closed-form z recomputed in Python must match exactly."""
        import datetime as dt
        import hashlib
        import math

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            ab_test_zscore,
        )

        def arm(u):
            return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:6], 16) % 2

        rows = []
        converted = {}
        for u in range(40):
            # users 0..19 convert (high-value purchase); 20..39 don't
            conv = u < 20
            converted[u] = conv
            val = 150.0 if conv else 20.0
            rows.append((u, dt.datetime(2024, 1, 1), u, "purchase", val, "{}"))
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        r = ab_test_zscore(spark, out).collect()[0]
        n_a = sum(1 for u in range(40) if arm(u) == 0)
        conv_a = sum(1 for u in range(40) if arm(u) == 0 and converted[u])
        n_b, conv_b = 40 - n_a, 20 - conv_a
        assert (r.n_a, r.n_b, r.conv_a, r.conv_b) == (n_a, n_b, conv_a, conv_b)
        p, pa, pb = 20 / 40, conv_a / n_a, conv_b / n_b
        z = (pa - pb) / math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
        assert abs(r.z_score - z) < 1e-12

    def test_zero_variance_is_null_not_error(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            ab_test_zscore,
        )

        rows = [
            (u, dt.datetime(2024, 1, 1), u, "purchase", 200.0, "{}")
            for u in range(10)
        ]  # everyone converts -> pooled variance 0
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        r = ab_test_zscore(spark, out).collect()[0]
        assert r.z_score is None


class TestSuspectDuplicateOrders:
    def test_tolerance_and_window_edges(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            suspect_duplicate_orders,
        )

        d = dt.datetime(2024, 3, 10)
        rows = [
            (1, 7, 100.00, d),                      # base
            (2, 7, 104.00, d + dt.timedelta(days=1)),   # +4%, next day -> pair
            (3, 7, 106.00, d),                      # +6% -> excluded
            (4, 7, 100.00, d + dt.timedelta(days=2)),   # 2 days -> excluded
            (5, 8, 100.00, d),                      # other customer
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        got = {(r.order_a, r.order_b) for r in suspect_duplicate_orders(spark, out).collect()}
        # (2,3): 104 vs 106 same/next day differ 2 cents*20=40 <= 10400? yes ->
        # 104.00 vs 106.00 -> |Δ|=200 cents, *20=4000 <= 10400 -> pair too
        assert (1, 2) in got and (2, 3) in got
        assert (1, 3) not in got  # 6% apart
        assert (1, 4) not in got  # 2 days apart
        assert all(a != 5 and b != 5 for a, b in got)


class TestValuePercentiles:
    def test_percentile_disc_semantics(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            value_percentiles_by_type,
        )

        # values 1..100 cents/100 -> p50 = 50c, p90 = 90c, p99 = 99c
        rows = [
            (i, dt.datetime(2024, 1, 1), 1, "view", i / 100.0, "{}")
            for i in range(1, 101)
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        r = value_percentiles_by_type(spark, out).collect()[0]
        assert (r.n_events, r.p50_cents, r.p90_cents, r.p99_cents) == (100, 50, 90, 99)


class TestItemSimilarity:
    def test_binary_cosine_and_per_item_ranks(self, spark, tmp_path):
        """Baskets {A,B}, {A,B}, {A,B}, {A,C}, {A,C}, {A,C}:
        n_A=6, n_B=3, n_C=3, cooc(A,B)=3, cooc(A,C)=3 ->
        sim(A,B) = sim(A,C) = 3/sqrt(18); B-C never co-occur."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            item_similarity_topk,
        )

        import datetime as dt

        ship = dt.datetime(2024, 1, 1)  # load_table repairs l_shipdate
        rows = []
        for o in range(3):
            rows += [(o, 100, 1.0, ship), (o, 200, 1.0, ship)]
        for o in range(3, 6):
            rows += [(o, 100, 1.0, ship), (o, 300, 1.0, ship)]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_quantity double, l_shipdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/lineitem.parquet")
        got = {(r.item, r.neighbor): r for r in item_similarity_topk(spark, out).collect()}
        sim = 3 / (18 ** 0.5)
        assert got[(100, 200)].cosine == got[(100, 300)].cosine
        assert abs(got[(100, 200)].cosine - sim) < 1e-12
        # ties break on neighbor id: 200 ranks before 300 under item 100
        assert got[(100, 200)].rank == 1 and got[(100, 300)].rank == 2
        assert (200, 300) not in got and (300, 200) not in got
        # symmetric direction exists for the neighbors
        assert got[(200, 100)].rank == 1 and got[(300, 100)].rank == 1


class TestLinkPrediction:
    def _lineitem(self, spark, tmp_path, baskets):
        import datetime as dt

        ship = dt.datetime(2024, 1, 1)
        rows = [
            (o, p, 1.0, ship) for o, parts in enumerate(baskets) for p in parts
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_quantity double, l_shipdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/lineitem.parquet")
        return out

    def test_path_graph_predicts_the_missing_link(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.graph import (
            link_prediction_jaccard,
        )

        # A-B and B-C edges; (A, C) is the open wedge to predict
        out = self._lineitem(spark, tmp_path, [[1, 2], [2, 3]])
        got = link_prediction_jaccard(spark, out).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.u, r.v) == (1, 3)
        assert r.n_common == 1 and r.deg_u == 1 and r.deg_v == 1
        assert r.jaccard_bp == 10000  # union = 1+1-1

    def test_complete_graph_predicts_nothing(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.graph import (
            link_prediction_jaccard,
        )

        out = self._lineitem(spark, tmp_path, [[1, 2, 3]])  # triangle
        assert link_prediction_jaccard(spark, out).count() == 0


class TestDegreeAssortativity:
    def test_star_graph_is_perfectly_disassortative(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.graph import (
            degree_assortativity,
        )

        ship = dt.datetime(2024, 1, 1)
        rows = []
        for o, leaf in enumerate((2, 3, 4)):  # hub = 1
            rows += [(o, 1, 1.0, ship), (o, leaf, 1.0, ship)]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_quantity double, l_shipdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/lineitem.parquet")
        r = degree_assortativity(spark, out).collect()[0]
        assert r.n_edges == 6  # 3 undirected edges, both orientations
        assert r.assortativity == -1.0  # hubs never link hubs in a star


class TestMutualInformation:
    def _orders(self, spark, tmp_path, cells):
        import datetime as dt

        rows, k = [], 0
        for (status, prio), n in cells.items():
            for _ in range(n):
                rows.append((k, 1, 1.0, dt.datetime(2024, 1, 1), prio, status))
                k += 1
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double,"
            " o_orderdate timestamp, o_orderpriority string, o_orderstatus string",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        return out

    def test_independent_table_has_zero_mi(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            status_priority_mi,
        )

        # perfectly independent 2x2: every cell n_ij = r_i*c_j/N exactly
        out = self._orders(
            spark, tmp_path,
            {("O", "H"): 4, ("O", "L"): 4, ("F", "H"): 4, ("F", "L"): 4},
        )
        got = status_priority_mi(spark, out).collect()
        assert all(r.pmi_micro == 0 for r in got)
        assert all(r.mi_nats == 0.0 for r in got)

    def test_perfect_dependence_is_ln2(self, spark, tmp_path):
        import math

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            status_priority_mi,
        )

        # status determines priority exactly, two equiprobable values:
        # MI = ln 2 nats (up to the micro-nat rounding of the two cells)
        out = self._orders(
            spark, tmp_path, {("O", "H"): 6, ("F", "L"): 6}
        )
        r = status_priority_mi(spark, out).collect()[0]
        assert abs(r.mi_nats - math.log(2)) < 1e-6


class TestSeasonalDecomposition:
    def test_pure_weekly_pattern_lands_in_seasonal(self, spark, tmp_path):
        """y = 1000 + bump(dow) with bumps summing to 0 over the week
        (+60 Monday, -10 otherwise): interior trend is exactly 1000,
        seasonal is exactly the bump, residual exactly 0."""
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            seasonal_decomposition,
        )

        start = dt.datetime(2024, 1, 1)  # a Monday
        rows = []
        for d in range(28):
            day = start + dt.timedelta(days=d)
            bump = 60 if day.isoweekday() == 1 else -10
            rows.append((d, 1, (1000 + bump) / 100.0, day))
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        got = {r.day: r for r in seasonal_decomposition(spark, out).collect()}
        assert len(got) == 28
        for d, r in got.items():
            interior = dt.date(2024, 1, 4) <= d <= dt.date(2024, 1, 25)
            if interior:
                assert r.trend_cents == 1000, r
                bump = 60 if r.dow_iso == 1 else -10
                assert r.seasonal_cents == bump, r
                assert r.residual_cents == 0, r
            else:
                assert r.trend_cents is None and r.residual_cents is None


class TestRevenueGini:
    def _orders(self, spark, tmp_path, cents_per_cust):
        import datetime as dt

        rows = [
            (i, cust, c / 100.0, dt.datetime(2024, 1, 1))
            for i, (cust, c) in enumerate(cents_per_cust)
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        return out

    def test_perfect_equality_is_zero(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            revenue_gini,
        )

        out = self._orders(spark, tmp_path, [(c, 500) for c in range(10)])
        r = revenue_gini(spark, out).collect()[0]
        assert r.n_customers == 10 and r.gini == 0.0

    def test_total_concentration_approaches_one(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            revenue_gini,
        )

        # one customer holds (almost) everything: G = (n-1)/n for a
        # single nonzero holder; with tiny 1-cent others it's close
        cents = [(c, 1) for c in range(9)] + [(9, 1_000_000)]
        out = self._orders(spark, tmp_path, cents)
        r = revenue_gini(spark, out).collect()[0]
        assert 0.85 < r.gini < 0.9001  # (n-1)/n = 0.9 in the limit


class TestDailyPercentiles:
    def test_percentile_disc_per_day(self, spark, tmp_path):
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            daily_value_percentiles,
        )

        rows = []
        # day 1: values 1..10 -> p50=5, p90=9; day 2: constant 7
        for i in range(1, 11):
            rows.append((i, dt.datetime(2024, 1, 1, 10), 1, "view", i / 100.0, "{}"))
        for i in range(5):
            rows.append((100 + i, dt.datetime(2024, 1, 2, 10), 1, "view", 0.07, "{}"))
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(f"{out}/events.parquet")
        got = {str(r.day): r for r in daily_value_percentiles(spark, out).collect()}
        assert got["2024-01-01"].p50_cents == 5
        assert got["2024-01-01"].p90_cents == 9
        assert got["2024-01-02"].p50_cents == got["2024-01-02"].p90_cents == 7


class TestCohortLtv:
    def test_planted_cohort_curve(self, spark, tmp_path):
        """Two customers acquired in Jan (one spends $1 in Jan, $2 in
        Feb; the other $3 in Jan only): cohort size 2, LTV(0) = 200c,
        LTV(1) = 300c; a Feb-acquired customer starts their own curve."""
        import datetime as dt

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            cohort_ltv,
        )

        rows = [
            (1, 10, 1.00, dt.datetime(2024, 1, 5)),
            (2, 10, 2.00, dt.datetime(2024, 2, 5)),
            (3, 11, 3.00, dt.datetime(2024, 1, 20)),
            (4, 12, 5.00, dt.datetime(2024, 2, 1)),
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        got = {
            (r.cohort_idx, r.month_offset): r for r in cohort_ltv(spark, out).collect()
        }
        jan = 2024 * 12 + 1
        assert got[(jan, 0)].cohort_size == 2
        assert got[(jan, 0)].n_active == 2
        assert got[(jan, 0)].ltv_cents == 400 // 2  # $1 + $3 over 2
        assert got[(jan, 1)].n_active == 1
        assert got[(jan, 1)].ltv_cents == 600 // 2  # +$2 cumulative
        assert got[(jan + 1, 0)].cohort_size == 1
        assert got[(jan + 1, 0)].ltv_cents == 500
