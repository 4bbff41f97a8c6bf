"""Mathematical invariants for the r5 statistics operators —
brute-force Python recomputation on the sf0.001 frame, independent of the
DuckDB oracle (which shares SQL idioms and could share a blind spot)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
    WINSOR_HI,
    WINSOR_LO,
    winsorized_order_stats,
    pareto_revenue_share,
    benford_first_digit,
)

SF_DIR = "/root/testdata/sf0.001"


class TestWinsorizedInvariants:
    def test_bounds_are_percentile_disc_by_brute_force(self, spark):
        """p05/p95 must equal the smallest value whose cume_dist reaches
        the quantile — recomputed with a plain Python sort."""
        rows = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .select(
                "o_orderpriority",
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"),
            )
            .collect()
        )
        by_group: dict[str, list[int]] = {}
        for r in rows:
            by_group.setdefault(r["o_orderpriority"], []).append(r["c"])

        def pdisc(xs, q):
            # smallest x whose cume_dist (= rank of its LAST tie / n)
            # reaches q — the percentile_disc definition
            xs = sorted(xs)
            n = len(xs)
            for i, x in enumerate(xs):
                last_tie = i
                while last_tie + 1 < n and xs[last_tie + 1] == x:
                    last_tie += 1
                if (last_tie + 1) / n >= q:
                    return x
            return xs[-1]

        got = {
            r["o_orderpriority"]: (r["p05_cents"], r["p95_cents"])
            for r in winsorized_order_stats(spark, SF_DIR).collect()
        }
        for grp, xs in by_group.items():
            assert got[grp] == (pdisc(xs, WINSOR_LO), pdisc(xs, WINSOR_HI)), grp

    def test_winsorized_mean_within_bounds(self, spark):
        for r in winsorized_order_stats(spark, SF_DIR).collect():
            assert r["p05_cents"] <= r["winsorized_avg_cents"] <= r["p95_cents"]


class TestShareInvariants:
    def test_pareto_shares_sum_and_monotonicity(self, spark):
        rows = sorted(
            pareto_revenue_share(spark, SF_DIR).collect(), key=lambda r: r["decile"]
        )
        assert [r["decile"] for r in rows] == list(range(1, 11))
        # integer DIV floors each share: the sum is ≤ 10000 by < 10 units
        total_bp = sum(r["share_bp"] for r in rows)
        assert 10000 - 10 < total_bp <= 10000
        revs = [r["revenue_cents"] for r in rows]
        assert revs == sorted(revs, reverse=True)  # decile 1 = top spenders

    def test_benford_shares_close_to_complete(self, spark):
        rows = benford_first_digit(spark, SF_DIR).collect()
        assert {r["digit"] for r in rows} <= set(range(1, 10))
        total = sum(r["observed_bp"] for r in rows)
        assert 10000 - len(rows) < total <= 10000


class TestMannWhitney:
    def test_planted_exact_u_and_z(self, spark, tmp_path):
        """Hand-computed U on a planted frame: arms derived with the SAME
        md5 coin in pure Python, doubled tie-average ranks, exact 2U."""
        import datetime
        import hashlib
        import math

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            ab_test_mannwhitney,
        )

        def arm(ck):
            return int(hashlib.md5(f"mw:{ck}".encode()).hexdigest()[:6], 16) % 2

        ts = datetime.datetime(2024, 1, 1)
        prices = [5.00, 7.50, 7.50, 9.00, 12.25, 12.25, 12.25, 20.00]
        rows = [
            (i, ck, p, ts, "O", "1-URGENT")
            for i, (ck, p) in enumerate(zip(range(100, 108), prices))
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double,"
            " o_orderdate timestamp, o_orderstatus string, o_orderpriority string",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")

        # expected: doubled average ranks over sorted cents with ties
        cents = sorted(int(round(p * 100)) for p in prices)
        r2 = {}
        i = 0
        while i < len(cents):
            j = i
            while j < len(cents) and cents[j] == cents[i]:
                j += 1
            r2[cents[i]] = (i + 1) + j  # 2 * avg rank of the tie block
            i = j
        arms = {ck: arm(ck) for ck in range(100, 108)}
        n_a = sum(1 for a in arms.values() if a == 0)
        n = len(prices)
        ra2 = sum(
            r2[int(round(p * 100))]
            for ck, p in zip(range(100, 108), prices)
            if arms[ck] == 0
        )
        u2 = ra2 - n_a * (n_a + 1)
        tie3 = sum(
            t**3 - t
            for t in __import__("collections").Counter(cents).values()
        )
        got = ab_test_mannwhitney(spark, out).collect()[0]
        assert (got.n_a, got.n_b, got.u2_a, got.tie3) == (n_a, n - n_a, u2, tie3)
        var = n_a * (n - n_a) / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))
        assert math.isclose(
            got.z_score, (u2 - n_a * (n - n_a)) / (2.0 * math.sqrt(var))
        )

    def test_aa_split_z_is_small_on_corpus(self, spark):
        """A/A by construction: |z| must sit well inside normal range."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            ab_test_mannwhitney,
        )

        r = ab_test_mannwhitney(spark, SF_DIR).collect()[0]
        assert r.n_a + r.n_b > 100 and abs(r.z_score) < 4.0


class TestKruskalWallis:
    def _orders(self, spark, tmp_path, rows):
        import datetime

        ts = datetime.datetime(2024, 1, 1)
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            [(i, 1, p, ts, "O", pr) for i, (pr, p) in enumerate(rows)],
            "o_orderkey long, o_custkey long, o_totalprice double,"
            " o_orderdate timestamp, o_orderstatus string, o_orderpriority string",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        return out

    def test_separated_groups_score_high_identical_groups_zero(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            kruskal_wallis_priority,
        )

        # perfectly separated: URGENT all low, HIGH all high -> H near max
        rows = [("1-URGENT", float(v)) for v in range(1, 9)] + [
            ("2-HIGH", float(v)) for v in range(100, 108)
        ]
        out = self._orders(spark, tmp_path, rows)
        r = kruskal_wallis_priority(spark, out).collect()[0]
        # 2 occupied groups, complete separation: H = n-1 * 12.../ exact
        # bound check: must exceed the chi2(1) 99.9% point by far
        assert r.h_corrected > 10
        # hand formula cross-check (no ties): H = 12/(n(n+1)) ΣR²/n - 3(n+1)
        n = 16
        r1 = sum(range(1, 9))
        r2 = sum(range(9, 17))
        h = 12.0 / (n * (n + 1)) * (r1**2 / 8 + r2**2 / 8) - 3 * (n + 1)
        assert abs(r.h_corrected - round(h, 6)) < 1e-9

    def test_all_tied_values_yield_null(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            kruskal_wallis_priority,
        )

        rows = [("1-URGENT", 5.0)] * 4 + [("2-HIGH", 5.0)] * 4
        out = self._orders(spark, tmp_path, rows)
        r = kruskal_wallis_priority(spark, out).collect()[0]
        assert r.h_corrected is None  # correction factor 0 -> undefined


class TestRevenueAcf:
    def test_planted_weekly_cycle_and_numpy_cross_check(self, spark, tmp_path):
        """A perfectly 7-periodic daily series: lag-7 ACF near the top of
        the diagnostic window; every lag cross-checked against the same
        estimator computed directly in Python."""
        import datetime

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            ACF_MAX_LAG,
            revenue_acf,
        )

        base = datetime.datetime(2024, 1, 1)
        pattern = [100.0, 250.0, 180.0, 90.0, 300.0, 510.0, 420.0]
        days = 70
        rows = [
            (i, 1, pattern[i % 7], base + datetime.timedelta(days=i), "O", "5-LOW")
            for i in range(days)
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double,"
            " o_orderdate timestamp, o_orderstatus string, o_orderpriority string",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        got = {r.lag: r.acf for r in revenue_acf(spark, out).collect()}

        xs = [int(round(pattern[i % 7] * 100)) for i in range(days)]
        n = len(xs)
        mean = sum(xs) / n
        den = sum((x - mean) ** 2 for x in xs)
        for k in range(1, ACF_MAX_LAG + 1):
            num = sum((xs[t] - mean) * (xs[t + k] - mean) for t in range(n - k))
            assert abs(got[k] - round(num / den, 6)) < 1e-9, f"lag {k}"
        assert got[7] > 0.85  # the weekly spike


class TestSupplierHhi:
    def test_monopoly_and_equal_split_closed_forms(self, spark, tmp_path):
        import datetime

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            supplier_hhi,
        )

        ts = datetime.datetime(2024, 1, 1)
        out = str(tmp_path / "sf")
        # nation 0: one supplier (monopoly). nation 1: four equal suppliers.
        li = [(1, 10, 100.0, 0.0, ts)] + [
            (2 + i, 20 + i, 50.0, 0.0, ts) for i in range(4)
        ]
        spark.createDataFrame(
            li,
            "l_orderkey long, l_suppkey long, l_extendedprice double,"
            " l_discount double, l_shipdate timestamp",
        ).coalesce(1).write.parquet(f"{out}/lineitem.parquet")
        spark.createDataFrame(
            [(10, 0)] + [(20 + i, 1) for i in range(4)],
            "s_suppkey long, s_nationkey long",
        ).coalesce(1).write.parquet(f"{out}/supplier.parquet")
        spark.createDataFrame(
            [(0, "MONO"), (1, "QUAD")], "n_nationkey long, n_name string"
        ).coalesce(1).write.parquet(f"{out}/nation.parquet")
        got = {r.n_name: r for r in supplier_hhi(spark, out).collect()}
        assert got["MONO"].hhi_bp2 == 10000**2  # monopoly = (10000 bp)^2
        assert got["MONO"].top_share_bp == 10000
        assert got["QUAD"].hhi_bp2 == 4 * 2500**2  # four equal = 25,000,000
        assert got["QUAD"].n_suppliers == 4


class TestDegenerateInputs:
    """Planted-fixture degenerate cases with ASSERTED outputs (the r6
    empty-table sweep only proved 'runs cleanly'): zero-variance ACF,
    single-supplier HHI, k-core with no edges, quantile sketch and
    range window over empty orders."""

    ORDERS_DDL = (
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )

    def test_acf_single_day_is_null_not_divide_by_zero(self, spark, tmp_path):
        """n_days = 1 makes the variance denominator exactly 0; ACF is
        undefined -> every lag row present with acf NULL (ANSI mode would
        otherwise raise DIVIDE_BY_ZERO)."""
        import datetime

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            ACF_MAX_LAG,
            revenue_acf,
        )

        ts = datetime.datetime(2024, 1, 1)
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            [(1, 10, "O", 100.0, ts, "1-URGENT"), (2, 11, "O", 50.0, ts, "2-HIGH")],
            self.ORDERS_DDL,
        ).write.parquet(f"{out}/orders.parquet")
        rows = revenue_acf(spark, out).collect()
        assert len(rows) == ACF_MAX_LAG
        assert all(r.n_days == 1 and r.acf is None for r in rows)

    def test_acf_constant_series_is_null(self, spark, tmp_path):
        """Multiple days but constant revenue: variance 0 again -> NULL,
        not +-inf or a crash."""
        import datetime

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            revenue_acf,
        )

        out = str(tmp_path / "sf")
        rows = [
            (i, 10, "O", 75.0, datetime.datetime(2024, 1, 1 + i), "2-HIGH")
            for i in range(5)
        ]
        spark.createDataFrame(rows, self.ORDERS_DDL).write.parquet(
            f"{out}/orders.parquet"
        )
        got = revenue_acf(spark, out).collect()
        assert all(r.n_days == 5 and r.acf is None for r in got)

    def test_hhi_single_supplier_is_monopoly(self, spark, tmp_path):
        """One supplier owning a nation's whole revenue: share must be
        exactly 10000 bp and HHI exactly 10000^2 — the monopoly anchor
        of the concentration scale."""
        import datetime

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            supplier_hhi,
        )

        out = str(tmp_path / "sf")
        ts = datetime.datetime(2024, 1, 1)
        spark.createDataFrame(
            [(1, "S1", 7, 100.0)],
            "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
        ).write.parquet(f"{out}/supplier.parquet")
        spark.createDataFrame(
            [(7, "FRANCE", 1)], "n_nationkey long, n_name string, n_regionkey long"
        ).write.parquet(f"{out}/nation.parquet")
        spark.createDataFrame(
            [(1, 5, 1, 1, 2.0, 100.0, 0.1, 0.0, "N", "O", ts)],
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_tax double, l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp",
        ).write.parquet(f"{out}/lineitem.parquet")
        rows = supplier_hhi(spark, out).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.n_name, r.n_suppliers, r.hhi_bp2, r.top_share_bp) == (
            "FRANCE",
            1,
            10000 * 10000,
            10000,
        )

    def test_kcore_no_edges_returns_empty(self, spark, tmp_path):
        """Single-item orders build zero co-purchase edges; every peeling
        round must survive the empty alive set and return 0 rows."""
        import datetime

        from construction_data_lake_et_data_warehouse_tp3_spark.operators.graph import (
            kcore_products,
        )

        out = str(tmp_path / "sf")
        ts = datetime.datetime(2024, 1, 1)
        spark.createDataFrame(
            [(o, 100 + o, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", ts) for o in range(3)],
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_tax double, l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp",
        ).write.parquet(f"{out}/lineitem.parquet")
        assert kcore_products(spark, out).collect() == []

    def test_quantile_sketch_and_range_window_over_empty_orders(
        self, spark, tmp_path
    ):
        """Empty orders: grouped sketch emits no group rows (NOT a
        null-stats row), and the global RANGE window emits nothing rather
        than a frame over zero days."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.sketches import (
            quantile_sketch_check,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.windows import (
            rolling_7d_revenue,
        )

        out = str(tmp_path / "sf")
        spark.createDataFrame([], self.ORDERS_DDL).write.parquet(
            f"{out}/orders.parquet"
        )
        assert quantile_sketch_check(spark, out).collect() == []
        assert rolling_7d_revenue(spark, out).collect() == []
