"""Plan locks for the r5 operators: the shapes that make them viable at
100 TB must not silently regress (same discipline as the q3/q5/minhash
locks in TestPlans)."""

from __future__ import annotations

from construction_data_lake_et_data_warehouse_tp3_spark.operators import (
    analytics,
    statistics,
    temporal,
    text,
)
from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
    has_broadcast_join,
    shuffle_exchange_count,
)

SF_DIR = "/root/testdata/sf0.001"


class TestR5Plans:
    def test_interpolation_windows_over_aggregated_frame(self, spark):
        """The lead() window must run over the ~|days| aggregated rows:
        exactly one pre-window hash aggregate over orders, and ≤2
        shuffles total (daily agg + the single-partition window)."""
        df = temporal.interpolate_daily_revenue(spark, SF_DIR)
        assert shuffle_exchange_count(df) <= 2

    def test_chisq_single_corpus_scan(self, spark):
        """Observed cells aggregate once; marginals/total are windows over
        that ~15-row frame — exactly ONE orders scan in the plan (the
        separate-aggregates form re-expanded the shared subtree into 4)."""
        df = analytics.status_priority_chisq(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("orders.parquet") == 1

    def test_bigram_surprisal_vocab_broadcasts(self, spark):
        df = text.bigram_surprisal(spark, SF_DIR)
        assert has_broadcast_join(df)  # the 1-row vocab count

    def test_behavioral_ops_single_corpus_scan(self, spark):
        """Funnel/cohort/RFM/anomaly queries must derive every scalar
        (cohort sizes, max date, μ/σ) as WINDOWS over their one
        aggregated frame — a separate aggregate re-expands the corpus
        subtree into a second scan (the chisq bug class)."""
        for fn, table in (
            (analytics.event_funnel, "events.parquet"),
            (analytics.retention_cohorts, "events.parquet"),
            (analytics.rfm_segments, "orders.parquet"),
            (temporal.revenue_anomalies, "orders.parquet"),
            (temporal.interpolate_daily_revenue, "orders.parquet"),
        ):
            plan = (
                fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count(table) == 1, fn.__name__


class TestStatisticsPlans:
    """Locks for operators/statistics.py (r5b): the winsorize/SCD2
    single-shuffle claims and the tiny-frame-only global windows."""

    def test_winsorized_single_shuffle_single_scan(self, spark):
        """cume_dist, both clamp-bound windows, and the final groupBy all
        share the (priority) partitioning: ONE exchange, ONE scan."""
        df = statistics.winsorized_order_stats(spark, SF_DIR)
        assert shuffle_exchange_count(df) == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("orders.parquet") == 1

    def test_scd2_single_shuffle(self, spark):
        """Change-detect LAG and post-filter LEAD/ROW_NUMBER share the
        (user_id, ts, event_id) sort: ONE exchange, ONE events scan."""
        df = statistics.scd2_user_state_history(spark, SF_DIR)
        assert shuffle_exchange_count(df) == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("events.parquet") == 1

    def test_global_windows_post_aggregation_only(self, spark):
        """benford/MoM use an un-partitioned window — legal ONLY because
        it runs over the ≤9-digit / ~80-month aggregated frame. Lock the
        aggregate-before-window order via the single corpus scan and the
        ≤2-shuffle bound (group agg + tiny window)."""
        for fn in (statistics.benford_first_digit, statistics.mom_revenue_growth):
            df = fn(spark, SF_DIR)
            assert shuffle_exchange_count(df) <= 2, fn.__name__
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("orders.parquet") == 1, fn.__name__

    def test_gap_histogram_single_corpus_shuffle(self, spark):
        """LAG on (custkey) then a tiny gap-histogram agg: ≤2 exchanges,
        one orders scan."""
        df = statistics.order_gap_histogram(spark, SF_DIR)
        assert shuffle_exchange_count(df) <= 2
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("orders.parquet") == 1

    def test_pareto_ntile_over_aggregated_frame(self, spark):
        """The decile window must sort the per-customer AGGREGATED frame,
        never the fact table: one orders scan, and the plan's only sort
        feeds the post-agg window."""
        df = statistics.pareto_revenue_share(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("orders.parquet") == 1


class TestR5cPlans:
    """Locks for the r5c additions: streak fold, exact-moment corr, EWMA
    fan-out, attribution carry, inverted index."""

    def test_purchase_streaks_single_shuffle(self, spark):
        """The whole streak derivation rides ONE customer-key shuffle
        (collect_set + sorted fold); the island form this replaced cost
        3-4. One orders scan."""
        df = statistics.purchase_streaks(spark, SF_DIR)
        assert shuffle_exchange_count(df) == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("orders.parquet") == 1

    def test_corr_single_scan_no_floats_before_final(self, spark):
        """Moment sums aggregate in one pass (map-side combinable): one
        lineitem scan, one exchange; the only DOUBLEs in the output
        schema are the final closed-form column."""
        df = statistics.quantity_discount_corr(spark, SF_DIR)
        assert shuffle_exchange_count(df) == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lineitem.parquet") == 1
        doubles = [f.name for f in df.schema.fields if f.dataType.typeName() == "double"]
        assert doubles == ["corr_qty_discount"]

    def test_ewma_runs_on_aggregated_frame(self, spark):
        """The 21× fan-out explodes the ~|days| DAILY frame, never raw
        orders: exactly one orders scan feeds the plan, and no window
        (the smoothing is explode + re-aggregate + equi-join, so there
        is no single-partition sort anywhere)."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators import (
            temporal as temporal_mod,
        )

        df = temporal_mod.ewma_daily_revenue(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("orders.parquet") == 1
        assert "Window" not in plan

    def test_attribution_single_user_shuffle(self, spark):
        """The as-of carry unions both tables and shuffles ONCE on
        user_id; the channel rollup is a second (5-group) exchange.
        No join operator anywhere — the naive per-order top-1 join form
        is exactly what this shape exists to avoid."""
        df = analytics.last_touch_attribution(spark, SF_DIR)
        assert shuffle_exchange_count(df) <= 2
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan

    def test_inverted_index_two_level_agg(self, spark):
        """(term, doc) partials combine map-side before the term-key
        postings build: one documents scan; the df band is a post-agg
        filter (it cannot push below the aggregate, but it bounds the
        collected array state — see INDEX_MIN_DF/MAX_DF)."""
        df = text.inverted_index(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("documents.parquet") == 1
        assert plan.count("HashAggregate") >= 2


class TestSkylinePlans:
    def test_skyline_is_windows_only_no_join(self, spark):
        """Both dominance phases are window tests — the naive skyline is
        a quadratic self-join; none may appear. One orders scan."""
        df = statistics.pareto_front_customers(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("orders.parquet") == 1

    def test_skyline_members_are_mutually_nondominated(self, spark):
        rows = statistics.pareto_front_customers(spark, SF_DIR).collect()
        assert len(rows) >= 2
        for p in rows:
            for q in rows:
                dominated = (
                    q.revenue_cents >= p.revenue_cents
                    and q.n_orders <= p.n_orders
                    and (q.revenue_cents > p.revenue_cents or q.n_orders < p.n_orders)
                )
                assert not dominated


class TestR6LmSurprisalPlan:
    def test_single_tokenize_pass(self, spark):
        """r6 restructure: ONE documents scan feeds the (doc_id, tok) tf
        aggregate; model + total fold from the reduced frame and scoring
        joins token TYPES (the r4 shape scanned the corpus 3x)."""
        df = text.lm_surprisal(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the scoring join consumes the (doc_id, tok) tf AGGREGATE — the
        # final doc aggregation must sum tf-weighted surprisal, never
        # re-explode occurrences above the join (identical (doc_id, tok)
        # exchange subtrees collapse via AQE stage reuse at runtime; a
        # persist variant measured EQUAL at sf0.1, so the declarative
        # form stays)
        assert "sum((tf" in plan
        gen_above_join = plan.index("Generate explode") < plan.index("HashJoin")
        assert not gen_above_join  # explode only below the tf aggregate
        from construction_data_lake_et_data_warehouse_tp3_spark.plans.analysis import (
            shuffle_exchange_count,
        )

        # tf aggs + model agg + final doc agg bound the exchange count
        # (pre-AQE static plan; runtime stage reuse dedups the repeats)
        assert shuffle_exchange_count(df) <= 10
