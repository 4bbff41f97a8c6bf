"""Physical-plan assertions (SURVEY §4 checklist: pushdown, pruning,
broadcast, codegen)."""

from __future__ import annotations

from construction_data_lake_et_data_warehouse_tp3_spark.operators import (
    tpch,
    joins,
)
from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
    wholestage_codegen_spans,
)

SF_DIR = "/root/testdata/sf0.001"


class TestPlans:
    def test_q6_filter_pushdown_and_pruning(self, spark):
        df = tpch.tpch_q6(spark, SF_DIR)
        filters = pushed_filters(df)
        assert any("l_discount" in f or "l_quantity" in f for f in filters), filters
        schemas = scan_read_schema(df)
        # column pruning: only the 4 referenced columns reach the scan
        assert all("l_returnflag" not in s for s in schemas), schemas

    def test_star_join_broadcasts_dims(self, spark):
        df = joins.star_schema_revenue(spark, SF_DIR)
        assert has_broadcast_join(df)

    def test_q1_codegen(self, spark):
        df = tpch.tpch_q1(spark, SF_DIR)
        assert wholestage_codegen_spans(df) >= 1

    def test_q10_filters_reach_both_scans(self, spark):
        df = tpch.tpch_q10(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "o_orderdate" in filters  # date range → orders scan
        assert "l_returnflag" in filters  # flag filter → lineitem scan

    def test_q7_nation_filter_pushed_and_dims_broadcast(self, spark):
        """Locks the r4 q7 shape: the FRANCE/GERMANY IN-filter reaches
        the nation scan (not applied after the joins) and the nation/
        supplier tags broadcast onto the facts."""
        df = tpch.tpch_q7(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "n_name" in filters
        assert has_broadcast_join(df)

    def test_q14_single_shuffle_with_pushed_dates(self, spark):
        """Locks the r4 q14 shape: date range pushed to the lineitem
        scan, part broadcast, ONE shuffle (the scalar aggregate)."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        df = tpch.tpch_q14(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "l_shipdate" in filters
        assert has_broadcast_join(df)
        assert shuffle_exchange_count(df) <= 1

    def test_q8_dims_broadcast_with_pushed_filters(self, spark):
        """Locks the r4 q8 pyramid: the ECONOMY p_type and EUROPE r_name
        predicates reach their dim scans, and every dim joins the facts
        by broadcast — one orderkey shuffle remains."""
        df = tpch.tpch_q8(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "p_type" in filters
        assert "r_name" in filters
        assert has_broadcast_join(df)

    def test_q3_filters_reach_all_three_scans(self, spark):
        """Locks the r1 plan win: each side is filtered BEFORE the join —
        the mktsegment/date predicates must reach the parquet scans."""
        df = tpch.tpch_q3(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "c_mktsegment" in filters
        assert "o_orderdate" in filters
        assert "l_shipdate" in filters

    def test_q3_single_shuffle(self, spark):
        """At sf0.001 the filtered customer/orders sides broadcast, so the
        only shuffle Exchange left is the final aggregation — one shuffle
        feeds the fact join chain. A regression (lost broadcast, lost
        pushdown forcing a wider shuffle) adds Exchanges."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        assert shuffle_exchange_count(tpch.tpch_q3(spark, SF_DIR)) == 1

    def test_q5_region_filter_pushed_and_single_shuffle(self, spark):
        """Selectivity-first q5: the EUROPE predicate reaches the region
        scan (everything downstream joins pre-filtered sides), dims go
        broadcast, and only the aggregation shuffles."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        df = tpch.tpch_q5(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "EqualTo(r_name,EUROPE)" in filters
        assert has_broadcast_join(df)
        assert shuffle_exchange_count(df) == 1

    def test_q4_semi_join_single_shuffle(self, spark):
        """Locks the q4 shape: the quarter window reaches the orders scan
        and the EXISTS stays ONE left-semi shuffle (the lateness predicate
        rides the join, never a distinct + inner join)."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        df = tpch.tpch_q4(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "o_orderdate" in filters
        assert shuffle_exchange_count(df) <= 1

    def test_q9_part_filter_pushed_single_shuffle(self, spark):
        """Locks the q9 shape: the %widget% predicate reaches the part
        scan as StringContains, part/supplier/nation tags broadcast onto
        lineitem map-side, and only orders ⋈ lineitem shuffles."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        df = tpch.tpch_q9(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "StringContains(p_name,widget)" in filters
        assert has_broadcast_join(df)
        assert shuffle_exchange_count(df) <= 1

    def test_q12_dates_pushed_single_shuffle(self, spark):
        """Locks the q12 shape: the 1996 window pushes through the join
        to the lineitem scan; both priority counts fold into the one
        post-join aggregation."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        df = tpch.tpch_q12(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "l_shipdate" in filters
        assert shuffle_exchange_count(df) <= 1

    def test_q2_window_rewrite_two_shuffles(self, spark):
        """Locks the q2 rewrite: part/region predicates reach their dim
        scans, and the correlated per-part MIN is a window over the pair
        aggregation — 2 shuffles total, not an aggregate self-join's 4+."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        df = tpch.tpch_q2(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "EqualTo(p_size,15)" in filters
        assert "EqualTo(r_name,ASIA)" in filters
        assert has_broadcast_join(df)
        assert shuffle_exchange_count(df) <= 2

    def test_q2_partsupp_pushdown_below_distinct(self, spark):
        """Locks the load_partsupp key-filter pushdown: both dim key sets
        (size-15 parts, Asian suppliers) must semi-join the lineitem scan
        BELOW the pair distinct — the unfiltered form shuffles every
        corpus pair (590k vs 2.4k at sf0.1). Two LeftSemi joins in the
        plan, both under the first aggregate."""
        df = tpch.tpch_q2(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        first_agg = plan.find("HashAggregate")
        semis = [i for i in range(len(plan)) if plan.startswith("LeftSemi", i)]
        assert len(semis) >= 2, plan
        # the distinct's aggregate appears before (above) the semi joins
        assert all(i > first_agg for i in semis[:2])

    def test_q20_prefix_and_dates_pushed(self, spark):
        """Locks the q20 shape: the blue% prefix reaches the part scan as
        StringStartsWith and the 1996 window reaches lineitem; every
        shuffle after the pair aggregation carries aggregated rows only."""
        df = tpch.tpch_q20(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "StringStartsWith(p_name,blue)" in filters
        assert "l_shipdate" in filters
        assert has_broadcast_join(df)

    def test_q21_status_pushed_rewrite_bounded(self, spark):
        """Locks the q21 rewrite: the order-status filter reaches the
        orders scan, and the EXISTS / NOT-EXISTS pair is ONE per-order
        aggregation — ≤3 shuffles, no lineitem self-join."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            shuffle_exchange_count,
        )

        df = tpch.tpch_q21(spark, SF_DIR)
        filters = " ".join(pushed_filters(df))
        assert "EqualTo(o_orderstatus,F)" in filters
        assert shuffle_exchange_count(df) <= 3

    def test_range_join_is_broadcast_nested_loop(self, spark):
        """Non-equi join against a 5-row band table must broadcast the
        bands (map-side interval tests), never shuffle orders."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators import (
            relational_extras,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import explain_str

        df = relational_extras.price_band_range_join(spark, SF_DIR)
        assert "BroadcastNestedLoopJoin" in explain_str(df, "simple")

    def test_bucketed_embedding_dedup_shuffles_only_on_band_sig(self, spark):
        """Locks the r2 scale win: candidate generation must be a hash
        join KEYED on (band, sig) — broadcast at this SF, shuffled at
        scale, either way bucketed — and never degrade to the all-pairs
        shapes (CartesianProduct / BroadcastNestedLoopJoin). Any shuffle
        Exchange may partition only on the LSH key or on the final
        distinct's output columns."""
        import re

        from construction_data_lake_et_data_warehouse_tp3_spark.operators import similarity
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import explain_str

        plan = explain_str(similarity.embedding_dup_pairs_bucketed(spark, SF_DIR), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[band", plan), plan
        for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert ("band" in keys and "sig" in keys) or "vec_a" in keys, keys

    def test_rolling_7d_revenue_single_window_sort(self, spark):
        """Locks the RANGE-frame plan: one Window fed by exactly one Sort
        — a regression (e.g. a second window pass or a re-sort between
        aggregation and window) doubles the most expensive stage."""
        from construction_data_lake_et_data_warehouse_tp3_spark.operators import windows
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import explain_str

        plan = explain_str(windows.rolling_7d_revenue(spark, SF_DIR), "simple")
        assert plan.count("Window [") == 1, plan
        assert plan.count("Sort [") == 1, plan

    def test_blacklist_filter_is_broadcast_semi(self, spark):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators import transforms
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import explain_str

        df = transforms.blacklist_filter(spark, SF_DIR)
        plan = explain_str(df, "simple")
        assert "LeftSemi" in plan and "Broadcast" in plan

    def test_lake_day_partitions_prune(self, spark, tmp_path):
        """A day-filtered read of a date-partitioned feed must prune at
        the partition level (PartitionFilters, zero data files listed for
        other days) — the property every retention job and time-ranged
        scan relies on at 100 TB."""
        import datetime

        from construction_data_lake_et_data_warehouse_tp3_spark.lake import (
            DataLakeWriter,
            FeedCatalog,
            FeedConfig,
            FeedType,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            has_partition_filters,
        )

        catalog = FeedCatalog(str(tmp_path / "lake"))
        cfg = catalog.add(FeedConfig(feed_name="s", feed_type=FeedType.STREAM, source="x"))
        writer = DataLakeWriter(spark, catalog)
        for day in (1, 2, 3):
            writer.export_stream(
                spark.range(10), cfg, partition_date=datetime.date(2024, 1, day)
            )
        df = writer.read_stream_feed(cfg).where("year = 2024 AND month = 1 AND day = 2")
        assert has_partition_filters(df)
        assert df.count() == 10

    def test_product_counts_scan_pruned(self, spark):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators import aggregates

        df = aggregates.product_purchase_counts(spark, SF_DIR)
        schemas = scan_read_schema(df)
        # the lineitem scan must NOT read unused wide columns
        lineitem_scans = [s for s in schemas if "l_partkey" in s]
        assert lineitem_scans and all("l_returnflag" not in s for s in lineitem_scans)
