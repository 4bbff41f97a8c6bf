"""Sorts / limits / top-k / window / rollup surface (SURVEY §2.6 #39-43,
plus beyond-reference window + grouping-set operators Spark gives for free).

Scale notes: top-k via orderBy().limit(k) compiles to TakeOrderedAndProject
— per-partition heaps + a driver-side k-merge, no global sort. row_number
windows shuffle once on the partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalar import money_sum, money_sum_sql
from ..sources.registry import load_table


def top_orders_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#39/#40 ORDER BY + LIMIT: top-10 orders by amount (orderkey tiebreak
    keeps the result set deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def latest_version_per_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#41/#42 max-version scan: the reference globs its version
    directories and takes max+1 (export_to_data_lake.py:235-245). Engine equivalent: window
    row_number over a version-ish column — here, each user's latest event."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.col("ts").cast("date").alias("day"))
    )


def top_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-1 per group: each user's highest-value event."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation): subtotal + grand-total rows — the
    grouping-sets surface the reference's warehouse queries would use."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(money_sum("o_totalprice").alias("revenue"), F.count("*").alias("n_orders"))


def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: trailing 7-day revenue per order day — value
    ranges (6 PRECEDING on the day index), not row counts, so gap days
    shrink the frame. The window sums integer cents (exact, order-free)
    and divides once at the end, keeping the cross-engine compare
    bit-stable.

    The global (unpartitioned) window is a deliberate single-partition
    sort here because the frame spans the whole calendar; the 100 TB
    shape partitions by a coarse time unit (month) with a 6-day overlap
    band replicated to the successor partition — same results, shuffle
    bounded per partition."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    )
    idx = F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
    w = Window.orderBy(idx).rangeBetween(-6, 0)
    return daily.select(
        "day",
        "n_orders",
        (F.col("cents").cast("double") / 100).alias("day_revenue"),
        (F.sum("cents").over(w).cast("double") / 100).alias("rolling_7d_revenue"),
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the arbitrary-set sibling of ROLLUP/CUBE:
    per-status totals and per-priority totals in one pass (no crossed
    cells, which CUBE would add). Collapsed keys surface as 'ALL'
    sentinels so the cross-engine compare total-orders."""
    orders = load_table(spark, sf_dir, "orders")
    gs = orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
    ).agg(
        F.count("*").alias("n_orders"),
        money_sum("o_totalprice").alias("revenue"),
    )
    return gs.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n_orders",
        "revenue",
    )


def ranking_windows_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-window family in one deterministic pass per customer
    order history: row_number / ntile / percent_rank / cume_dist over a
    unique total order (o_orderdate, o_orderkey — no tie ambiguity), plus
    lag-based spend delta. One shuffle on o_custkey; the per-key sort is
    the windowing cost at any scale. Limited to customers < 200 to keep
    the showcase result compact."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        # coalesce(lag(x), 0), NOT lag(x, 1, 0.0): the 3-arg default fires
        # only when the offset ROW is missing, so an existing-but-NULL
        # predecessor price yields NULL here while the oracle's coalesce
        # yields 0 — the dirty-input parity sweep caught the divergence
        F.round(
            F.col("o_totalprice")
            - F.coalesce(F.lag("o_totalprice", 1).over(w), F.lit(0.0)),
            2,
        ).alias("spend_delta"),
    )


QUERIES = {
    "ranking_windows_showcase": ranking_windows_showcase,
    "top_orders_limit": top_orders_limit,
    "latest_version_per_feed": latest_version_per_feed,
    "top_event_per_user": top_event_per_user,
    "rollup_revenue": rollup_revenue,
    "rolling_7d_revenue": rolling_7d_revenue,
    "grouping_sets_revenue": grouping_sets_revenue,
}

ORACLE = {
    "ranking_windows_showcase": """
        SELECT o_custkey, o_orderkey,
               row_number()   OVER w AS order_seq,
               ntile(4)       OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist()    OVER w, 6) AS cume,
               round(o_totalprice - coalesce(lag(o_totalprice) OVER w, 0.0), 2)
                   AS spend_delta
        FROM orders
        WHERE o_custkey < 200
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "top_orders_limit": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
    """,
    "latest_version_per_feed": """
        SELECT user_id, event_id, event_type, CAST(ts AS DATE) AS day
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "top_event_per_user": """
        SELECT user_id, event_id, event_type, value
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "rollup_revenue": f"""
        SELECT r_name AS region, n_name AS nation,
               {money_sum_sql('o_totalprice')} AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "rolling_7d_revenue": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   count(*) AS n_orders,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY 1
        )
        SELECT day, n_orders,
               CAST(cents AS DOUBLE) / 100 AS day_revenue,
               CAST(sum(cents) OVER (
                   ORDER BY date_diff('day', DATE '1995-01-01', day)
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 100 AS rolling_7d_revenue
        FROM daily
    """,
    "grouping_sets_revenue": f"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders,
               {money_sum_sql('o_totalprice')} AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
}
