"""TPC-H-style headline queries over the driver testdata star schema.

These are the headline workload and the broadest correctness
surface: multi-join + filter + aggregate + top-k plans whose shapes match
all 22 published TPC-H queries — adapted to the columns and values
actually present: nation names are NATION_N, p_type values are
ECONOMY/SMALL/…, and every customer has orders, so q7/q8 literals use
NATION_3/NATION_8 and q22's anti-join tests for no LARGE order.

The testdata carries no partsupp table and no l_commitdate /
l_receiptdate / l_shipmode columns, so the queries that need them keep
their published PLAN SHAPE with stand-in semantics:
- q2/q11/q16/q20 run the published column-for-column partsupp form over
  the deterministic synthetic `partsupp` relation
  (sources/registry.load_partsupp: lineitem-observed (part, supplier)
  pairs + hash-derived ps_supplycost/ps_availqty in the spec domains;
  the DuckDB oracles read the identical PARTSUPP_SQL CTE).
- q4/q12/q21: "received late" becomes "shipped >N days after the order
  date" (l_shipdate vs o_orderdate); q12 groups by l_returnflag in place
  of l_shipmode.
- q9: supply cost is p_retailprice × quantity (2-decimal exact, so the
  profit stays fixed-point summable).
- q13's comment filter and q16's complaint filter become priority /
  account-balance predicates.

Scale notes per query:
- q1: single scan + hash aggregate on 2 low-cardinality keys; the shipdate
  filter is pushed to the parquet scan. Perfectly partition-parallel.
- q3/q10: fact-fact join (orders ⋈ lineitem) shuffles on orderkey once; the
  customer dim enrichment broadcasts. Top-k via TakeOrderedAndProject, not
  a global sort.
- q5: customer-nation = supplier-nation equality becomes a join filter
  after broadcast dims; the only big shuffle is orders⋈lineitem.
- q6: pure scan + filter + scalar aggregate: pushdown makes this an
  almost-I/O-only query at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import (
    money_avg,
    money_avg_sql,
    money_round,
    money_round_sql,
    money_sum,
    money_sum_sql,
    ratio_avg,
    ratio_avg_sql,
)
from ..sources.registry import PARTSUPP_SQL, load_partsupp, load_table

#: Q11 threshold: keep parts whose stock value exceeds Q11_MEAN_MULT × the
#: mean per-part value. The published form is a fixed fraction scaled by
#: 1/SF; with the SF baked into the data dir a fixed fraction degenerates
#: (0 rows at sf0.1), so the scalar subquery computes the scale-free
#: mean-relative cutoff instead — same plan shape, non-degenerate at
#: every SF. The compare runs in BIGINT cents with floor division on both
#: engines, so no float-sum order dependence.
Q11_MEAN_MULT = 2


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            money_avg("l_quantity").alias("avg_qty"),
            money_avg("l_extendedprice").alias("avg_price"),
            ratio_avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10 (TPC-H Q3 shape)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .where(F.col("o_orderdate") < cutoff)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_orderpriority")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume per nation (TPC-H Q5 shape): revenue from
    lineitems where the supplier and the customer share a nation.

    Join order is selectivity-first: the region filter shrinks nations →
    customers → orders BEFORE lineitem joins anything, so the biggest
    table joins against a 5×-reduced side (measured ~20% faster than
    joining facts first, equal results). Only the true dims carry
    broadcast hints; whether the filtered orders side broadcasts is left
    to AQE's runtime stats — at 100 TB it won't fit and gracefully stays
    a shuffle join of the pre-filtered input."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro_nations = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
        .select("n_nationkey", "n_name")
    )
    euro_cust = customer.join(
        F.broadcast(euro_nations), customer.c_nationkey == euro_nations.n_nationkey
    ).select("c_custkey", "c_nationkey", "n_name")
    euro_orders = orders.join(
        euro_cust, orders.o_custkey == euro_cust.c_custkey
    ).select("o_orderkey", "c_nationkey", "n_name")
    # Only suppliers in a European nation can ever satisfy the
    # c_nationkey == s_nationkey equality (customers are pre-filtered to
    # Europe), so semi-join supplier down ~5x BEFORE broadcasting it: the
    # broadcast side shrinks and the nation predicate applies at the scan
    # instead of after the lineitem join.
    euro_supplier = supplier.join(
        F.broadcast(euro_nations.select("n_nationkey")),
        supplier.s_nationkey == F.col("n_nationkey"),
        "left_semi",
    ).select("s_suppkey", "s_nationkey")
    # Broadcast-join lineitem against euro_supplier FIRST: a map-side
    # filter that drops ~4/5 of lineitem before the l_orderkey shuffle,
    # so the one unavoidable fact-fact shuffle carries 1/5 the rows
    # (measured ~20% faster end-to-end at sf0.1; the win grows with SF
    # because the shuffle is the scale bottleneck).
    euro_li = li.join(F.broadcast(euro_supplier), li.l_suppkey == F.col("s_suppkey")).select(
        "l_orderkey", "l_extendedprice", "l_discount", "s_nationkey"
    )
    return (
        euro_li.join(euro_orders, euro_li.l_orderkey == euro_orders.o_orderkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping (TPC-H Q7 shape): revenue between two trading
    nations by (supplier nation, customer nation, ship year), both
    directions. Both nation dims broadcast; the supplier/customer
    nation tags reach the facts map-side, so the only big shuffle is
    orders ⋈ lineitem on orderkey — same backbone as q3/q5."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_3", "NATION_8")
    tagged_supp = supplier.join(
        F.broadcast(nation.withColumnRenamed("n_name", "supp_nation")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).where(F.col("supp_nation").isin(*pair)).select("s_suppkey", "supp_nation")
    tagged_cust = customer.join(
        F.broadcast(nation.withColumnRenamed("n_name", "cust_nation")),
        customer.c_nationkey == F.col("n_nationkey"),
    ).where(F.col("cust_nation").isin(*pair)).select("c_custkey", "cust_nation")
    cust_orders = orders.join(
        tagged_cust, orders.o_custkey == tagged_cust.c_custkey
    ).select("o_orderkey", "cust_nation")
    shipped = li.join(
        F.broadcast(tagged_supp), li.l_suppkey == tagged_supp.s_suppkey
    ).select(
        "l_orderkey",
        "supp_nation",
        F.year(F.col("l_shipdate").cast("date")).alias("l_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
    )
    return (
        shipped.join(cust_orders, shipped.l_orderkey == cust_orders.o_orderkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(money_sum("volume").alias("revenue"))
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect ratio (TPC-H Q14 shape, ECONOMY standing in for
    the PROMO type prefix): share of one-month revenue from economy
    parts. The part dim broadcasts; one scan of lineitem with the date
    filter pushed; the two conditional sums fold into ONE aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    d0 = "1995-09-01"
    month = li.where(
        (F.col("l_shipdate").cast("date") >= F.lit(d0))
        & (F.col("l_shipdate").cast("date") < F.add_months(F.lit(d0).cast("date"), 1))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = month.join(F.broadcast(part), month.l_partkey == part.p_partkey)
    # both sums in fixed point (money_sum): the ratio of two EXACT
    # 2-decimal values is engine-identical; a plain double-sum ratio can
    # flip the 4th decimal on summation order
    return joined.agg(
        F.round(
            F.lit(100.0)
            * money_sum(F.when(F.col("p_type").startswith("ECONOMY"), rev).otherwise(0.0))
            / money_sum(rev),
            4,
        ).alias("economy_revenue_pct")
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): France's share of European
    ECONOMY-part revenue by order year. Dims (part-filtered keys, nations,
    suppliers) broadcast onto the facts; the one big shuffle is
    orders ⋈ lineitem. The share is a ratio of two fixed-point sums per
    year — engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    econ_parts = part.where(F.col("p_type") == "ECONOMY").select("p_partkey")
    euro_nations = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
        .select("n_nationkey")
    )
    euro_cust = customer.join(
        F.broadcast(euro_nations), customer.c_nationkey == F.col("n_nationkey"), "left_semi"
    ).select("c_custkey")
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    vol = (
        li.join(F.broadcast(econ_parts), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .select(
            "l_orderkey",
            "supp_nation",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
    )
    euro_orders = orders.join(
        F.broadcast(euro_cust), orders.o_custkey == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey", F.year(F.col("o_orderdate").cast("date")).alias("o_year"))
    by_year = (
        vol.join(euro_orders, vol.l_orderkey == euro_orders.o_orderkey)
        .groupBy("o_year")
        .agg(
            money_sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)).alias(
                "france_volume"
            ),
            money_sum("volume").alias("total_volume"),
        )
    )
    return by_year.select(
        "o_year",
        F.round(F.col("france_volume") / F.col("total_volume"), 6).alias("mkt_share"),
    )


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22 shape, adapted: nation key
    stands in for the phone-prefix segment, and — because every testdata
    customer has orders — 'inactive' means no LARGE order rather than no
    order at all; the anti-join shape is identical): wealthy customers
    (balance above the positive-balance average) with no order above the
    large-order threshold, counted per nation. The average is a broadcast
    1-row aggregate; the inactivity test is a left-anti join against the
    filtered order custkeys — at scale both sides shuffle once on
    custkey, and the o_totalprice filter pushes to the orders scan."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = customer.where(F.col("c_nationkey") < 10)
    avg_bal = seg.where(F.col("c_acctbal") > 0.0).agg(
        money_avg("c_acctbal").alias("avg_bal")
    )
    wealthy = seg.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    inactive = wealthy.join(
        orders.where(F.col("o_totalprice") > 300_000.0).select("o_custkey"),
        wealthy.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return inactive.groupBy(F.col("c_nationkey").alias("nation_key")).agg(
        F.count("*").alias("n_customers"),
        money_sum("c_acctbal").alias("total_balance"),
    )


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): quarterly revenue per supplier,
    keep the max-revenue supplier(s). The max is a 1-row aggregate over
    the already-aggregated per-supplier frame, broadcast back — the view
    + subquery of the published query as two tiny post-shuffle steps.
    Revenue is fixed-point (money_sum), so the max-equality can't split
    on summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    q = li.where(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01"))
    )
    rev = q.groupBy("l_suppkey").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top.max_revenue)
        .join(F.broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            "total_revenue",
        )
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): for one brand,
    revenue from lineitems below 20% of that part's average quantity.
    The per-part threshold joins back on partkey — at 100 TB both sides
    shuffle on the same key once; the brand filter broadcasts into the
    fact scan first so the threshold aggregation only sees the brand's
    rows. Quantities are small integers, so per-part averages are exact
    doubles on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.where(F.col("p_brand") == "Brand#4").select("p_partkey")
    brand_li = li.join(
        F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thresholds = brand_li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        brand_li.join(thresholds, brand_li.l_partkey == thresholds.t_partkey)
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(money_sum("l_extendedprice") / F.lit(7.0), 2).alias(
                "avg_yearly"
            )
        )
    )


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): orders whose total
    quantity exceeds the threshold, with customer enrichment. The HAVING
    runs on the orderkey aggregation BEFORE any join — the ~0.1% of
    orders that qualify then join customer/orders broadcast-small."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("o_orderkey").alias("order_id"),
            F.col("o_totalprice").alias("order_total"),
            "total_qty",
        )
    )


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue from bracketed predicates (TPC-H Q19 shape):
    three disjunctive (brand, size-range, quantity-range) brackets ORed
    together over lineitem ⋈ part. One broadcast join; the disjunction
    stays a single codegen'd predicate — no union-of-three-scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(bracket).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-revenue-change (TPC-H Q6 shape): scan + tight filter +
    scalar aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting top-20 (TPC-H Q10 shape)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(li, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_returnflag") == "R")
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("user_name"),
            F.col("n_name").alias("user_country"),
        )
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("user_id"))
        .limit(20)
    )


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2, published partsupp shape): for
    each STANDARD size-15 part, the Asian supplier(s) offering the lowest
    ps_supplycost. partsupp is the deterministic synthetic relation
    (sources/registry.load_partsupp — hash-derived cost/availqty over
    lineitem-observed pairs; the oracle reads the identical CTE). The
    correlated MIN subquery of the published query becomes a per-part
    window MIN over the filtered partsupp: one narrow shuffle of the
    (already small) qualified rows replaces a second partsupp scan plus
    self-join. Supplier/nation/region dims broadcast; the cost min is a
    pure selection (no summation), so the double compares identically
    across engines."""
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia_nations = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .select("n_nationkey", "n_name")
    )
    asia_supp = supplier.join(
        F.broadcast(asia_nations), supplier.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    target_parts = part.where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    # part/supplier key sets pushed BELOW the partsupp distinct (the
    # derived columns are key-pure, so filtering before ≡ joining after,
    # and the distinct shuffles only qualifying pairs)
    ps = load_partsupp(
        spark,
        sf_dir,
        part_keys=target_parts.select("p_partkey"),
        supp_keys=asia_supp.select("s_suppkey"),
    )
    # min-cost-per-part as a window over the filtered frame — Spark
    # reuses the partkey partitioning, so the correlated subquery costs
    # one extra sort, not a second scan + self-join.
    from pyspark.sql.window import Window

    costs = ps.select("ps_partkey", "ps_suppkey", "ps_supplycost")
    min_cost = F.min("ps_supplycost").over(Window.partitionBy("ps_partkey"))
    return (
        costs.withColumn("min_cost", min_cost)
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .join(F.broadcast(asia_supp), costs.ps_suppkey == asia_supp.s_suppkey)
        .join(F.broadcast(target_parts), costs.ps_partkey == target_parts.p_partkey)
        .select(
            F.col("s_acctbal"),
            F.col("s_name"),
            F.col("n_name"),
            F.col("ps_partkey").alias("part_id"),
            F.col("p_brand"),
            money_round("ps_supplycost").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("part_id"))
        .limit(100)
    )


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape, 'shipped >90 days after
    order' standing in for commit<receipt): one-quarter orders with at
    least one late lineitem, counted per priority. The EXISTS is a
    left-semi join — the shuffle carries (orderkey, orderdate) only, the
    non-equi lateness predicate rides the join, and the semi form
    dedups order-side rows without a distinct."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    q = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    late = q.join(
        li,
        (q.o_orderkey == li.l_orderkey)
        & (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 90)
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape): profit on widget parts per
    supplier nation per order year, with p_retailprice × quantity standing
    in for ps_supplycost (2-decimal exact → fixed-point summable, may go
    negative; money_sum is sign-aware). Part keys and supplier→nation tags
    broadcast onto lineitem map-side; the one big shuffle is
    orders ⋈ lineitem on orderkey for the year column."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    widget_parts = part.where(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("nation"))),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    profit = (
        li.join(F.broadcast(widget_parts), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .select(
            "l_orderkey",
            "nation",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.col("p_retailprice") * F.col("l_quantity")
            ).alias("amount"),
        )
    )
    years = orders.select(
        "o_orderkey", F.year(F.col("o_orderdate").cast("date")).alias("o_year")
    )
    return (
        profit.join(years, profit.l_orderkey == years.o_orderkey)
        .groupBy("nation", "o_year")
        .agg(money_sum("amount").alias("sum_profit"))
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11, published partsupp
    shape): per-part sum(ps_supplycost × ps_availqty) held by NATION_3
    suppliers, keeping parts above FRACTION of the national total. The
    published query's scalar-subquery threshold is a broadcast 1-row
    aggregate over the ALREADY-aggregated per-part frame (no second
    partsupp scan). ps_supplycost is 2-decimal exact and ps_availqty is
    an int, so the products fixed-point-sum identically on both engines."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n5_supp = supplier.join(
        F.broadcast(nation.where(F.col("n_name") == "NATION_3").select("n_nationkey")),
        supplier.s_nationkey == F.col("n_nationkey"),
        "left_semi",
    ).select("s_suppkey")
    # the one-nation supplier set pushes below the partsupp distinct —
    # ~1/|nations| of the corpus pairs ever reach the shuffle
    ps = load_partsupp(spark, sf_dir, supp_keys=n5_supp)
    pair_cents = (
        F.round(F.col("ps_supplycost") * 100).cast("bigint") * F.col("ps_availqty")
    )
    per_part = ps.groupBy(F.col("ps_partkey").alias("part_id")).agg(
        F.sum(pair_cents).alias("stock_cents")
    )
    threshold = per_part.agg(
        F.expr(
            f"CAST({Q11_MEAN_MULT} * sum(stock_cents) DIV count(*) AS BIGINT)"
        ).alias("cutoff_cents")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .where(F.col("stock_cents") > F.col("cutoff_cents"))
        .select(
            "part_id",
            (F.col("stock_cents").cast("double") / 100).alias("stock_value"),
        )
    )


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-mode priority split (TPC-H Q12 shape, l_returnflag
    standing in for l_shipmode, 'shipped >60 days after order' for the
    receipt-date window): per flag, how many late 1996 lineitems belong to
    high- vs low-priority orders. orders ⋈ lineitem shuffles on orderkey
    once; both conditional counts fold into ONE aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 60)
        ),
    ).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(F.col("l_returnflag").alias("ship_group")).agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-distribution (TPC-H Q13 shape, a priority filter standing
    in for the comment filter): histogram of per-customer order counts
    including zero-order customers. The left join keeps every customer;
    level 1 shuffles on custkey, level 2 on the (tiny) count domain."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    counted = orders.where(F.col("o_orderpriority") != "4-NOT SPECIFIED")
    per_cust = (
        customer.join(counted, customer.c_custkey == counted.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship (TPC-H Q16, published partsupp shape):
    distinct supplier count per (brand, type, size) over partsupp,
    excluding low-balance suppliers (the complaint filter). The part-dim
    filter broadcasts onto partsupp; the excluded-supplier set is a
    broadcast anti-join; the only shuffle is the final 3-key distinct
    aggregation."""
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    target = part.where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supplier.where(F.col("s_acctbal") < 1000.0).select("s_suppkey")
    # target-part keys push below the partsupp distinct; the (negative)
    # supplier filter stays an anti-join above it
    ps = load_partsupp(spark, sf_dir, part_keys=target.select("p_partkey"))
    pairs = ps.select("ps_partkey", "ps_suppkey").join(
        F.broadcast(bad_supp), F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        pairs.join(F.broadcast(target), pairs.ps_partkey == target.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential-part-promotion (TPC-H Q20, published partsupp shape):
    Asian suppliers holding excess stock of a blue part —
    ps_availqty > 0.5 × that pair's total 1996 shipped quantity. The
    correlated quantity subquery is the per-pair lineitem aggregation
    joined back on the SAME (partkey, suppkey) key (an inner join: a pair
    with no 1996 shipments makes the published comparison NULL → excluded);
    qualifying suppkeys semi-join the supplier dim. Quantities and
    availqty are integers, so the 0.5× compare is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    blue_parts = part.where(F.col("p_name").like("blue%")).select("p_partkey")
    # blue-part keys push below the partsupp distinct — the correlated
    # quantity join then runs qualifying-pairs × 1996-pairs only
    ps = load_partsupp(spark, sf_dir, part_keys=blue_parts)
    pair_qty = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(blue_parts), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("pair_qty"))
    )
    dominant = (
        ps.join(
            pair_qty,
            (ps.ps_partkey == pair_qty.l_partkey)
            & (ps.ps_suppkey == pair_qty.l_suppkey),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("pair_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    asia_keys = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .select("n_nationkey")
    )
    return (
        supplier.join(F.broadcast(dominant), supplier.s_suppkey == F.col("ps_suppkey"), "left_semi")
        .join(F.broadcast(asia_keys), supplier.s_nationkey == F.col("n_nationkey"), "left_semi")
        .select(F.col("s_name").alias("supplier_name"), F.col("s_acctbal"))
        .orderBy("supplier_name")
    )


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers-who-kept-orders-waiting (TPC-H Q21 shape): suppliers that
    were the ONLY late shipper on a multi-supplier finished order. The
    published EXISTS / NOT EXISTS pair of lineitem self-joins is rewritten
    as ONE groupBy(orderkey) computing supplier and late-supplier counts —
    s qualifies iff s was late, the order has >1 supplier, and exactly one
    late supplier (then s IS that supplier). One shuffle on orderkey
    replaces two self-join shuffles; the DuckDB oracle keeps the literal
    EXISTS form, so the rewrite is cross-checked every round."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    f_orders = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    tagged = li.join(f_orders, li.l_orderkey == f_orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 90)
        ).alias("is_late"),
    )
    per_order = tagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_supp"),
        F.max(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("late_supp"),
        # the published query counts late LINEITEM rows, not orders: a
        # supplier late on 3 lines of one order scores 3
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("n_late_rows"),
    )
    waiting = per_order.where(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("late_supp", "n_late_rows")
    return (
        waiting.groupBy("late_supp")
        .agg(F.sum("n_late_rows").alias("numwait"))
        .join(F.broadcast(supplier), F.col("late_supp") == supplier.s_suppkey)
        .select(F.col("s_name").alias("supplier_name"), "numwait")
        .orderBy(F.desc("numwait"), F.asc("supplier_name"))
        .limit(100)
    )


QUERIES = {
    "tpch_q1": tpch_q1,
    "tpch_q3": tpch_q3,
    "tpch_q5": tpch_q5,
    "tpch_q6": tpch_q6,
    "tpch_q7": tpch_q7,
    "tpch_q10": tpch_q10,
    "tpch_q14": tpch_q14,
    "tpch_q8": tpch_q8,
    "tpch_q15": tpch_q15,
    "tpch_q22": tpch_q22,
    "tpch_q17": tpch_q17,
    "tpch_q18": tpch_q18,
    "tpch_q19": tpch_q19,
    "tpch_q2": tpch_q2,
    "tpch_q4": tpch_q4,
    "tpch_q9": tpch_q9,
    "tpch_q11": tpch_q11,
    "tpch_q12": tpch_q12,
    "tpch_q13": tpch_q13,
    "tpch_q16": tpch_q16,
    "tpch_q20": tpch_q20,
    "tpch_q21": tpch_q21,
}

ORACLE = {
    "tpch_q1": f"""
        SELECT l_returnflag, l_linestatus,
               {money_sum_sql('l_quantity')} AS sum_qty,
               {money_sum_sql('l_extendedprice')} AS sum_base_price,
               {money_sum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {money_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {money_avg_sql('l_quantity')} AS avg_qty,
               {money_avg_sql('l_extendedprice')} AS avg_price,
               {ratio_avg_sql('l_discount')} AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2
    """,
    "tpch_q3": f"""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
               {money_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "tpch_q5": f"""
        SELECT n_name AS nation,
               {money_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey AND r_name = 'EUROPE'
        GROUP BY 1
    """,
    "tpch_q6": f"""
        SELECT {money_sum_sql('l_extendedprice * l_discount')} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "tpch_q7": f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {money_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE sn.n_name IN ('NATION_3', 'NATION_8')
          AND cn.n_name IN ('NATION_3', 'NATION_8')
          AND sn.n_name != cn.n_name
        GROUP BY 1, 2, 3
    """,
    "tpch_q14": f"""
        SELECT round(
            100.0 * ({money_sum_sql(
                "CASE WHEN p_type LIKE 'ECONOMY%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
            )})
            / ({money_sum_sql('l_extendedprice * (1 - l_discount)')}), 4)
            AS economy_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-09-01'
          AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
    "tpch_q8": f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               round(
                   ({money_sum_sql(
                       "CASE WHEN sn.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
                   )})
                   / ({money_sum_sql('l_extendedprice * (1 - l_discount)')}), 6)
                   AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
        GROUP BY 1
    """,
    "tpch_q22": f"""
        WITH seg AS (SELECT * FROM customer WHERE c_nationkey < 10),
        avg_bal AS (
            SELECT {money_avg_sql('c_acctbal')} AS avg_bal
            FROM seg WHERE c_acctbal > 0.0
        )
        SELECT c_nationkey AS nation_key,
               count(*) AS n_customers,
               {money_sum_sql('c_acctbal')} AS total_balance
        FROM seg, avg_bal
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        GROUP BY 1
    """,
    "tpch_q15": f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {money_sum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY 1
        )
        SELECT s_suppkey AS supplier_id, s_name AS supplier_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "tpch_q17": f"""
        WITH brand_li AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#4'
        ),
        thresholds AS (
            SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_threshold
            FROM brand_li GROUP BY 1
        )
        SELECT round(({money_sum_sql('l_extendedprice')}) / 7.0, 2) AS avg_yearly
        FROM brand_li JOIN thresholds ON l_partkey = t_partkey
        WHERE l_quantity < qty_threshold
    """,
    "tpch_q18": f"""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
        )
        SELECT c_custkey AS customer_id, c_name AS customer_name,
               o_orderkey AS order_id, o_totalprice AS order_total, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "tpch_q19": f"""
        SELECT {money_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 50
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q10": f"""
        SELECT c_custkey AS user_id, c_name AS user_name, n_name AS user_country,
               {money_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_returnflag = 'R'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, user_id ASC
        LIMIT 20
    """,
    "tpch_q2": f"""
        WITH partsupp AS ({PARTSUPP_SQL}),
        asia_supp AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
        ),
        target_parts AS (
            SELECT p_partkey, p_brand
            FROM part WHERE p_size = 15 AND p_type = 'STANDARD'
        ),
        costs AS (
            SELECT ps_partkey, ps_suppkey, ps_supplycost
            FROM partsupp
            JOIN target_parts ON ps_partkey = p_partkey
            JOIN asia_supp ON ps_suppkey = s_suppkey
        )
        SELECT s_acctbal, s_name, n_name, ps_partkey AS part_id, p_brand,
               {money_round_sql('ps_supplycost')} AS supply_cost
        FROM costs
        JOIN asia_supp ON ps_suppkey = s_suppkey
        JOIN target_parts ON ps_partkey = p_partkey
        WHERE ps_supplycost = (SELECT min(ps_supplycost) FROM costs c2
                               WHERE c2.ps_partkey = costs.ps_partkey)
        ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, part_id ASC
        LIMIT 100
    """,
    "tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND CAST(l_shipdate AS DATE)
                            > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY)
        GROUP BY 1
    """,
    "tpch_q9": f"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               {money_sum_sql(
                   'l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity'
               )} AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
    """,
    "tpch_q11": f"""
        WITH partsupp AS ({PARTSUPP_SQL}),
        per_part AS (
            SELECT ps_partkey AS part_id,
                   sum(CAST(round(ps_supplycost * 100) AS BIGINT)
                       * ps_availqty) AS stock_cents
            FROM partsupp
            WHERE ps_suppkey IN (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3')
            GROUP BY 1
        )
        SELECT part_id, CAST(stock_cents AS DOUBLE) / 100 AS stock_value
        FROM per_part
        WHERE stock_cents > (SELECT CAST({Q11_MEAN_MULT} * CAST(sum(stock_cents) AS BIGINT)
                                         // count(*) AS BIGINT)
                             FROM per_part)
    """,
    "tpch_q12": """
        SELECT l_returnflag AS ship_group,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE CAST(l_shipdate AS DATE)
                  > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "tpch_q13": """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                 AND o_orderpriority != '4-NOT SPECIFIED'
            GROUP BY 1
        )
        GROUP BY 1
    """,
    "tpch_q16": f"""
        WITH partsupp AS ({PARTSUPP_SQL})
        SELECT p_brand, p_type, p_size,
               count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        WHERE p_brand != 'Brand#1' AND p_type != 'PROMO'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND ps_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
        GROUP BY 1, 2, 3
    """,
    "tpch_q20": f"""
        WITH partsupp AS ({PARTSUPP_SQL}),
        pair_qty AS (
            SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'blue%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY 1, 2
        )
        SELECT s_name AS supplier_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND s_suppkey IN (
              SELECT ps_suppkey FROM partsupp
              JOIN pair_qty ON ps_partkey = l_partkey
                           AND ps_suppkey = l_suppkey
              WHERE ps_availqty > 0.5 * pair_qty)
        ORDER BY supplier_name
    """,
    "tpch_q21": """
        SELECT s_name AS supplier_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders ON l1.l_orderkey = o_orderkey
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE o_orderstatus = 'F'
          AND CAST(l1.l_shipdate AS DATE)
                  > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey != l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey != l1.l_suppkey
                            AND CAST(l3.l_shipdate AS DATE)
                                    > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY)
        GROUP BY 1
        ORDER BY numwait DESC, supplier_name ASC
        LIMIT 100
    """,
}
