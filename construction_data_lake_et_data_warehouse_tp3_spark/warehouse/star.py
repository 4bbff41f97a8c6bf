"""Star-schema warehouse sync (SURVEY §2.5 #32-38, §3.2).

Rebuilds the reference's ksqlDB→MySQL sync (sync_to_mysql.py:326-352) as
one distributed job per table: read the aggregate, project the dim/fact
payload, attach snapshot tags, MERGE. Dim misses surface as a returned
left-anti DataFrame (all at once) instead of a ValueError on the first
bad row (sync_to_mysql.py:150-151 — SURVEY §7 risk 1).

Schema (FIXTURES.md §3):
  dim_users(user_id PK) ← fact_user_transaction_summary,
                          fact_user_transaction_summary_eur
  dim_payment_methods(payment_method_id PK) ← fact_payment_method_totals
  fact_product_purchase_counts(product_id PK)
Fact merge keys include (snapshot_date, snapshot_version)
(sync_to_mysql.py:154-232; tags :336).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates, joins
from .merge import ParquetTable, merge_into

#: table name -> merge keys (inferred from ON-DUPLICATE column lists,
#: FIXTURES.md §3).
WAREHOUSE_TABLES = {
    "dim_users": ("user_id",),
    "dim_payment_methods": ("payment_method_id",),
    "fact_user_transaction_summary": (
        "user_id",
        "transaction_type",
        "snapshot_date",
        "snapshot_version",
    ),
    "fact_user_transaction_summary_eur": (
        "user_id",
        "transaction_type",
        "snapshot_date",
        "snapshot_version",
    ),
    "fact_payment_method_totals": (
        "payment_method_id",
        "snapshot_date",
        "snapshot_version",
    ),
    "fact_product_purchase_counts": (
        "product_id",
        "snapshot_date",
        "snapshot_version",
    ),
}


def _tag(df: DataFrame, snapshot_version: int) -> DataFrame:
    """Attach snapshot tags (#17: sync_to_mysql.py:336)."""
    return df.withColumn("snapshot_date", F.current_date()).withColumn(
        "snapshot_version", F.lit(snapshot_version)
    )


class Warehouse:
    """Star schema over a pluggable table backend.

    mode="parquet" (default): one ParquetTable dir per table under root.
    mode="jdbc": the migrating-user escape hatch (VERDICT r1 §Missing #2)
    — every table is a JdbcTable against `jdbc_url` (e.g. the reference's
    MySQL, sync_to_mysql.py:117-131), and the identical merge_into logic
    runs against it; no server-side upsert SQL."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        mode: str = "parquet",
        jdbc_url: str | None = None,
        jdbc_properties: dict[str, str] | None = None,
    ):
        if mode not in ("parquet", "jdbc"):
            raise ValueError(f"unknown warehouse mode {mode!r}")
        if mode == "jdbc" and not jdbc_url:
            raise ValueError("mode='jdbc' requires jdbc_url")
        self.spark = spark
        self.root = root
        self.mode = mode
        self.jdbc_url = jdbc_url
        self.jdbc_properties = jdbc_properties
        if mode == "parquet":
            os.makedirs(root, exist_ok=True)

    def table(self, name: str):
        if name not in WAREHOUSE_TABLES:
            raise KeyError(f"unknown warehouse table {name!r}")
        if self.mode == "jdbc":
            from .jdbc import JdbcTable

            return JdbcTable(self.spark, self.jdbc_url, name, self.jdbc_properties)
        return ParquetTable(self.spark, os.path.join(self.root, name))

    def read(self, name: str) -> DataFrame:
        return self.table(name).read()


def sync_user_summary(
    wh: Warehouse, summary: DataFrame, snapshot_version: int, eur: bool = False
) -> dict[str, int]:
    """#32+#33/#34: upsert dim_users from the summary's user attributes,
    then merge the fact rows (sync_to_mysql.py:236-282)."""
    dim = summary.select(
        "user_id", "user_name", "user_email", "user_country", "user_city"
    ).dropDuplicates(["user_id"])
    n_dim = merge_into(wh.table("dim_users"), dim, WAREHOUSE_TABLES["dim_users"])["upserted"]

    fact_name = (
        "fact_user_transaction_summary_eur" if eur else "fact_user_transaction_summary"
    )
    fact_cols = (
        ["user_id", "transaction_type", "total_amount_eur", "transaction_count",
         "avg_amount_eur", "exchange_rate"]
        if eur
        else ["user_id", "transaction_type", "total_amount", "transaction_count",
              "avg_amount", "min_amount", "max_amount", "last_transaction_date"]
    )
    fact = _tag(summary.select(*fact_cols), snapshot_version)
    n_fact = merge_into(wh.table(fact_name), fact, WAREHOUSE_TABLES[fact_name])["upserted"]
    return {"dim_users": n_dim, fact_name: n_fact}


def sync_payment_totals(
    wh: Warehouse, totals: DataFrame, dim: DataFrame, snapshot_version: int
) -> dict[str, int]:
    """#35 + #23: resolve payment_method name → id via broadcast join; the
    anti-join miss set is returned to the caller by check_fk_misses()."""
    n_dim = merge_into(
        wh.table("dim_payment_methods"), dim, WAREHOUSE_TABLES["dim_payment_methods"]
    )["upserted"]
    fact = _tag(
        totals.join(F.broadcast(dim), "payment_method_name").select(
            "payment_method_id",
            "payment_method_name",
            "total_amount",
            "transaction_count",
            "avg_amount",
        ),
        snapshot_version,
    )
    n_fact = merge_into(
        wh.table("fact_payment_method_totals"),
        fact,
        WAREHOUSE_TABLES["fact_payment_method_totals"],
    )["upserted"]
    return {"dim_payment_methods": n_dim, "fact_payment_method_totals": n_fact}


def check_fk_misses(facts: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """All FK misses at once (left anti) — replaces the reference's raise
    on first miss (sync_to_mysql.py:150-151)."""
    return facts.join(dim, key, "left_anti")


def sync_product_counts(
    wh: Warehouse, counts: DataFrame, snapshot_version: int
) -> dict[str, int]:
    """#36 fact_product_purchase_counts merge (sync_to_mysql.py:214-232)."""
    fact = _tag(
        counts.select(
            "product_id", "product_name", "product_category", "purchase_count",
            "total_revenue", "avg_price", "unique_buyers",
        ),
        snapshot_version,
    )
    n = merge_into(
        wh.table("fact_product_purchase_counts"),
        fact,
        WAREHOUSE_TABLES["fact_product_purchase_counts"],
    )["upserted"]
    return {"fact_product_purchase_counts": n}


def sync_warehouse_atomic(
    spark: SparkSession, sf_dir: str, root: str, snapshot_version: int = 1
) -> tuple[dict[str, int], int]:
    """The full sync pass with CROSS-TABLE atomicity: every MERGE stages
    into one Lakehouse transaction and a single manifest commit publishes
    all five tables at once — the lake-side equivalent of the InnoDB
    transaction the reference's MySQL sync gets for free
    (sync_to_mysql.py:117-142). A reader can never observe dim_users
    updated while its fact tables are still mid-sync, and a crash
    mid-sync leaves only invisible staging. Returns (per-table merge
    counts, snapshot number)."""
    from ..lake.transaction import Lakehouse, TxnTable

    txn = Lakehouse(spark, root).begin()

    class _TxnWarehouse:
        def table(self, name: str):
            if name not in WAREHOUSE_TABLES:
                raise KeyError(f"unknown warehouse table {name!r}")
            return TxnTable(txn, name)

        def read(self, name: str) -> DataFrame:
            return self.table(name).read()

    out = _run_sync(spark, sf_dir, _TxnWarehouse(), snapshot_version)
    return out, txn.commit()


def sync_warehouse(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    snapshot_version: int = 1,
    mode: str = "parquet",
    jdbc_url: str | None = None,
    jdbc_properties: dict[str, str] | None = None,
) -> dict[str, int]:
    """Full sync pass — the engine's `sync_tables --all`
    (sync_to_mysql.py:326-352), one Spark job per MERGE, zero per-row
    round-trips. mode="jdbc" + jdbc_url targets an existing JDBC
    warehouse (reference MySQL) through the same merge logic."""
    wh = Warehouse(
        spark, root, mode=mode, jdbc_url=jdbc_url, jdbc_properties=jdbc_properties
    )
    return _run_sync(spark, sf_dir, wh, snapshot_version)


def _run_sync(spark, sf_dir, wh, snapshot_version) -> dict[str, int]:
    """The four sync stages against any table-provider (Warehouse or the
    transactional adapter in sync_warehouse_atomic)."""
    out: dict[str, int] = {}
    out.update(
        sync_user_summary(
            wh, aggregates.user_transaction_summary(spark, sf_dir), snapshot_version
        )
    )
    eur = aggregates.user_transaction_summary_eur(spark, sf_dir)
    out.update(sync_user_summary(wh, eur, snapshot_version, eur=True))

    totals = aggregates.payment_method_totals(spark, sf_dir).withColumnRenamed(
        "payment_method", "payment_method_name"
    )
    dim = joins.payment_method_dim(spark, sf_dir)
    out.update(sync_payment_totals(wh, totals, dim, snapshot_version))

    out.update(
        sync_product_counts(
            wh, aggregates.product_purchase_counts(spark, sf_dir), snapshot_version
        )
    )
    return out
