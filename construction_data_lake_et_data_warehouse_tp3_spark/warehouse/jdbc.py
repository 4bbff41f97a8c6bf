"""JDBC escape hatch for the warehouse sync (VERDICT r1 §Missing #2).

The parquet-MERGE re-architecture is the default, but a user migrating
from the reference has an existing MySQL warehouse
(/root/reference/sync_to_mysql.py:117-131 connects, :133-232 DDL + row
upserts). `JdbcTable` implements the same three-method table protocol as
`ParquetTable` (exists/read/overwrite), so `merge_into` — and therefore
every sync_* function — runs IDENTICALLY against a JDBC database:

    kept   = jdbc-read target LEFT ANTI updates ON keys
    result = kept UNION updates          → parquet staging → jdbc overwrite

Upsert semantics live in merge_into, not in engine-specific
`ON DUPLICATE KEY UPDATE` SQL, which keeps the path portable to any
JDBC database (MySQL, Postgres, MariaDB) with zero server-side SQL.

Scale notes: reads partition on a numeric column when the caller passes
`partition_column` (otherwise single-connection — correct, small dim/fact
tables); writes batch through executors with `batchsize`. The
read-before-truncate hazard (JDBC overwrite truncates while the lazy
read still needs the rows) is closed by staging the merge result to
parquet BEFORE the overwrite starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..lake.observe import counted

#: CREATE TABLE statements mirroring the reference warehouse schema
#: (sync_to_mysql.py:133-232): same table names, columns, and key
#: constraints, for provisioning a fresh MySQL/MariaDB target. VARCHAR
#: sizes follow the reference; money columns stay DOUBLE per SURVEY §7
#: risk 2 (don't "improve" to DECIMAL in oracle-checked paths).
DDL = {
    "dim_users": """
        CREATE TABLE IF NOT EXISTS dim_users (
            user_id BIGINT PRIMARY KEY,
            user_name VARCHAR(255),
            user_email VARCHAR(255),
            user_country VARCHAR(100),
            user_city VARCHAR(100),
            updated_at TIMESTAMP NULL
        )""",
    "dim_payment_methods": """
        CREATE TABLE IF NOT EXISTS dim_payment_methods (
            payment_method_id BIGINT PRIMARY KEY,
            payment_method_name VARCHAR(100),
            updated_at TIMESTAMP NULL
        )""",
    "fact_user_transaction_summary": """
        CREATE TABLE IF NOT EXISTS fact_user_transaction_summary (
            user_id BIGINT,
            transaction_type VARCHAR(50),
            total_amount DOUBLE,
            transaction_count BIGINT,
            avg_amount DOUBLE,
            min_amount DOUBLE,
            max_amount DOUBLE,
            last_transaction_date TIMESTAMP NULL,
            snapshot_date DATE,
            snapshot_version INT,
            updated_at TIMESTAMP NULL,
            PRIMARY KEY (user_id, transaction_type, snapshot_date, snapshot_version)
        )""",
    "fact_user_transaction_summary_eur": """
        CREATE TABLE IF NOT EXISTS fact_user_transaction_summary_eur (
            user_id BIGINT,
            transaction_type VARCHAR(50),
            total_amount_eur DOUBLE,
            transaction_count BIGINT,
            avg_amount_eur DOUBLE,
            exchange_rate DOUBLE,
            snapshot_date DATE,
            snapshot_version INT,
            updated_at TIMESTAMP NULL,
            PRIMARY KEY (user_id, transaction_type, snapshot_date, snapshot_version)
        )""",
    "fact_payment_method_totals": """
        CREATE TABLE IF NOT EXISTS fact_payment_method_totals (
            payment_method_id BIGINT,
            payment_method_name VARCHAR(100),
            total_amount DOUBLE,
            transaction_count BIGINT,
            avg_amount DOUBLE,
            snapshot_date DATE,
            snapshot_version INT,
            updated_at TIMESTAMP NULL,
            PRIMARY KEY (payment_method_id, snapshot_date, snapshot_version)
        )""",
    "fact_product_purchase_counts": """
        CREATE TABLE IF NOT EXISTS fact_product_purchase_counts (
            product_id BIGINT,
            product_name VARCHAR(255),
            product_category VARCHAR(100),
            purchase_count BIGINT,
            total_revenue DOUBLE,
            avg_price DOUBLE,
            unique_buyers BIGINT,
            snapshot_date DATE,
            snapshot_version INT,
            updated_at TIMESTAMP NULL,
            PRIMARY KEY (product_id, snapshot_date, snapshot_version)
        )""",
}


class JdbcTable:
    """A JDBC-backed warehouse table satisfying the merge_into protocol."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        properties: dict[str, str] | None = None,
        partition_column: str | None = None,
        num_partitions: int = 8,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.properties = dict(properties or {})
        self.partition_column = partition_column
        self.num_partitions = num_partitions

    #: SQLStates / message fragments that mean "table absent" across the
    #: JDBC drivers this path targets (MySQL/MariaDB 42S02, Postgres
    #: 42P01, Spark's own analyzer wording). Anything else is a real
    #: failure: treating a network blip as "absent" would downgrade
    #: merge_into to truncate-and-insert and silently drop history.
    _MISSING_TABLE_MARKERS = (
        "42S02",
        "42P01",
        "doesn't exist",
        "does not exist",
        "not found",
        "no such table",
    )

    def exists(self) -> bool:
        """True when the remote table exists AND holds rows (an empty or
        absent table merges as a fresh insert, matching ParquetTable).
        Only a missing-table error maps to False; transient failures
        (network, auth) re-raise so the sync aborts instead of degrading
        to a destructive fresh-insert overwrite."""
        try:
            return len(self.read().take(1)) > 0
        except Exception as exc:  # noqa: BLE001 — classified below
            text = str(exc)
            if any(marker in text for marker in self._MISSING_TABLE_MARKERS):
                return False
            raise

    def read(self) -> DataFrame:
        reader = self.spark.read
        if self.partition_column:
            bounds = self.spark.read.jdbc(
                self.url,
                f"(SELECT min({self.partition_column}) lo,"
                f" max({self.partition_column}) hi FROM {self.table}) b",
                properties=self.properties,
            ).first()
            if bounds and bounds.lo is not None and bounds.lo != bounds.hi:
                return reader.jdbc(
                    self.url,
                    self.table,
                    column=self.partition_column,
                    lowerBound=bounds.lo,
                    upperBound=bounds.hi,
                    numPartitions=self.num_partitions,
                    properties=self.properties,
                )
        return reader.jdbc(self.url, self.table, properties=self.properties)

    def overwrite(self, df: DataFrame) -> int:
        """Stage durably, then truncate-overwrite; returns the rows the
        staging write counted as it wrote them. The merge result is
        derived from read() of this same table, and JDBC overwrite
        truncates the source the lazy plan still needs. A block-cache
        persist() is NOT enough — losing cached blocks mid-write would
        recompute lineage against the already-truncated table — so the
        result is written to a parquet staging dir and re-read from disk,
        fully detaching it from the remote table before the truncate.
        truncate=true keeps the server-side DDL (keys, types) instead of
        dropping the table."""
        import shutil
        import tempfile

        staging = tempfile.mkdtemp(prefix="tp3_jdbc_stage_")
        try:
            out, obs = counted(df)
            out.write.mode("overwrite").parquet(staging)
            staged = self.spark.read.parquet(staging)
            (
                staged.write.mode("overwrite")
                .option("truncate", "true")
                .jdbc(self.url, self.table, properties=self.properties)
            )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return obs.get["records"]
