"""Set-oriented MERGE/upsert for parquet-backed warehouse tables
(SURVEY §2.5 #32-38).

The reference upserts row-by-row over the network — one
`INSERT … ON DUPLICATE KEY UPDATE` per DataFrame row
(/root/reference/sync_to_mysql.py:133-232, iterrows at :237,263,287,304).
Here a MERGE of a change set (upserts plus delete keys) is one
distributed write job:

    kept   = target LEFT ANTI (upsert keys ∪ delete keys) ON keys
    result = kept UNION (upserts LEFT ANTI delete keys)

committed as the table's next snapshot through the lake's transaction
log (lake/transaction.py): the new state is staged in a fresh directory
and published by one manifest rename, so a crash at any step leaves
either the old or the new state readable, never neither. Matched rows
are replaced wholesale, exactly like the reference's ON-DUPLICATE column
lists which update every non-key column (+ updated_at).

Scale notes:
- One rewrite per change set: upserts and deletes land in the same
  snapshot, and the upserted and deleted counts are Observations on
  that write job — no job runs only to count.
- The anti-joins shuffle on the merge keys only; with a small change
  set Spark broadcasts it and the target scan never shuffles.
- Rewrite cost is O(target) per merge — the plain-parquet trade-off. At
  100 TB you partition the target (e.g. by snapshot_date) so a commit
  rewrites only affected partitions, or list data files in the manifest
  so MERGE rewrites matched files only (the Delta Lake design); the
  call-site API here stays the same.
- Exactly-once: merge is idempotent on keys — re-running the same batch
  yields the same table state (asserted in tests; upgrade over the
  reference's at-least-once consumer, SURVEY §2.9 #62).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..lake.transaction import Lakehouse

#: a ParquetTable's name inside its own Lakehouse
_TABLE = "data"
_OP = "__merge_op"  # merge_into's row tag: "upsert", "delete" or null (kept)


class ParquetTable:
    """A parquet-backed managed table: the single table of a `Lakehouse`
    rooted at `path`, so every overwrite is one transaction-log commit."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.lakehouse = Lakehouse(spark, path)

    @property
    def path(self) -> str:
        """The committed directory the latest snapshot resolves to: plain
        parquet that any reader can scan without the log. KeyError if the
        table has never been written."""
        return self.lakehouse.tables()[_TABLE]

    def exists(self) -> bool:
        return _TABLE in self.lakehouse.tables()

    def read(self) -> DataFrame:
        return self.lakehouse.read(_TABLE)

    def overwrite(self, df: DataFrame) -> int:
        """Commit df as the table's next snapshot, then delete the state
        it replaced (staging of crashed writers is kept for vacuum's
        default crash window); returns the rows the write job wrote. A
        caller that reads df again afterwards must persist it first: df
        may read the snapshot the vacuum deletes."""
        txn = self.lakehouse.begin()
        written = txn.write(_TABLE, df)
        txn.commit()
        self.lakehouse.vacuum(keep_snapshots=1)
        return written


def dedupe_updates(
    updates: DataFrame, keys: Sequence[str], order_by: str | None = None
) -> DataFrame:
    """Keep one row per key (latest by order_by desc, else arbitrary-but-
    deterministic via all-column ordering) — the reference applies updates
    in row order so 'last write wins' (sync_to_mysql.py:237)."""
    ordering = (
        [F.desc(order_by)] if order_by else [F.desc(c) for c in updates.columns]
    )
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


class SchemaMismatchError(ValueError):
    """Raised when updates are missing columns the target table carries —
    the explicit failure the reference lacks (its positional rename guard
    silently leaves integer column names on drift, sync_to_mysql.py:112;
    SURVEY §1.3 requires enforcement at the warehouse boundary)."""


def merge_into(
    table: ParquetTable,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: str | None = None,
    stamp_updated_at: bool = True,
    deletes: DataFrame | None = None,
) -> dict[str, int]:
    """MERGE updates into table on keys, and drop the keys of `deletes`
    (any frame carrying the key columns), in one rewrite; returns
    {"upserted": n, "deleted": n}. A key in both ends up deleted, and
    only target rows count as deleted, so a replay deletes 0.

    Equivalent to `INSERT … ON DUPLICATE KEY UPDATE <all non-key cols>,
    updated_at = CURRENT_TIMESTAMP` (sync_to_mysql.py:137-142), plus a
    `DELETE … WHERE key IN deletes`, in one transaction.

    Schema policy: updates may ADD columns (target backfills null) but may
    not DROP columns the target has — that's schema drift and raises."""
    missing_keys = [k for k in keys if k not in updates.columns]
    if missing_keys:
        raise SchemaMismatchError(f"updates missing merge key columns {missing_keys}")
    upsert_keys = updates.select(*keys)
    updates = dedupe_updates(updates, keys, order_by)
    if stamp_updated_at:
        updates = updates.withColumn("updated_at", F.current_timestamp())
    if deletes is not None:  # a key in both is deleted
        deletes = deletes.select(*keys)
        upsert_keys = upsert_keys.join(deletes, list(keys), "left_anti")
        updates = updates.join(deletes, list(keys), "left_anti")

    if table.exists():
        target = table.read()
        dropped = [
            c for c in target.columns if c not in updates.columns and c != "updated_at"
        ]
        if dropped:
            raise SchemaMismatchError(
                f"updates missing target columns {dropped}; explicit schema "
                f"evolution only (add columns, never silently drop)"
            )
        for col in updates.columns:  # schema evolution: add new columns as null
            if col not in target.columns:
                target = target.withColumn(col, F.lit(None).cast(updates.schema[col].dataType))
        if "updated_at" in target.columns and "updated_at" not in updates.columns:
            # stamp_updated_at=False on a previously-stamped target: carry
            # each matched row's EXISTING stamp forward (the reference's
            # ON DUPLICATE KEY UPDATE refreshes or preserves the stamp,
            # never nulls it — sync_to_mysql.py:137-142); genuinely new
            # rows were never stamped and stay null.
            existing = target.select(
                *keys, F.col("updated_at").alias("__prev_updated_at")
            )
            updates = (
                updates.join(existing, list(keys), "left")
                .withColumn("updated_at", F.col("__prev_updated_at"))
                .drop("__prev_updated_at")
            )
        # no broadcast hint: micro-batch updates auto-broadcast under the
        # session threshold, backfill-sized updates fall back to shuffle
        kept = target.select(*updates.columns).join(upsert_keys, list(keys), "left_anti")
        if deletes is None:
            kept = kept.withColumn(_OP, F.lit(None).cast("string"))
        else:  # rows of deleted keys are tagged, counted, then dropped;
            # one tag per key, or a key listed twice would double its row
            tags = deletes.distinct().withColumn(_OP, F.lit("delete"))
            kept = kept.join(tags, list(keys), "left")
        rows = kept.unionByName(updates.withColumn(_OP, F.lit("upsert")))
    else:
        rows = updates.withColumn(_OP, F.lit("upsert"))

    obs = Observation()  # over the union: AQE drops a join it finds empty
    rows = rows.observe(
        obs,
        F.count_if(F.col(_OP) == "upsert").alias("upserted"),
        F.count_if(F.col(_OP) == "delete").alias("deleted"),
    )
    table.overwrite(rows.where(~F.col(_OP).eqNullSafe("delete")).drop(_OP))
    return obs.get
