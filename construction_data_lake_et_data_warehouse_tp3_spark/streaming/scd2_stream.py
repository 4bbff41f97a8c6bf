"""Streaming SCD2 maintainer — the streaming twin of the batch type-2
dimension build (operators/statistics.scd2_user_state_history), in the
same pattern as the other streaming twins (dedup_stream /
anomaly_stream): the batch operator defines the semantics,
foreachBatch + MERGE makes them incremental.

Each micro-batch of change records (key, ts, state) is folded into a
persistent history table with [valid_from, valid_to) validity,
monotonically-increasing per-key versions, and exactly one open
(is_current) row per key:

1. in-batch change compaction (consecutive equal states collapse) —
   identical LAG discipline to the batch operator, (ts, seq) tie-break;
2. already-applied rows drop via an anti-join on (key, valid_from):
   foreachBatch's at-least-once replays become no-ops;
3. late rows (ts ≤ the open row's valid_from) drop — the watermark-style
   ordering contract; a reorder within one batch is fine (sorted there),
   only cross-batch time travel is refused;
4. a leading no-op change (state equal to the key's open state) drops;
5. survivors chain valid_to via LEAD, take version = open version + n,
   and the previously-open row is closed at the first survivor's
   valid_from — all published as ONE atomic MERGE keyed on
   (key, valid_from), so a crash between batches never leaves a
   half-applied transition.

Scale notes: everything shuffles on the key only (compaction windows,
the store join, the MERGE); per-batch state touched is bounded by the
keys present in the batch, and the store join is an equi-join the
optimizer can broadcast when the batch key set is small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..warehouse.merge import ParquetTable, merge_into

#: history-table columns (the batch operator's output schema, minus the
#: generic key which callers name per dimension)
_HISTORY_COLS = ("version", "state", "valid_from", "valid_to", "is_current")


class StreamingScd2:
    """Maintain a type-2 history table from a stream of change records."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        state_col: str = "state",
        seq_col: str | None = None,
        key_type: str = "long",
    ):
        self.spark = spark
        self.table = ParquetTable(spark, os.path.join(store_root, "scd2_history"))
        self.key = key_col
        self.ts = ts_col
        self.state = state_col
        self.seq = seq_col
        #: DDL type of the key column — only consulted for the empty
        #: bootstrap frame before the store's first commit (afterwards the
        #: store schema itself is authoritative)
        self.key_type = key_type

    # ------------------------------------------------------------------
    def _compact(self, batch: DataFrame) -> DataFrame:
        """In-batch change compaction: (key, ts[, seq])-sorted LAG drop of
        consecutive duplicates — the batch operator's exact discipline."""
        order = ["valid_from"] + (["seq"] if self.seq else [])
        w = Window.partitionBy("k").orderBy(*order)
        return (
            batch.select(
                F.col(self.key).alias("k"),
                F.col(self.ts).alias("valid_from"),
                F.col(self.state).alias("state"),
                *([F.col(self.seq).alias("seq")] if self.seq else []),
            )
            .withColumn("prev_state", F.lag("state").over(w))
            .where(
                F.col("prev_state").isNull()
                | (F.col("prev_state") != F.col("state"))
            )
            .drop("prev_state")
        )

    def _open_rows(self) -> DataFrame:
        if self.table.exists():
            return (
                self.table.read()
                .where("is_current")
                .select(
                    F.col(self.key).alias("k"),
                    F.col("state").alias("cur_state"),
                    F.col("valid_from").alias("cur_valid_from"),
                    F.col("version").alias("cur_version"),
                )
            )
        return self.spark.createDataFrame(
            [],
            f"k {self.key_type}, cur_state string,"
            " cur_valid_from timestamp, cur_version long",
        )

    # ------------------------------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        """Fold one micro-batch into the history; returns MERGEd rows
        (0 on a full replay — idempotent by construction)."""
        # a change with a NULL key or NULL timestamp cannot join a
        # per-key ordered history — the batch operator excludes such
        # rows (operators/statistics.py scd2_user_state_history, dirty
        # parity sweep), and before this guard the stream fold minted
        # NULL-keyed history rows the batch twin never produces
        batch = batch.where(
            F.col(self.key).isNotNull() & F.col(self.ts).isNotNull()
        )
        changes = self._compact(batch)
        if self.table.exists():
            applied = self.table.read().select(
                F.col(self.key).alias("k"), "valid_from"
            )
            changes = changes.join(applied, ["k", "valid_from"], "left_anti")
        cur = self._open_rows()
        changes = (
            changes.join(cur, "k", "left")
            # late rows: a change at/before the open row's start is a
            # cross-batch reorder — refuse it (ordering contract)
            .where(
                F.col("cur_valid_from").isNull()
                | (F.col("valid_from") > F.col("cur_valid_from"))
            )
        )
        order = ["valid_from"] + (["seq"] if self.seq else [])
        w = Window.partitionBy("k").orderBy(*order)
        survivors = (
            changes.withColumn("rn", F.row_number().over(w))
            # leading no-op: first new change restates the open state
            .where(
                ~(
                    (F.col("rn") == 1)
                    & F.col("cur_state").isNotNull()
                    & (F.col("state") == F.col("cur_state"))
                )
            )
            .withColumn("rn", F.row_number().over(w))  # re-rank post-drop
            .withColumn(
                "version", (F.coalesce("cur_version", F.lit(0)) + F.col("rn"))
            )
            .withColumn("valid_to", F.lead("valid_from").over(w))
            .withColumn("is_current", F.col("valid_to").isNull())
        )
        new_rows = survivors.select(
            F.col("k").alias(self.key), *_HISTORY_COLS
        )
        closings = (
            survivors.groupBy("k")
            .agg(
                F.min("valid_from").alias("valid_to"),
                F.first("cur_state").alias("state"),
                F.first("cur_valid_from").alias("valid_from"),
                F.first("cur_version").alias("version"),
            )
            .where(F.col("version").isNotNull())
            .select(
                F.col("k").alias(self.key),
                "version",
                "state",
                "valid_from",
                "valid_to",
                F.lit(False).alias("is_current"),
            )
        )
        upsert = new_rows.unionByName(closings)
        if upsert.isEmpty():
            return 0
        return merge_into(self.table, upsert, (self.key, "valid_from"))["upserted"]

    # ------------------------------------------------------------------
    def attach(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid) and None
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def history(self) -> DataFrame:
        """The full type-2 history (batch-operator column order)."""
        return self.table.read().select(self.key, *_HISTORY_COLS)
