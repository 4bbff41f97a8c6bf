"""Incremental cardinality sketch — the streaming twin of
operators/sketches.kmv_distinct_users: a per-group KMV sketch (K
independent hash minima) maintained across micro-batches.

This maintainer needs NO replay ledger, unlike rollup_stream's
partial-aggregate MERGE: its state is an IDEMPOTENT commutative monoid
(elementwise min), so re-folding the same batch is algebraically a
no-op — least(m, m) = m — and at-least-once delivery gives exactly-once
results for free.  That contrast is the point of the pair:

  - sums (rollup_stream)  → partials keyed by batch_id + applied ledger
  - mins (this module)    → blind fold, replay-safe by algebra

Per batch: one map-side-combinable aggregation of the batch's OWN rows
to per-group minima (K int64s per group), then a union+min fold with
the tiny store (O(groups) rows) and an atomic overwrite.  User ids are
never shuffled and never stored — the store holds only hash minima, so
it is also privacy-friendlier than a distinct-user ledger.

Batch/stream parity is asserted in tests/test_sketch_stream.py: the
two-batch incremental fold must equal operators/sketches' one-shot
batch estimate bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import KMV_K, _est, _h
from ..warehouse.merge import ParquetTable


class StreamingCardinality:
    """Per-group distinct-count sketch folded incrementally."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        group_col: str = "event_type",
    ):
        self.spark = spark
        self.group = group_col
        self.store = ParquetTable(spark, os.path.join(store_root, "kmv"))

    # ------------------------------------------------------------------
    def _sketch_of(self, batch: DataFrame) -> DataFrame:
        mins = [
            F.min(F.expr(_h(j, "spark"))).alias(f"m{j}") for j in range(KMV_K)
        ]
        return batch.groupBy(self.group).agg(*mins)

    def process_batch(self, batch: DataFrame, batch_id: int) -> int:
        """Fold one micro-batch's sketch into the store.  Replays are
        no-ops by idempotence, not by bookkeeping.  Returns the store's
        group count."""
        fresh = self._sketch_of(batch)
        if self.store.exists():
            fresh = (
                self.store.read()
                .unionByName(fresh)
                .groupBy(self.group)
                .agg(*[F.min(f"m{j}").alias(f"m{j}") for j in range(KMV_K)])
            )
        return self.store.overwrite(fresh)

    # ------------------------------------------------------------------
    def estimates(self) -> DataFrame:
        """Serving view: per-group distinct estimate from the store."""
        sum_mins = " + ".join(f"m{j}" for j in range(KMV_K))
        return self.store.read().select(
            self.group, F.expr(_est(sum_mins)).alias("est_distinct")
        )

    def attach(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid) and None
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
