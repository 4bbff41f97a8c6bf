"""Continuous aggregate — the streaming twin of the batch hypertable
rollup (operators/analytics.time_bucket_rollup): an hour-grain
materialized aggregate maintained incrementally by foreachBatch, exact
under at-least-once replays.

The exactly-once trick is PARTIAL-AGGREGATE MERGE, not blind addition:

1. each micro-batch aggregates map-side to per-(bucket) partial sums
   (COUNT, BIGINT cents) — commutative/associative state, so partials
   compose in any order;
2. partials land keyed on (bucket, batch_id) — a replayed batch
   OVERWRITES its own identical partial row instead of double-counting
   (blind `existing + delta` addition is wrong under at-least-once);
3. an `applied` ledger of batch ids short-circuits full replays;
4. the serving view sums partials per bucket — O(buckets × batches)
   rows, bounded by `compact()` which folds history into one row per
   bucket under a sentinel batch_id while the ledger keeps replayed
   batches skippable.

Crash safety: partials MERGE lands before the ledger append; a crash
between them re-merges identical rows on replay (idempotent by key) and
then completes the ledger. Scale: per-batch shuffle is on the bucket key
of the batch's own data only; the store join is MERGE's key equi-join;
nothing rescans history except compact(), which is itself one
bucket-keyed aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..warehouse.merge import ParquetTable, merge_into
from .warehouse_sink import batch_applied

#: sentinel batch_id for compacted history rows (real batch ids are ≥ 0)
_COMPACTED = -1


class StreamingRollup:
    """Incrementally-maintained hour-grain continuous aggregate."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        ts_col: str = "ts",
        value_col: str = "value",
        grain: str = "hour",
    ):
        self.spark = spark
        self.partials = ParquetTable(spark, os.path.join(store_root, "partials"))
        self.applied = ParquetTable(spark, os.path.join(store_root, "applied"))
        self.ts = ts_col
        self.value = value_col
        self.grain = grain

    # ------------------------------------------------------------------
    def _partials_of(self, batch: DataFrame, batch_id: int) -> DataFrame:
        return (
            batch.groupBy(
                F.date_trunc(self.grain, self.ts).alias("bucket")
            )
            .agg(
                F.count("*").alias("n_rows"),
                # nanvl (ADVICE/ask r8 dirty sweep): a NaN measure made
                # this CAST raise under ANSI and abort the micro-batch;
                # NaN quarantines to NULL cents (counted row, skipped
                # sum) — the money helpers' posture
                F.sum(
                    F.expr(
                        "CAST(round(nanvl("
                        f"{self.value}, CAST(NULL AS DOUBLE)) * 100)"
                        " AS BIGINT)"
                    )
                ).alias("total_cents"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> int:
        """Fold one micro-batch into the aggregate; replays are no-ops."""
        if batch_applied(self.applied, batch_id):
            return 0
        upserted = merge_into(
            self.partials, self._partials_of(batch, batch_id), ("bucket", "batch_id")
        )["upserted"]
        ledger = self.spark.createDataFrame([(batch_id,)], "batch_id long")
        merge_into(self.applied, ledger, ("batch_id",))
        return upserted

    # ------------------------------------------------------------------
    def rollup(self) -> DataFrame:
        """The serving view: per-bucket totals across all partials."""
        return (
            self.partials.read()
            .groupBy("bucket")
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("total_cents").alias("total_cents"),
            )
        )

    def compact(self) -> int:
        """Fold per-batch partials into one sentinel row per bucket;
        the ledger still short-circuits replays of folded batches.
        Returns the resulting partial-row count."""
        folded = self.rollup().withColumn(
            "batch_id", F.lit(_COMPACTED).cast("long")
        )
        return self.partials.overwrite(
            folded.select("bucket", "n_rows", "total_cents", "batch_id")
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
