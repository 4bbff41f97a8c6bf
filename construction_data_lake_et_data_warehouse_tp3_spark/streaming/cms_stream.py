"""Incremental count-min sketch — the streaming FREQUENCY twin that
completes the sketch family's continuous story (sketch_stream = KMV
cardinality, this = CMS counts/heavy-hitters; batch twin
operators/pipelines.cms_heavy_hitters).

CMS cells are SUMS, so unlike the min-monoid sketches a replayed batch
WOULD double-count — this maintainer therefore uses the partials+ledger
discipline (rollup_stream): per-batch cell increments MERGE
keyed (d, bucket, batch_id) and an applied-batch ledger short-circuits
replays; estimates fold the partials at read time, and compact() folds
history into one sentinel row per cell so state stays at the grid size
(DEPTH×WIDTH counters) forever.

The bucket derivation is IMPORTED from the batch operator (not
reimplemented), so a stream fold over any batch split equals the batch
sketch bit-for-bit — proven differentially in tests/test_cms_stream.py.

Scale: per batch one token aggregation (map-side combinable) + a
DEPTH×|distinct batch tokens| increment frame collapsing to ≤ DEPTH×WIDTH
cells; the store rewrite is the plain-parquet MERGE trade-off
(warehouse/merge.py notes). estimate() is a broadcast of probe rows
against the grid — the grid is 32 KB at ANY corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pipelines import _CMS_BUCKET, CMS_DEPTH
from ..warehouse.merge import ParquetTable, merge_into
from .warehouse_sink import batch_applied

#: sentinel batch_id for compacted rows (real batch ids are ≥ 0)
_COMPACTED = -1


class StreamingCountMin:
    """Exactly-once incremental CMS over micro-batches of (token) rows
    (pass any frame with a `token` column; weights via `n` column)."""

    def __init__(self, spark: SparkSession, store_root: str):
        self.spark = spark
        self.cells = ParquetTable(spark, os.path.join(store_root, "cells"))
        self.applied = ParquetTable(spark, os.path.join(store_root, "applied"))

    def process_batch(self, tokens: DataFrame, batch_id: int) -> int:
        """Fold one micro-batch of token rows; replays are no-ops.
        Returns the number of (d, bucket) cells the batch touched."""
        if batch_applied(self.applied, batch_id):
            return 0
        counts = tokens.groupBy("token").agg(F.count("*").alias("n"))
        incr = (
            counts.withColumn(
                "d", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})"))
            )
            .withColumn("bucket", F.expr(_CMS_BUCKET))
            .groupBy("d", "bucket")
            .agg(F.expr("CAST(sum(n) AS BIGINT)").alias("cell"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        n = merge_into(self.cells, incr, ("d", "bucket", "batch_id"))["upserted"]
        ledger = self.spark.createDataFrame([(batch_id,)], "batch_id long")
        merge_into(self.applied, ledger, ("batch_id",))
        return n

    # ------------------------------------------------------------------
    def grid(self) -> DataFrame:
        """Folded (d, bucket, cell) grid across all applied batches."""
        if not self.cells.exists():
            return self.spark.createDataFrame(
                [], "d int, bucket bigint, cell bigint"
            )
        return (
            self.cells.read()
            .groupBy("d", "bucket")
            .agg(F.expr("CAST(sum(cell) AS BIGINT)").alias("cell"))
        )

    def estimate(self, tokens: DataFrame) -> DataFrame:
        """CMS estimate per probe token (min over the DEPTH rows) — the
        same probe expression as the batch operator."""
        probes = tokens.select("token").distinct().withColumn(
            "d", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})"))
        ).withColumn("bucket", F.expr(_CMS_BUCKET))
        return (
            probes.join(F.broadcast(self.grid()), ["d", "bucket"], "left")
            .groupBy("token")
            .agg(
                F.expr("CAST(min(coalesce(cell, 0)) AS BIGINT)").alias(
                    "cms_estimate"
                )
            )
        )

    def compact(self) -> int:
        """Fold per-batch partials into one sentinel row per cell; the
        ledger keeps replays of compacted batches short-circuited.

        Only LEDGERED partials fold into the sentinel: a batch that
        crashed between the cells merge and the applied merge in
        process_batch has partials but no ledger row, and its replay
        passes the batch_applied check — folding those partials would
        double-count the batch once the replay re-merges them.  Such
        unledgered rows keep their (d, bucket, batch_id) identity so
        the replay's merge_into overwrites them idempotently."""
        if not self.cells.exists():
            return 0
        cells = self.cells.read()
        applied = (
            self.applied.read()
            if self.applied.exists()
            else self.spark.createDataFrame([], "batch_id long")
        )
        sentinel = F.col("batch_id") == _COMPACTED
        ledgered = cells.where(sentinel).unionByName(
            cells.where(~sentinel).join(
                F.broadcast(applied), "batch_id", "left_semi"
            )
        )
        unledgered = cells.where(~sentinel).join(
            F.broadcast(applied), "batch_id", "left_anti"
        )
        folded = (
            ledgered.groupBy("d", "bucket")
            .agg(F.expr("CAST(sum(cell) AS BIGINT)").alias("cell"))
            .withColumn("batch_id", F.lit(_COMPACTED).cast("long"))
        )
        return self.cells.overwrite(
            folded.unionByName(unledgered.select("d", "bucket", "cell", "batch_id"))
        )

    def attach(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
