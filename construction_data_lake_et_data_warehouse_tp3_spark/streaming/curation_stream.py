"""Continuous corpus curation — the streaming twin of the batch quality
gate + exact-dedup survivorship (operators/quality.py + curation.py), the
same composition dedup_stream.py gives MinHash LSH.

The reference ingests feeds continuously (kafka_consumer_datalake.py)
with only per-record validation; a training-data pipeline additionally
needs every arriving document quality-gated and deduplicated against
EVERYTHING already accepted, not just the current batch. Per micro-batch:

1. gate: operators.quality.quality_signals — the exact batch expression
   set, imported not reimplemented, so batch and stream can never drift.
2. within-batch survivorship: min doc_id per content hash (md5).
3. cross-batch survivorship: a persistent (h, doc_id) content-hash store;
   a document whose hash is already claimed by ANOTHER doc_id is dropped,
   while the recorded survivor itself passes again on replay — so
   foreachBatch's at-least-once replays emit an identical kept set.
4. MERGE new hashes (keyed h) and kept documents (keyed doc_id).

Scale notes: the gate is map-only; survivorship shuffles 32-byte hash
keys only; the store MERGEs are the plain-parquet trade-off documented in
warehouse/merge.py — at 100 TB back them with a store partitioned by
hash prefix so each batch rewrites only touched partitions."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import quality_signals
from ..warehouse.merge import ParquetTable, merge_into

#: audit columns persisted for every kept document.
KEPT_COLUMNS = ("doc_id", "n_words", "mean_word_len", "symbol_ratio")


class StreamingCurator:
    """Persistent-state incremental quality gate + exact dedup over
    micro-batches of (doc_id, text) rows."""

    def __init__(self, spark: SparkSession, store_root: str):
        self.spark = spark
        self.hash_table = ParquetTable(spark, os.path.join(store_root, "content_hashes"))
        self.kept_table = ParquetTable(spark, os.path.join(store_root, "kept_docs"))

    # ---- state views ----------------------------------------------------

    def content_hashes(self) -> DataFrame:
        if self.hash_table.exists():
            return self.hash_table.read()
        return self.spark.createDataFrame([], "h string, doc_id long")

    def kept_docs(self) -> DataFrame:
        if self.kept_table.exists():
            return self.kept_table.read()
        return self.spark.createDataFrame(
            [], "doc_id long, n_words int, mean_word_len double, symbol_ratio double"
        )

    # ---- the foreachBatch body ------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        """Gate, dedup, and MERGE one micro-batch; returns the number of
        documents kept from this batch (stable under replay)."""
        passed = quality_signals(batch).where("keep").withColumn("h", F.md5("text"))
        # within-batch survivor: smallest doc_id per content hash
        winners = passed.join(
            passed.groupBy("h").agg(F.min("doc_id").alias("doc_id")).select("h", "doc_id"),
            ["h", "doc_id"],
        )
        # cross-batch: drop docs whose hash is claimed by a DIFFERENT doc;
        # the recorded survivor passes again, making replays idempotent
        store = self.content_hashes().select("h", F.col("doc_id").alias("owner_id"))
        survivors = (
            winners.join(store, "h", "left")
            .where(F.col("owner_id").isNull() | (F.col("owner_id") == F.col("doc_id")))
            .drop("owner_id")
            # sever the lineage from the store's parquet files BEFORE the
            # MERGE below deletes them (each commit vacuums the state it
            # replaced) — a lazy plan would re-list vanished files at the
            # second merge
            .localCheckpoint(eager=True)
        )
        merge_into(
            self.hash_table,
            survivors.select("h", "doc_id"),
            ["h"],
            stamp_updated_at=False,
        )
        kept = survivors.select(*KEPT_COLUMNS)
        merge_into(self.kept_table, kept, ["doc_id"], stamp_updated_at=False)
        return kept.count()

    # ---- streaming attachment -------------------------------------------

    def attach(self, stream: DataFrame, checkpoint: str):
        """Wire onto a streaming DataFrame of (doc_id, text) rows:
        checkpointed foreachBatch, replay-idempotent by construction."""
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
