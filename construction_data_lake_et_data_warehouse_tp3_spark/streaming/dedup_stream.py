"""Incremental (streaming) near-duplicate detection — the continuous twin
of operators.dedup (VERDICT r2 §Next round #4).

The reference ingests continuously (kafka_consumer_datalake.py:59-66) but
has no dedup story at all; the batch MinHash+LSH operators here
(operators/dedup.py) cover the one-shot case. A 100 TB training-data
pipeline ingests forever, so near-dup detection must be incremental:
each micro-batch's documents are signed with the SAME hash family /
banding / bucket cap as the batch path (`_band_signatures` is imported,
not reimplemented, so the two can never drift) and merged into a
persistent signature store; candidate pairs are emitted exactly once.

Per micro-batch:

1. sign: (doc_id, band, sig) rows for the batch — map-side fold, no
   shuffle (see _band_signatures).
2. MERGE signatures into the store keyed (band, sig, doc_id) —
   idempotent under Structured Streaming's at-least-once foreachBatch
   replay.
3. expand candidates ONLY for buckets the batch touched: store members
   of touched (band, sig) buckets → per-bucket pair expansion, with
   LSH_BUCKET_CAP applied to the bucket's TOTAL membership (consistent
   with the batch operator: an oversized bucket is a non-discriminative
   signature, and capping keeps per-batch work linear forever).
4. MERGE pairs keyed (doc_a, doc_b): a pair re-found by a later batch
   (or a replayed one) never duplicates.

Scale notes: per-batch cost is O(batch × shingles) map-side + a join
against the touched buckets only; the store rewrite is the plain-parquet
MERGE trade-off (merge.py scale notes) — at 100 TB back the two tables
with a partitioned/Delta store keyed by (band, sig-prefix) so the MERGE
touches only affected partitions; call sites are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import LSH_BUCKET_CAP, _band_signatures
from ..warehouse.merge import ParquetTable, merge_into

#: per-bucket pair expansion over a sorted doc_id array (same expression
#: shape as operators.dedup.minhash_lsh_candidates).
_PAIR_EXPR = (
    "flatten(transform(sequence(1, size(ds) - 1), "
    "i -> transform(slice(ds, i + 1, size(ds) - i), "
    "b -> struct(element_at(ds, i) AS doc_a, b AS doc_b))))"
)


class StreamingDeduper:
    """Persistent-state incremental LSH dedup over micro-batches of
    (doc_id, text) rows."""

    def __init__(self, spark: SparkSession, store_root: str):
        self.spark = spark
        self.signature_table = ParquetTable(spark, os.path.join(store_root, "signatures"))
        self.pair_table = ParquetTable(spark, os.path.join(store_root, "candidate_pairs"))

    # ---- state views ----------------------------------------------------

    def signatures(self) -> DataFrame:
        if self.signature_table.exists():
            return self.signature_table.read()
        return self.spark.createDataFrame([], "doc_id long, band int, sig string")

    def candidate_pairs(self) -> DataFrame:
        if self.pair_table.exists():
            return self.pair_table.read()
        return self.spark.createDataFrame([], "doc_a long, doc_b long")

    # ---- the foreachBatch body ------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        """Sign, merge, and emit candidates for one micro-batch; returns
        the number of candidate pairs now known for the touched buckets
        (MERGEd, so replays and re-finds don't double-count)."""
        sigs = _band_signatures(batch.select("doc_id", "text"))
        merge_into(
            self.signature_table, sigs, ["band", "sig", "doc_id"], stamp_updated_at=False
        )
        touched = sigs.select("band", "sig").distinct()
        members = self.signature_table.read().join(
            F.broadcast(touched), ["band", "sig"]
        )
        buckets = (
            members.groupBy("band", "sig")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
            .where((F.size("ds") > 1) & (F.size("ds") <= LSH_BUCKET_CAP))
        )
        pairs = (
            buckets.select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .distinct()
        )
        return merge_into(
            self.pair_table, pairs, ["doc_a", "doc_b"], stamp_updated_at=False
        )["upserted"]

    # ---- streaming attachment -------------------------------------------

    def attach(self, stream: DataFrame, checkpoint: str):
        """Wire onto a streaming DataFrame of (doc_id, text) rows:
        checkpointed foreachBatch, exactly-once pair emission by key."""
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
