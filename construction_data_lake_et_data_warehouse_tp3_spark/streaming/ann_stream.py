"""Incremental vector-index maintenance — the streaming twin of the batch
IVF path (operators/clustering.ivf_kmeans_topk), completing the pattern of
streaming twins for the batch dedup surface (dedup_stream).

A production embedding pipeline trains its coarse quantizer offline and
then ingests vectors continuously; queries must see every vector ingested
so far. Here:

- the k-means centroids (operators.clustering._train) are FROZEN at index
  construction — the standard IVF contract (FAISS retrains offline and
  swaps indexes; cells never move under a live index);
- each micro-batch assigns its vectors to the nearest cell (ONE broadcast
  crossJoin against K centroid rows — map-side, no shuffle) and MERGEs
  them into a parquet store keyed by vec_id, so redelivered batches land
  exactly once (same replay-idempotence contract as StreamingDeduper);
- topk() probes the NPROBE nearest cells per query and exact-cosine
  reranks inside them, reading ONLY the probed cells' rows.

Scale shape: per batch, assignment is map-side and the MERGE shuffles on
vec_id (32-byte key). The store is one row per vector with its cell id —
at 10^9 vectors you partition the store directory by `cid` so a probe
reads NPROBE/K of the data (partition pruning); the MERGE then rewrites
only affected cells. Queries never touch unprobed cells either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clustering import (
    NPROBE,
    SCALE,
    TOP_K,
    _NORM,
    _assign,
    ivf_probe_topk,
    prep_vectors,
    quantizer_fingerprint,
)
from ..warehouse.merge import ParquetTable, merge_into


class StreamingVectorIndex:
    """IVF index fed by micro-batches of (vec_id, embedding) rows."""

    def __init__(self, spark: SparkSession, store_root: str, centroids: DataFrame):
        self.spark = spark
        self.table = ParquetTable(spark, os.path.join(store_root, "vectors"))
        # freeze the quantizer: the index contract is that cell ids are
        # stable for its lifetime (retrain offline → build a new index)
        self.centroids = centroids.select("cid", "cd").localCheckpoint(eager=True)
        #: quantizer identity stamped onto every store row, so a later
        #: `ann publish` can refuse to pair these postings with different
        #: centroids (lake/ann.py publish_postings guard)
        self.qfp = quantizer_fingerprint(self.centroids)

    # ---- write side -----------------------------------------------------

    @staticmethod
    def _prep(batch: DataFrame) -> DataFrame:
        """vec_id + micro-unit ints + working doubles (the exact
        representation operators.clustering uses, so batch and streaming
        assignments can never disagree)."""
        return prep_vectors(batch)

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        """Assign the batch's vectors to cells and MERGE into the store;
        returns rows upserted. Idempotent on vec_id — a replayed batch
        (at-least-once delivery) re-lands the same rows."""
        assigned = (
            _assign(self._prep(batch), self.centroids)
            .select("vec_id", "cid", "vint")
            .withColumn("qfp", F.lit(self.qfp))
        )
        return merge_into(
            self.table, assigned, ("vec_id",), stamp_updated_at=False
        )["upserted"]

    def attach(self, stream: DataFrame, checkpoint: str):
        """Run the index maintenance as a foreachBatch streaming query."""
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid) and None
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    # ---- read side ------------------------------------------------------

    def size(self) -> int:
        return self.table.read().count() if self.table.exists() else 0

    def topk(
        self,
        queries: DataFrame,
        k: int = TOP_K,
        nprobe: int = NPROBE,
    ) -> DataFrame:
        """ANN top-k for (query_id, embedding) rows over everything
        ingested so far: probe the nprobe nearest cells, exact-cosine
        rerank inside them (identical shape to ivf_kmeans_topk)."""
        q = self._prep(
            queries.select(F.col("query_id").alias("vec_id"), "embedding")
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("vd").alias("qv"),
            F.expr(_NORM.format(a="vd")).alias("qn"),
        )
        stored = self.table.read().select(
            F.col("vec_id").alias("cand_id"),
            "cid",
            F.expr(f"transform(vint, i -> i / CAST({SCALE} AS DOUBLE))").alias("cv"),
        ).withColumn("cn", F.expr(_NORM.format(a="cv")))
        return ivf_probe_topk(self.centroids, stored, q, k=k, nprobe=nprobe)
