"""Continuous training-manifest maintenance — the streaming twin of the
batch capstone (operators/quality.py:training_manifest), composing every
curation stage over an unbounded ingest: quality gate, exact-dup
survivorship, eval-set decontamination, and domain-mix weights.

Design: the manifest is DERIVED AT READ TIME from three small stores
rather than maintained as a mutable kept-set — because batch semantics
let a LATER-arriving smaller doc_id take ownership of a content hash
and silently demote an earlier survivor, a materialized kept-set would
need deletes; deriving keeps every fold append/merge-only:

- candidates (MERGE keyed doc_id): every gate-passing, non-eval,
  non-contaminated doc with its content hash — idempotent under replay.
- hash owners (min-fold keyed h): min doc_id per content hash over ALL
  ingested docs (gate-failing docs own hashes too, exactly as the batch
  window does) — min is an idempotent monoid, no ledger needed.
- source counts (SUM partials keyed (source, batch_id) + applied
  ledger): per-source doc/token counts over ALL ingested docs, the
  domain_mix inputs — sums need the ledger (the cms_stream/rollup
  discipline).

manifest() = candidates ⋈ owners (owner == self) ⋈ weights(counts),
with the weight formula replicated from domain_mix — so the view equals
`training_manifest` run over everything ingested so far, bit-for-bit
(tests/test_manifest_stream.py proves it differentially at every
prefix).

The eval shingle set is FROZEN at construction (the anomaly_stream
frozen-baseline discipline): a benchmark is known up front in a real
deployment. The differential test freezes it from the same corpus the
batch operator derives it from, so the two agree by construction.

Scale: the gate/decontam work is map-side per batch (the frozen eval
shingles broadcast as one array); hash ownership shuffles 32-byte keys;
the weight inputs are ~|sources| rows. Store MERGEs are the
plain-parquet trade-off (warehouse/merge.py notes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import EVAL_MOD, _SHINGLES, TOKENS, quality_signals
from ..warehouse.merge import ParquetTable, merge_into
from .warehouse_sink import batch_applied


class StreamingManifest:
    """Incremental training-manifest state over micro-batches of
    (doc_id, text, source) rows, against a frozen eval shingle set."""

    def __init__(self, spark: SparkSession, store_root: str, eval_shingles: list[str]):
        self.spark = spark
        self.eval_shingles = sorted(set(eval_shingles))
        self.cand_table = ParquetTable(spark, os.path.join(store_root, "candidates"))
        self.owner_table = ParquetTable(spark, os.path.join(store_root, "hash_owners"))
        self.count_table = ParquetTable(spark, os.path.join(store_root, "source_counts"))
        self.applied = ParquetTable(spark, os.path.join(store_root, "applied"))

    # ---- state views ----------------------------------------------------

    def _candidates(self) -> DataFrame:
        if self.cand_table.exists():
            return self.cand_table.read()
        return self.spark.createDataFrame(
            [], "doc_id long, source string, n_words int, h string"
        )

    def _owners(self) -> DataFrame:
        if self.owner_table.exists():
            return self.owner_table.read()
        return self.spark.createDataFrame([], "h string, owner long")

    def _counts(self) -> DataFrame:
        if self.count_table.exists():
            return self.count_table.read()
        return self.spark.createDataFrame(
            [], "source string, n_docs bigint, n_tokens bigint, batch_id long"
        )

    # ---- the foreachBatch body ------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> dict:
        """Fold one micro-batch of (doc_id, text, source) rows; replays
        are no-ops. Returns {candidates, hashes} counts."""
        if batch_applied(self.applied, batch_id):
            return {"candidates": 0, "hashes": 0}

        hashed = batch.withColumn("h", F.md5("text"))
        # hash ownership folds over ALL docs (the batch window does too)
        batch_owners = hashed.groupBy("h").agg(F.min("doc_id").alias("owner"))
        folded = (
            self._owners()
            .unionByName(batch_owners)
            .groupBy("h")
            .agg(F.min("owner").alias("owner"))
        )
        n_hashes = self.owner_table.overwrite(folded)

        ev = F.array(*[F.lit(s) for s in self.eval_shingles])
        cand = (
            quality_signals(hashed, carry=("source", "h"))
            .where("keep")
            .where(F.col("doc_id") % EVAL_MOD != 0)
            .withColumn("ngs", F.expr(_SHINGLES.format(ws=TOKENS)))
            .where(~F.arrays_overlap(F.col("ngs"), ev))
            .select("doc_id", "source", "n_words", "h")
        )
        n_cand = merge_into(
            self.cand_table, cand, ("doc_id",), stamp_updated_at=False
        )["upserted"]

        counts = batch.groupBy("source").agg(
            F.expr("CAST(count(*) AS BIGINT)").alias("n_docs"),
            F.expr(f"CAST(sum(size({TOKENS})) AS BIGINT)").alias("n_tokens"),
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        merge_into(
            self.count_table, counts, ("source", "batch_id"), stamp_updated_at=False
        )
        ledger = self.spark.createDataFrame([(batch_id,)], "batch_id long")
        merge_into(self.applied, ledger, ("batch_id",), stamp_updated_at=False)
        return {"candidates": n_cand, "hashes": n_hashes}

    # ---- the manifest view ------------------------------------------------

    def weights(self) -> DataFrame:
        """domain_mix's weight formula over the folded source counts."""
        from pyspark.sql import Window

        per_source = self._counts().groupBy("source").agg(
            F.expr("CAST(sum(n_docs) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(sum(n_tokens) AS BIGINT)").alias("n_tokens"),
        )
        w = Window.partitionBy()
        t = per_source.select(
            "source",
            "n_docs",
            F.sum("n_docs").over(w).alias("tot_docs"),
            F.count("*").over(w).alias("n_sources"),
        )
        doc_share = F.col("n_docs") / F.col("tot_docs").cast("double")
        target = F.lit(1.0) / F.col("n_sources").cast("double")
        return t.select(
            "source",
            F.round(F.least(F.lit(1.0), target / doc_share), 4).alias(
                "sample_weight"
            ),
        )

    def manifest(self) -> DataFrame:
        """(doc_id, source, n_words, weight) — equals training_manifest
        over everything ingested so far."""
        owners = self._owners()
        kept = (
            self._candidates()
            .join(owners, "h")
            .where(F.col("doc_id") == F.col("owner"))
        )
        return kept.join(F.broadcast(self.weights()), "source").select(
            "doc_id", "source", "n_words", F.col("sample_weight").alias("weight")
        )

    # ---- streaming attachment ---------------------------------------------

    def attach(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
