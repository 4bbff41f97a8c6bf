"""Late-arriving dimension handler — the production pattern
enrich_stream_with_dim (streaming/joins.py) deliberately leaves open:
there a fact row whose dimension key is unknown flows through with NULL
dim columns; here it is PARKED and retried as the dimension feed
catches up, so every fact is eventually enriched exactly once.

Per micro-batch, against the CURRENT dim snapshot:

1. facts parked by EARLIER batches are retried first; hits move to
   `enriched` and leave `pending`, survivors age (retry_count + 1 — the
   escalation signal a fact pending for N batches raises, which the
   reference's first-miss print never could, sync_to_mysql.py:146-152);
2. the new batch splits: matches MERGE into `enriched` (keyed on the
   fact id, so an at-least-once replay overwrites its identical rows),
   misses land in `pending` stamped with the batch id.

Exactly-once: both stores MERGE on the fact key; a crash between the
retry's enriched-MERGE and the pending rewrite re-runs the retry on
replay, which re-MERGEs the same enriched rows (idempotent by key) —
a fact is never lost and never duplicated.

Scale: per batch the work is (pending ∪ batch) ⋈ broadcast(dim); the
pending set is small in steady state (it IS the backlog alarm when it
isn't), and the stores rewrite O(store) parquet per batch (partition
or swap for Delta/Iceberg at 100 TB, same API).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..warehouse.merge import ParquetTable, merge_into

#: bookkeeping columns the pending store adds to the raw fact schema.
_META_COLS = ("first_batch_id", "retry_count")


class LateDimEnricher:
    """Exactly-once stream enrichment with park-and-retry for facts
    whose dimension row has not arrived yet."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        fact_id: str = "event_id",
        fact_key: str = "user_id",
        dim_key: str = "user_id",
    ):
        self.spark = spark
        self.fact_id = fact_id
        self.fact_key = fact_key
        self.dim_key = dim_key
        self.enriched = ParquetTable(spark, os.path.join(store_root, "enriched"))
        self.pending = ParquetTable(spark, os.path.join(store_root, "pending"))

    # ------------------------------------------------------------------
    def _split(self, facts: DataFrame, dim: DataFrame):
        """LEFT-join facts to the dim snapshot on an explicit hit marker
        (a NULLABLE dim attribute must not decide matched-ness); returns
        (hits-with-dim-columns, miss-facts)."""
        dim_cols = [c for c in dim.columns if c != self.dim_key]
        marked = dim.withColumn("__dim_hit", F.lit(1))
        joined = facts.join(
            F.broadcast(marked),
            facts[self.fact_key] == marked[self.dim_key],
            "left",
        )
        fact_side = [facts[c] for c in facts.columns]  # key may collide
        hits = joined.where(F.col("__dim_hit").isNotNull()).select(
            *fact_side, *[marked[c] for c in dim_cols]
        )
        misses = joined.where(F.col("__dim_hit").isNull()).select(*fact_side)
        return hits, misses

    def process_batch(self, facts: DataFrame, dim: DataFrame, batch_id: int) -> dict:
        """Fold one micro-batch of facts against the current dim
        snapshot, retrying everything parked by earlier batches.
        Returns {hits, parked, recovered} counts."""
        n_recovered = 0
        if self.pending.exists():
            parked = self.pending.read()
            fact_cols = [c for c in parked.columns if c not in _META_COLS and c != "updated_at"]
            meta = parked.select(self.fact_id, *_META_COLS)
            rehits, remisses = self._split(parked.select(*fact_cols), dim)
            if not rehits.isEmpty():
                merged = merge_into(self.enriched, rehits, (self.fact_id,))
                n_recovered = merged["upserted"]
            survivors = remisses.join(meta, self.fact_id).withColumn(
                "retry_count", F.col("retry_count") + 1
            )
            self.pending.overwrite(survivors)

        hits, misses = self._split(facts, dim)
        n_hits = merge_into(self.enriched, hits, (self.fact_id,))["upserted"]
        stamped = misses.withColumn(
            "first_batch_id", F.lit(batch_id).cast("long")
        ).withColumn("retry_count", F.lit(0))
        # At-least-once duplicate of an already-parked fact must NOT
        # reset the backlog-age signal: carry forward the existing
        # min(first_batch_id) / retry_count over the fresh stamp.
        if self.pending.exists():
            prior = self.pending.read().select(
                self.fact_id,
                F.col("first_batch_id").alias("__prior_first"),
                F.col("retry_count").alias("__prior_retries"),
            )
            stamped = (
                stamped.join(F.broadcast(prior), self.fact_id, "left")
                .withColumn(
                    "first_batch_id",
                    F.least(F.col("first_batch_id"), F.col("__prior_first")),
                )
                .withColumn(
                    "retry_count",
                    F.greatest(F.col("retry_count"), F.col("__prior_retries")),
                )
                .drop("__prior_first", "__prior_retries")
            )
        n_parked = merge_into(self.pending, stamped, (self.fact_id,))["upserted"]
        return {"hits": n_hits, "parked": n_parked, "recovered": n_recovered}

    # ------------------------------------------------------------------
    def backlog(self) -> DataFrame:
        """The escalation view: parked facts with age in batches."""
        if not self.pending.exists():
            return self.spark.createDataFrame(
                [], f"{self.fact_id} long, first_batch_id long, retry_count int"
            )
        return self.pending.read().select(self.fact_id, *_META_COLS)

    def enriched_facts(self) -> DataFrame:
        return self.enriched.read()
