"""Incremental search-index statistics — the streaming maintainer behind
operators/retrieval.bm25_search: per-term DOCUMENT FREQUENCY and the
global doc/token counts folded across micro-batches exactly once, then
BM25 served from the store for ANY query term set without rescanning
history.

State here is SUMS (df increments, doc counts), not an idempotent
monoid — so unlike sketch_stream's ledger-free min-fold this maintainer
uses the rollup_stream discipline:

1. per batch, one map-side-combinable aggregation of the batch's OWN
   docs → (term, df) partials + a 1-row (n_docs, total_tokens) global;
2. partials keyed on (term, batch_id) / (batch_id) so an at-least-once
   replay OVERWRITES its identical rows instead of double-counting;
3. an applied-batch ledger short-circuits full replays;
4. the serving view sums partials per term.

The correctness contract (tests/test_index_stream.py): folding the
corpus in N batches and then scoring MUST equal the one-shot batch
bm25_search ranking bit-for-bit — idf integer micro-nats, score
micro-units, tie-breaks, everything.  That is the "incremental index ==
full rebuild" property a production search pipeline audits.

Scale: the per-batch shuffle carries the batch's own distinct (term,
doc) pairs reduced to (term, df) partials; the store grows
O(vocabulary × batches) until compact() folds history (same sentinel
trick as rollup_stream); scoring is the batch operator's two
embarrassingly-parallel passes with the stats arm replaced by the tiny
store aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import TOKENS
from ..operators.retrieval import BM25_TOP_K, _bm25_contrib
from ..warehouse.merge import ParquetTable, merge_into
from .warehouse_sink import batch_applied

#: sentinel batch_id for compacted rows (real batch ids are ≥ 0)
_COMPACTED = -1


class StreamingIndexStats:
    """Exactly-once incremental BM25 corpus statistics."""

    def __init__(self, spark: SparkSession, store_root: str):
        self.spark = spark
        self.term_partials = ParquetTable(spark, os.path.join(store_root, "terms"))
        self.global_partials = ParquetTable(
            spark, os.path.join(store_root, "globals")
        )
        self.applied = ParquetTable(spark, os.path.join(store_root, "applied"))

    # ------------------------------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> int:
        """Fold one micro-batch of documents (doc_id, text) into the
        index stats; replays are no-ops.  Returns upserted term rows."""
        if batch_applied(self.applied, batch_id):
            return 0
        base = batch.select("doc_id", F.expr(TOKENS).alias("ws"))
        terms = (
            base.select(F.explode(F.expr("array_distinct(ws)")).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        globals_ = base.agg(
            F.count("*").alias("n_docs"),
            F.expr("CAST(sum(size(ws)) AS BIGINT)").alias("total_tokens"),
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        n = merge_into(self.term_partials, terms, ("term", "batch_id"))["upserted"]
        merge_into(self.global_partials, globals_, ("batch_id",))
        ledger = self.spark.createDataFrame([(batch_id,)], "batch_id long")
        merge_into(self.applied, ledger, ("batch_id",))
        return n

    # ------------------------------------------------------------------
    def stats(self) -> DataFrame:
        """1-row (n_docs, total_tokens) across all folded batches; an
        UNBUILT index (no batch folded yet) reports zeros rather than
        surfacing the parquet reader's AnalysisException."""
        if not self.global_partials.exists():
            return self.spark.createDataFrame(
                [(0, 0)], "n_docs bigint, total_tokens bigint"
            )
        return self.global_partials.read().agg(
            F.expr("CAST(coalesce(sum(n_docs), 0) AS BIGINT)").alias("n_docs"),
            F.expr("CAST(coalesce(sum(total_tokens), 0) AS BIGINT)").alias(
                "total_tokens"
            ),
        )

    def term_df(self) -> DataFrame:
        """Per-term document frequency across all folded batches (empty
        frame, same schema, for an unbuilt index)."""
        if not self.term_partials.exists():
            return self.spark.createDataFrame([], "term string, df bigint")
        return (
            self.term_partials.read()
            .groupBy("term")
            .agg(F.expr("CAST(sum(df) AS BIGINT)").alias("df"))
        )

    def compact(self) -> int:
        """Fold per-batch partials into sentinel rows (rollup_stream's
        compaction trick); the ledger keeps replays short-circuited."""
        terms = self.term_df().withColumn(
            "batch_id", F.lit(_COMPACTED).cast("long")
        )
        n = self.term_partials.overwrite(terms.select("term", "df", "batch_id"))
        g = self.stats().withColumn("batch_id", F.lit(_COMPACTED).cast("long"))
        self.global_partials.overwrite(
            g.select("n_docs", "total_tokens", "batch_id")
        )
        return n

    # ------------------------------------------------------------------
    def score(self, docs: DataFrame, query_terms: tuple[str, ...]) -> DataFrame:
        """BM25 top-k of `docs` for `query_terms` using the STORE's
        statistics — the same expression tree as the batch operator
        (idf in integer micro-nats, identical contribution formula), so
        with equal folded stats the ranking is bit-identical."""
        stats = self.stats()
        dfs = self.term_df()
        for i, t in enumerate(query_terms):
            # 1-row aggregate: df of the term, 0 when the term is
            # unknown to the index (max over the filtered frame is NULL)
            stats = stats.crossJoin(
                F.broadcast(
                    dfs.where(F.col("term") == t).agg(
                        F.expr("CAST(coalesce(max(df), 0) AS BIGINT)").alias(
                            f"df{i}"
                        )
                    )
                )
            )
        for i in range(len(query_terms)):
            stats = stats.withColumn(
                f"idf{i}",
                F.expr(
                    f"CAST(round(ln((CAST(n_docs - df{i} AS DOUBLE) + 0.5)"
                    f" / (CAST(df{i} AS DOUBLE) + 0.5) + 1.0) * 1e6) AS BIGINT)"
                ),
            )
        base = docs.select("doc_id", F.expr(TOKENS).alias("ws"))
        scored = base.crossJoin(F.broadcast(stats)).select(
            "doc_id",
            F.expr("size(ws)").alias("dl"),
            *[
                F.expr(f"size(filter(ws, x -> x = '{t}'))").alias(f"tf{i}")
                for i, t in enumerate(query_terms)
            ],
            "n_docs",
            "total_tokens",
            *[F.col(f"idf{i}") for i in range(len(query_terms))],
        )
        contrib = " + ".join(_bm25_contrib(i) for i in range(len(query_terms)))
        return (
            scored.select(
                "doc_id",
                "dl",
                *[F.col(f"tf{i}") for i in range(len(query_terms))],
                F.expr(f"CAST(round(({contrib})) AS BIGINT)").alias("score_micro"),
            )
            .orderBy(F.desc("score_micro"), "doc_id")
            .limit(BM25_TOP_K)
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
