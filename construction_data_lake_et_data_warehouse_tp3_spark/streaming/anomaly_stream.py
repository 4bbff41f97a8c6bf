"""Streaming anomaly monitor — the streaming twin of the batch z-score
detector (operators/temporal.revenue_anomalies), completing the pattern
of streaming twins for the batch analytics surface (dedup_stream).

A monitoring pipeline trains its baseline offline (μ/σ of the metric
over history) and then scores live records continuously, landing
outliers in an alert sink. The baseline is FROZEN at monitor
construction — the same offline-train / online-score contract as the
streaming IVF index — and refreshing it is building a new monitor, so a
drifting stream can never silently re-center its own alarm threshold.

Per micro-batch:
1. score: z = (value − μ) / σ — a pure per-row expression, map-only;
2. flag |z| > threshold;
3. MERGE flagged records into the alert store keyed by record id, so
   foreachBatch's at-least-once replays alert exactly once per record.

Scale notes: scoring is whole-stage-codegen arithmetic against two
broadcast scalars; only the (rare) alerts shuffle, on their id key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..warehouse.merge import ParquetTable, merge_into


def train_baseline(values: DataFrame, value_col: str = "amount") -> tuple[float, float]:
    """Offline baseline: (μ, σ) of `value_col` in cents fixed point —
    the exact-integer-sum discipline of revenue_anomalies (order-free
    mean; σ from the sequential fold over the sorted cents list, so a
    retrain on identical history is bit-identical)."""
    cents = F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")
    row = (
        values.agg(
            F.sum(cents).alias("s"),
            F.count("*").alias("n"),
            F.sort_array(F.collect_list(cents)).alias("xs"),
        )
        .select(
            (F.col("s").cast("double") / F.col("n")).alias("mu"),
            "xs",
        )
        .select(
            "mu",
            F.expr(
                "sqrt(aggregate(xs, CAST(0.0 AS DOUBLE),"
                " (a, x) -> a + (x - mu) * (x - mu)) / size(xs))"
            ).alias("sigma"),
        )
        .collect()[0]
    )
    return float(row["mu"]), float(row["sigma"])


class StreamingAnomalyMonitor:
    """Score micro-batches of (id, value) rows against a frozen μ/σ
    baseline; alerts land exactly once in a MERGE-backed store."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        mu: float,
        sigma: float,
        id_col: str = "transaction_id",
        value_col: str = "amount",
        threshold_sigmas: float = 3.0,
    ):
        if sigma <= 0:
            raise ValueError("sigma must be positive (degenerate baseline)")
        self.spark = spark
        self.alerts = ParquetTable(spark, os.path.join(store_root, "alerts"))
        self.mu = mu
        self.sigma = sigma
        self.id_col = id_col
        self.value_col = value_col
        self.threshold = threshold_sigmas

    def score(self, batch: DataFrame) -> DataFrame:
        """Map-only scoring: cents, z-score, is_anomaly flag. A NaN/NULL
        value scores NULL z (never alerts) instead of the pre-guard ANSI
        CAST abort that killed the whole micro-batch — one corrupt record
        must not suppress the batch's real alerts."""
        cents = F.expr(
            f"CAST(round(nanvl({self.value_col}, CAST(NULL AS DOUBLE)) * 100)"
            " AS BIGINT)"
        )
        z = (cents - F.lit(self.mu)) / F.lit(self.sigma)
        return batch.withColumn("z_score", z).withColumn(
            "is_anomaly", F.abs(F.col("z_score")) > F.lit(self.threshold)
        )

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        """Score and MERGE this batch's anomalies into the alert store;
        returns alerts upserted (replays land exactly once per id)."""
        flagged = (
            self.score(batch)
            .where("is_anomaly")
            .select(self.id_col, self.value_col, "z_score")
        )
        if flagged.isEmpty():
            return 0
        return merge_into(self.alerts, flagged, (self.id_col,))["upserted"]

    def attach(self, stream: DataFrame, checkpoint: str):
        return (
            stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid) and None
            )
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def alert_count(self) -> int:
        return self.alerts.read().count() if self.alerts.exists() else 0
