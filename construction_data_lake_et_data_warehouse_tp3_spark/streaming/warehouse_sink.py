"""Streaming warehouse sink (SURVEY §2.1 #11-12): foreachBatch → MERGE.

The reference buffers batch_size messages then row-wise-inserts them into
MySQL (/root/reference/kafka_consumer_warehouse.py:30-44,86-101). Here
each micro-batch flows through the same set-oriented merge as the batch
path, so streaming and batch sync share one code path and the MERGE's
key-idempotency makes replays safe (exactly-once effective semantics —
upgrade over the reference's auto-commit at-least-once, SURVEY §2.9 #62).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..warehouse.merge import ParquetTable, merge_into


def batch_applied(ledger: ParquetTable, batch_id: int) -> bool:
    """True once `batch_id` is in a store's applied-batch ledger: the
    replay guard of the stores whose partials are sums."""
    return ledger.exists() and not ledger.read().where(F.col("batch_id") == batch_id).isEmpty()


def stream_to_warehouse(
    stream: DataFrame,
    table: ParquetTable,
    keys: Sequence[str],
    checkpoint: str,
    snapshot_version: int = 1,
    available_now: bool = True,
):
    """writeStream.foreachBatch(merge) with snapshot tagging
    (kafka_consumer_warehouse.py:87 attaches the tags per flush)."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tagged = batch_df.withColumn("snapshot_date", F.current_date()).withColumn(
            "snapshot_version", F.lit(snapshot_version)
        )
        merge_into(table, tagged, keys)

    writer = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
