"""Lake maintenance: small-file compaction (OPTIMIZE-style).

Streaming ingest writes one file per micro-batch per partition
(kafka_consumer_datalake.py batches ≙ our checkpointed sink) — at 100 TB
that means millions of small files and a metadata-bound scan. Compaction
rewrites a partition's many small files into few right-sized ones with
an atomic directory swap, preserving every row.

A partition under a Spark file sink is refused: the sink's
`_spark_metadata` log lists the files it wrote, and after a swap it
would still name the deleted ones, so every later read of the feed
fails. Compacting such a feed needs a commit through a log.

Target sizing: files ≈ total_bytes / target_file_mb, min 1. The rewrite
is one narrow job (read → coalesce → write); no shuffle unless the
partition is wildly over-split, in which case coalesce just merges
splits."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession


def partition_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for one partition directory."""
    n, total = 0, 0
    for name in os.listdir(path):
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            n += 1
            total += os.path.getsize(os.path.join(path, name))
    return n, total


def _file_sink_root(path: str) -> str | None:
    """The nearest directory at or above `path` that holds a Spark
    file-sink log (`_spark_metadata`), or None."""
    here = os.path.abspath(path)
    while True:
        if os.path.isdir(os.path.join(here, "_spark_metadata")):
            return here
        parent = os.path.dirname(here)
        if parent == here:
            return None
        here = parent


def compact_partition(
    spark: SparkSession,
    partition_path: str,
    target_file_mb: int = 128,
    min_files_to_compact: int = 4,
) -> dict:
    """Rewrite a partition's files into ~target_file_mb chunks.

    Returns stats; no-op (files_before < min_files_to_compact) keeps the
    partition untouched. Row counts are preserved (verified before swap).
    Raises ValueError, touching nothing, for a partition of a Spark
    file-sink feed.
    """
    sink = _file_sink_root(partition_path)
    if sink is not None:
        raise ValueError(
            f"{partition_path} belongs to the Spark file sink at {sink}: its "
            "_spark_metadata log would still list the replaced files"
        )
    files_before, total_bytes = partition_file_stats(partition_path)
    if files_before < min_files_to_compact:
        return {"skipped": True, "files_before": files_before}

    df = spark.read.parquet(partition_path)
    rows_before = df.count()
    n_files = max(1, total_bytes // (target_file_mb * 1024 * 1024))

    tmp = f"{partition_path}__compact_{uuid.uuid4().hex[:8]}"
    df.coalesce(int(n_files)).write.mode("overwrite").parquet(tmp)

    rows_after = spark.read.parquet(tmp).count()
    if rows_after != rows_before:  # never swap in a lossy rewrite
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row mismatch {rows_before} -> {rows_after}, aborted"
        )
    old = f"{partition_path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(partition_path, old)
    os.rename(tmp, partition_path)
    shutil.rmtree(old)
    files_after, _ = partition_file_stats(partition_path)
    return {
        "skipped": False,
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows_before,
    }
