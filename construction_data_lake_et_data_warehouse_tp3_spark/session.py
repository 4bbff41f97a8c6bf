"""SparkSession factory and runtime tuning.

The reference pipeline glues ksqlDB + MySQL + pandas together
(/root/reference/export_to_data_lake.py:40-64, sync_to_mysql.py:117-123);
here one SparkSession owns the whole surface.

Scale posture: configs below are sized so the same logical plans that pass
on ``local[32]`` would survive a 1000-executor cluster reading ~100 TB —
AQE for runtime re-planning + skew-join handling, partition-count defaults
that are overridable per deployment, broadcast threshold large enough to
keep dimension joins shuffle-free but far below executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _builder_conf() -> dict[str, str]:
    """Confs that must be set before the JVM starts (builder-time only).

    Read at CALL time, not import time: a tool that sets
    ``SPARK_GRAFT_DRIVER_MEM`` after importing the package — e.g. a
    large-scale sweep raising it to a 64g heap — must still win. A
    module-level dict froze whatever the env held at first import (16g),
    and the 100x kcore sweep OOMed under a heap the caller believed it
    had raised."""
    return {
        # overridable for scale-tier sweeps: the 100x tier (61M-row edge
        # sets in one JVM) needs more than the 16g default the driver-scale
        # runs are sized for; a real cluster spreads this across executors
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/tp3_spark_warehouse"
        ),
        # local[32] is one JVM: cap result sizes sanely.
        "spark.driver.maxResultSize": "4g",
    }

#: Runtime-settable confs — safe to apply to an externally provided session
#: (the correctness driver constructs its own SparkSession).
RUNTIME_CONF = {
    # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
    # At 100 TB this is what turns a static 'shuffle.partitions' guess into
    # right-sized partitions per stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Local default; a 1000-executor deployment overrides to ~2-4x cores.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # Dimension tables (nation/region/payment-method dims) broadcast:
    # keeps the fact-side scan shuffle-free (SURVEY §2.3 #23-24).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Arrow for the pandas UDFs (operators/python_udfs.py).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp comparison against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 refuses nanosecond parquet timestamps by default (the
    # shipped testdata is microsecond; outside input may not be); read
    # them as longs and convert in sources.registry (ns DIV 1000 ≙
    # DuckDB's ns→µs truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided or ours)."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # conf locked down — keep going, defaults still work
            pass
    return spark


def get_spark(app_name: str = "tp3-spark-engine") -> SparkSession:
    """Create (or reuse) the engine session on local[$SPARK_GRAFT_CPUS]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for key, value in _builder_conf().items():
        builder = builder.config(key, value)
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    return tune(builder.getOrCreate())
