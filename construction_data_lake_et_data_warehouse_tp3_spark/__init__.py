"""PySpark-native analytics engine with the capability surface of the
reference data-lake + data-warehouse pipeline
(`cocoalice03/Construction-Data-Lake-et-Data-warehouse_TP3`, surveyed in
/root/repo/SURVEY.md).

Architecture (Spark-first, NOT a port):

- ``session``    — SparkSession factory + runtime tuning (AQE, shuffle
                   partitions, Arrow) sized for local[32] tests but designed
                   for multi-executor clusters.
- ``sources``    — batch parquet registry over the testdata star schema,
                   synthetic payload generator (reference kafka_producer.py),
                   streaming sources (rate / file / kafka-shaped).
- ``functions``  — scalar function library (SURVEY §2.8): anonymization,
                   bucketing, currency conversion, id generation.
- ``operators``  — the query surface (SURVEY §2.2-2.7 + beyond-reference
                   dedup / similarity / text analysis), each expressed with
                   DataFrame/SQL built-ins so Catalyst optimizes them.
- ``plans``      — plan-inspection helpers (pushdown / broadcast / codegen
                   assertions used by tests and perf work).
- ``lake``       — feed catalog, date/version partitioned writers, retention,
                   permissions (SURVEY §2.11).
- ``warehouse``  — star-schema MERGE upserts (SURVEY §2.5).
- ``streaming``  — Structured Streaming ingest + foreachBatch warehouse sink
                   (SURVEY §2.9).
"""

__version__ = "0.1.0"
