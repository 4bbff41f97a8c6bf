"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``    — flagship query (user_transaction_summary, SURVEY
  §2.4 #26) on /root/testdata/sf0.001; smoke-checked for rows > 0.
- ``queries()``       — every implemented operator from SURVEY.md §2 plus
  the beyond-reference dedup/similarity/text surface; (spark, sf_dir) ->
  DataFrame.
- ``oracle_sql()``    — DuckDB-equivalent ANSI SQL per query (omitted only
  for approximate operators, which can only be checked by rows; those
  keys are listed in ``operators.BY_DESIGN_ROWS_ONLY``, each mapped to
  the exact ``_check`` twin that locks the same pipeline against DuckDB,
  so a missing oracle for a listed key is expected, not an error).

Implementations live in construction_data_lake_et_data_warehouse_tp3_spark/
(operators/*.py); this module is a thin registry view over them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from construction_data_lake_et_data_warehouse_tp3_spark import operators
from construction_data_lake_et_data_warehouse_tp3_spark.session import tune

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune(spark)
    return operators.all_queries()["user_transaction_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ M7 surface)."""
    registry = operators.all_queries()

    def with_tuning(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        return run

    return {name: with_tuning(fn) for name, fn in registry.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per queries() key (same column aliases both sides)."""
    return operators.all_oracle()
