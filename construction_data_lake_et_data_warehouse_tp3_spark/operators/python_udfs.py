"""Python-UDF surface (SURVEY §2.10: scalar pandas_udf, grouped-agg
pandas UDF, applyInPandas) — the shapes the reference pipeline's Beam
`DoFn` maps to, exposed as checked queries.

UDFs are the slow path by policy (everything else in this engine is
JVM-side and visible to Catalyst), so each demo here is the shape you
reach for ONLY when built-ins can't express the logic. All are
Arrow-batched (vectorized transfer); none is row-at-a-time Python.

Oracle discipline: aggregating UDFs compute in 64-bit fixed point inside
pandas (int64 `.sum()` is exact and order-free), so DuckDB reproduces the
values exactly; the scalar UDF is a pure string map with an exact SQL
twin."""

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.registry import load_table


def pandas_scalar_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf: vectorized text normalization (lower + trim +
    whitespace collapse). SQL twin: lower(trim(regexp_replace(...)))."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.StringType())
    def normalize(texts: pd.Series) -> pd.Series:
        # mirror the SQL twin EXACTLY, including its ASCII semantics:
        # Python's \s and str.strip() match unicode whitespace (NBSP,
        # em-space, ...) while SQL regexp '\s' is ASCII-only and trim()
        # strips 0x20 spaces — on unicode-space text the kernel silently
        # diverged from the oracle (dirty-input parity sweep). Same op
        # order as the SQL: collapse -> trim -> lower.
        return (
            texts.str.replace(r"[ \t\n\r\f\v]+", " ", regex=True)
            .str.strip(" ")
            .str.lower()
        )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()  # null text: nothing to normalize (oracle matches)
    )
    return docs.select("doc_id", normalize("text").alias("norm_text"))


def pandas_udaf_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): per event_type, fixed-point
    total of value (int64 sum inside pandas — exact, order-free)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def total_cents(values: pd.Series) -> int:
        # SQL sum() semantics (the applyInPandas kernel's rule): NULLs
        # are ignored, an all-NULL group sums to NULL — a NaN reaching
        # astype(int64) would raise IntCastingNaNError and fail the job
        # on one dirty row (dirty-input parity sweep)
        vals = values.dropna()
        if not len(vals):
            return None
        return int((vals * 100).round().astype("int64").sum())

    @pandas_udf(T.LongType())
    def n_rows(values: pd.Series) -> int:
        return int(len(values))

    events = load_table(spark, sf_dir, "events")
    # Spark disallows mixing grouped-agg pandas UDFs with JVM aggregates
    # in one agg() — both aggregates are pandas UDAFs here.
    return events.groupBy(F.col("event_type").alias("payment_method")).agg(
        total_cents("value").alias("total_cents"),
        n_rows("value").alias("n_events"),
    )


GROUP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("min_cents", T.LongType()),
        T.StructField("max_cents", T.LongType()),
    ]
)


def apply_in_pandas_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas (UDTF-ish, §2.10 #68): arbitrary per-group pandas
    logic; here fixed-point group stats with an exact SQL twin."""
    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        # SQL-aggregate NULL semantics, matching the oracle exactly:
        # count(*) counts every row; sum/min/max ignore NULL values
        # (a NaN reaching astype(int64) would raise IntCastingNaNError)
        vals = pdf["value"].dropna()
        cents = (vals * 100).round().astype("int64")
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_events": [len(pdf)],
                "total_cents": [int(cents.sum()) if len(cents) else None],
                "min_cents": [int(cents.min()) if len(cents) else None],
                "max_cents": [int(cents.max()) if len(cents) else None],
            }
        )

    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").applyInPandas(stats, GROUP_STATS_SCHEMA)


QUERIES = {
    "pandas_scalar_norm": pandas_scalar_norm,
    "pandas_udaf_value_stats": pandas_udaf_value_stats,
    "apply_in_pandas_group_stats": apply_in_pandas_group_stats,
}

ORACLE = {
    "pandas_scalar_norm": """
        SELECT doc_id,
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
        FROM documents WHERE text IS NOT NULL
    """,
    "pandas_udaf_value_stats": """
        SELECT event_type AS payment_method,
               CAST(sum(CAST(round(CASE WHEN isnan(value) THEN NULL ELSE value END * 100) AS BIGINT)) AS BIGINT) AS total_cents,
               count(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    "apply_in_pandas_group_stats": """
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(CAST(round(CASE WHEN isnan(value) THEN NULL ELSE value END * 100) AS BIGINT)) AS BIGINT) AS total_cents,
               min(CAST(round(CASE WHEN isnan(value) THEN NULL ELSE value END * 100) AS BIGINT)) AS min_cents,
               max(CAST(round(CASE WHEN isnan(value) THEN NULL ELSE value END * 100) AS BIGINT)) AS max_cents
        FROM events
        GROUP BY 1
    """,
}
