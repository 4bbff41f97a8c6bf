"""`load_table` reads TIMESTAMP(NANOS) parquet columns, which Spark 4
refuses by default, as timestamps truncated to microseconds exactly as
DuckDB reads the same file."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from construction_data_lake_et_data_warehouse_tp3_spark.sources.registry import load_table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_nanosecond_event_ts_matches_duckdb(spark, tmp_path):
    sf_dir = tmp_path / "sf"
    (sf_dir / "events.parquet").mkdir(parents=True)
    path = sf_dir / "events.parquet" / "part-0.parquet"
    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, -1_001, -999, None]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(ns)), pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        path,
    )
    old = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "false")
    try:
        df = load_table(spark, str(sf_dir), "events")
        got = sorted(
            tuple(r) for r in df.selectExpr("event_id", "unix_micros(ts)").collect()
        )
    finally:
        spark.conf.set(NANOS, old)
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    want = duckdb.connect().execute(
        f"SELECT event_id, epoch_us(ts) FROM read_parquet('{path}') ORDER BY 1"
    ).fetchall()
    assert got == want
    assert got[0][1] == 1_700_000_000_123_456  # sub-µs digits truncated
