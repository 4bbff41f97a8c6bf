"""Order-insensitive result fingerprints and the DuckDB oracle side.

A fingerprint is (sorted column names, row count, hash of the sorted,
normalised rows). Floats compare to 6 decimals, as the engine's own
parity tests do; timestamps compare as naive UTC.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb


def _norm(value):
    if isinstance(value, decimal.Decimal):
        value = float(value)
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else round(value, 6) + 0.0
    if isinstance(value, dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return value.isoformat()
    if isinstance(value, dt.date):
        return value.isoformat()
    return value


def canonical(table) -> tuple:
    """Fingerprint of a pyarrow Table."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(
        (repr(tuple(_norm(v) for v in row)) for row in zip(*cols)),
    ) if cols else []
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return tuple(names), table.num_rows, digest


def expected(root: str, tables: tuple[str, ...], sqls: dict[str, str]) -> dict[str, tuple]:
    """Fingerprint of each oracle query run in DuckDB over ``root``."""
    con = duckdb.connect()
    try:
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{root}/{name}.parquet'")
        return {name: canonical(con.execute(sql).fetch_arrow_table()) for name, sql in sqls.items()}
    finally:
        con.close()
