"""Query-surface operators.

Each module exposes two dicts:

- ``QUERIES``: name -> callable(spark, sf_dir) -> DataFrame  (Spark impl)
- ``ORACLE``:  name -> ANSI-SQL string for DuckDB over the same parquet
  views (omitted for non-SQL-expressible operators, which a parity
  check can only compare by rows).

``all_queries()`` / ``all_oracle()`` merge every module, in ``_MODULES``
order, for the driver contract in ``__spark_entry__.py``.
"""

from __future__ import annotations

from importlib import import_module

_MODULES = (
    "aggregates",
    "transforms",
    "joins",
    "windows",
    "analytics",
    "setops",
    "relational_extras",
    "arrays",
    "tpch",
    "temporal",
    "dedup",
    "similarity",
    "text",
    "pipelines",
    "python_udfs",
    "quality",
    "graph",
    "statistics",
    "sketches",
    "profiling",
)


#: Registry queries with no ORACLE entry, by design: their values are
#: approximate sketches (HLL / approx-percentile) that no engine-portable
#: SQL reproduces, so a parity check can only compare their rows. Each
#: maps to the exact `_check` twin that locks the same pipeline against
#: DuckDB. tests/test_registry.py asserts that this set equals the
#: registry's no-oracle set and that every twin has an oracle.
BY_DESIGN_ROWS_ONLY = {
    "product_purchase_counts_approx": "product_purchase_counts_approx_check",
    "median_order_value_approx": "median_order_value_approx_check",
}


def all_queries():
    out = {}
    for mod_name in _MODULES:
        mod = import_module(f"{__name__}.{mod_name}")
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names {overlap} in {mod_name}")
        out.update(mod.QUERIES)
    return out


def all_oracle():
    out = {}
    for mod_name in _MODULES:
        mod = import_module(f"{__name__}.{mod_name}")
        out.update(getattr(mod, "ORACLE", {}))
    return out
