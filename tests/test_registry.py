"""Operator-registry invariants: every query without an oracle is one of
the declared rows-only approximations, and each of those has an exact
`_check` twin that does have an oracle."""

from __future__ import annotations

from construction_data_lake_et_data_warehouse_tp3_spark.operators import (
    BY_DESIGN_ROWS_ONLY,
    all_oracle,
    all_queries,
)


def test_rows_only_set_is_exactly_the_queries_without_an_oracle():
    queries, oracle = set(all_queries()), set(all_oracle())
    assert queries - oracle == set(BY_DESIGN_ROWS_ONLY)
    assert oracle <= queries, sorted(oracle - queries)


def test_every_rows_only_query_has_an_oracled_twin():
    queries, oracle = set(all_queries()), set(all_oracle())
    for name, twin in BY_DESIGN_ROWS_ONLY.items():
        assert twin in queries and twin in oracle, (name, twin)
