"""Registry-wide physical-plan lint: EVERY queries() entry is compiled
and scanned for the two anti-patterns that silently kill 100 TB runs —

- CartesianProduct: a cross join whose small side LOST its broadcast
  (the brute-force baselines in similarity.py broadcast a K-row side on
  purpose; a plain CartesianProduct is always a regression);
- BatchEvalPython: a row-at-a-time Python UDF in the plan (the only
  sanctioned Python is Arrow-batched — ArrowEvalPython /
  AggregateInPandas / FlatMapGroupsInPandas).

Per-operator plan locks pin specific shapes; this net catches the
query NOBODY remembered to lock.  The registry is linted in two
partitions whose union test_lint_partition_covers_entire_registry
asserts equals set(queries()) exactly: the pooled fast path, and the
_BUILD_TIME_HEAVY set (operators that run jobs at DataFrame-build
time) linted sequentially at 1-iteration shape.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

#: iterative/trained operators whose DataFrame CONSTRUCTION runs jobs
#: (e.g. PageRank's localCheckpoints) —
#: linted implicitly by their own tests, skipped here for suite cost.
_BUILD_TIME_HEAVY = {
    "pagerank_products",
    "triangle_participation",
    "minhash_verified_dups",
    "training_manifest",
    "bpe_token_count",
}

_NAMES = sorted(set(entry_mod.queries()) - _BUILD_TIME_HEAVY)


def test_lint_partition_covers_entire_registry():
    """The two lint tests together must cover EXACTLY set(queries()):
    any future exclusion has to be added to _BUILD_TIME_HEAVY and shows
    up here as a visible diff, not a silent narrowing."""
    assert set(_NAMES) | _BUILD_TIME_HEAVY == set(entry_mod.queries())
    assert _BUILD_TIME_HEAVY <= set(entry_mod.queries())


def test_no_cartesian_and_no_row_python(spark):
    """One test, all plans: compiled on a thread pool (Catalyst plan
    compilation is driver-side and thread-safe), failures aggregated by
    name — 49 s sequential → ~15 s, same coverage."""
    from concurrent.futures import ThreadPoolExecutor

    queries = entry_mod.queries()

    def lint(name):
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        problems = []
        if "CartesianProduct" in plan:
            problems.append(f"{name}: unbroadcast cross join")
        if "BatchEvalPython" in plan:
            problems.append(f"{name}: row-at-a-time Python UDF")
        return problems

    with ThreadPoolExecutor(max_workers=8) as pool:
        found = [p for ps in pool.map(lint, _NAMES) for p in ps]
    assert not found, found


def test_build_time_heavy_plans_lint_at_tiny_shape(spark, monkeypatch):
    """The _BUILD_TIME_HEAVY queries are exactly the heaviest plans —
    the ones where a CartesianProduct or BatchEvalPython would hurt most
    at 100 TB — so they get the SAME mechanical check, just at 1-iteration
    shape: the fixed PageRank round count is patched to 1 so the
    build-time jobs stay tiny. Sequential, not pooled: these queries RUN
    jobs during DataFrame construction, and the monkeypatched module
    constant must be visible to each build."""
    from construction_data_lake_et_data_warehouse_tp3_spark.operators import graph

    monkeypatch.setattr(graph, "N_ITERS", 1)

    queries = entry_mod.queries()
    found = []
    for name in sorted(_BUILD_TIME_HEAVY):
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            found.append(f"{name}: unbroadcast cross join")
        if "BatchEvalPython" in plan:
            found.append(f"{name}: row-at-a-time Python UDF")
    assert not found, found


#: the dedup deployment forms OUTSIDE the registry: the two tests above
#: pin their union to set(queries()), so these callables get their own
#: pass of the same CartesianProduct/BatchEvalPython net.
_DEPLOYMENT_FORMS = (
    "jaccard_dup_pairs",
    "edit_distance_pairs_capped",
    "minhash_lsh_candidates_fast",
)


def test_bench_only_deployment_forms_lint_clean(spark):
    """Same mechanical net as the registry lints, for the deployment
    forms: sequential at sf0.001, because the router form
    (jaccard_dup_pairs) runs jobs at DataFrame-build time."""
    from construction_data_lake_et_data_warehouse_tp3_spark.operators import dedup

    found = []
    for name in _DEPLOYMENT_FORMS:
        df = getattr(dedup, name)(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            found.append(f"{name}: unbroadcast cross join")
        if "BatchEvalPython" in plan:
            found.append(f"{name}: row-at-a-time Python UDF")
    assert not found, found
