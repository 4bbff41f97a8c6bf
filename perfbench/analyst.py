"""``analyst_queries``: the warehouse read path, closed loop, one client.

Each pass runs the query set once in a seed-shuffled order; a query is
timed from the registry call until its result has been fetched to the
client as Arrow. Every fetched result is checked afterwards against the
query's DuckDB oracle (row count plus an order-insensitive hash). The
workload does no lake or warehouse writes.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import oracle
import report
from harness import SetUp
from reference import Reference
from tracing import HostWatch, Tracer, per_operation, spark_counts

#: The reference's aggregates and TPC-H shapes: joins, group-bys, windows.
#: Six keep a run (cold start, warm-up passes, timed passes) near a minute
#: on 4 cores. ``event_sessions`` is left out until its defect is
#: fixed: its result differs from its oracle whenever two of a user's
#: events are between 1800 and 1801 s apart (Spark truncates timestamps to
#: whole seconds before the 30-minute gap test, the oracle's ``epoch()``
#: keeps the fraction), which the generated events hit on 7 of 40 seeds.
QUERIES = (
    "user_transaction_summary",
    "product_purchase_counts",
    "payment_method_totals",
    "top_event_per_user",
    "tpch_q3",
    "tpch_q6",
)
SCALE = {"full": 0.01, "tiny": 0.001}
#: Untimed passes before timing starts, the cold one first (all part of
#: set-up). A query's CPU time keeps falling for tens of passes while the
#: JIT compiles more of the planner (on a 4-vCPU host, by 10-30% over the
#: ten passes after the third); two warm-up passes take out the cold pass
#: and the steepest part of the fall in a run of about a minute.
WARMUP_PASSES = 2
#: Timed passes at least, more while ``--seconds`` has not passed: each
#: query type's median then rests on four samples or more, and a traced
#: run sees every type both traced and untraced.
MIN_PASSES = 4


def _wrap_load_table(tracer: Tracer):
    """Span every ``load_table`` call the operators make, by rebinding
    the name in each module that imported it. Returns an undo callable."""
    from construction_data_lake_et_data_warehouse_tp3_spark import operators
    from construction_data_lake_et_data_warehouse_tp3_spark.sources import registry

    original = registry.load_table

    def traced(*args, **kwargs):
        with tracer.span("sources.load_table"):
            return original(*args, **kwargs)

    modules = [registry] + [
        mod for name, mod in vars(operators).items()
        if not name.startswith("_") and getattr(mod, "load_table", None) is original
    ]
    for mod in modules:
        mod.load_table = traced

    def undo():
        for mod in modules:
            mod.load_table = original

    return undo


def _register(star: str):
    """Table registration: the session's view of every star-schema table."""
    from construction_data_lake_et_data_warehouse_tp3_spark.sources.registry import load_table

    def register(spark):
        for name in gen.STAR_TABLES:
            load_table(spark, star, name).createOrReplaceTempView(name)

    return register


def run(work: str, seed: int, seconds: float, traced: bool, size: str) -> report.Result:
    from construction_data_lake_et_data_warehouse_tp3_spark import operators

    star = os.path.join(work, "star")
    gen.write_star_schema(star, seed, SCALE[size])
    registry = operators.all_queries()
    queries = {name: registry[name] for name in QUERIES}
    expected = oracle.expected(star, gen.STAR_TABLES, {
        name: operators.all_oracle()[name] for name in QUERIES
    })
    rng = np.random.default_rng([seed, 4])
    ref = Reference(len(os.sched_getaffinity(0)))

    def warm_up(spark):
        for _ in range(WARMUP_PASSES):
            for name in rng.permutation(QUERIES):
                queries[name](spark, star).toArrow()

    setup = SetUp("perfbench-analyst", _register(star), warm_up)
    spark, cpu = setup.spark, setup.cpu

    tracer = Tracer(traced)
    tracer.bind(spark)
    undo = _wrap_load_table(tracer) if traced else (lambda: None)
    samples: list[tuple[str, float, float, bool]] = []  # query, wall ms, CPU ms, traced
    results = []
    traced_ops: dict[str, float] = {}  # op id -> wall ms
    n_pass = 0
    host = HostWatch()
    ref.measure()
    t_start = time.perf_counter()
    try:
        while n_pass < MIN_PASSES or time.perf_counter() - t_start < seconds:
            for name in rng.permutation(QUERIES):
                # traced run: each query type is traced in every other pass,
                # so the untraced half measures the tracing overhead
                on = traced and (QUERIES.index(name) + n_pass) % 2 == 0
                op = f"p{n_pass}:{name}"
                tracer.enabled = on
                q0, c0 = time.perf_counter(), cpu()
                try:
                    with tracer.operation(op), tracer.span("bench.query"):
                        with tracer.span("operators.build"):
                            df = queries[name](spark, star)
                        with tracer.span("operators.exec"):
                            table = df.toArrow()
                except Exception as exc:  # a failed query counts, the loop goes on
                    table = exc
                ms = (time.perf_counter() - q0) * 1e3
                samples.append((name, ms, (cpu() - c0) * 1e3, on))
                results.append((name, table))
                if on:
                    traced_ops[op] = ms
            n_pass += 1
            t_ref = time.perf_counter()
            ref.measure()
            t_start += time.perf_counter() - t_ref  # the clock times passes only
        wall = time.perf_counter() - t_start
        host_state = host.detail()
    finally:
        undo()
        tracer.enabled = traced
        ref.close()

    failed = []
    for name, table in results:
        if isinstance(table, Exception) or oracle.canonical(table) != expected[name]:
            failed.append(name)

    op_cpu_ms = report.per_type([(q, c) for q, _, c, _ in samples])
    e2e = {"setup_s": setup.cpu_s, "op_cpu_vs_ref": op_cpu_ms / ref.cpu_ms()}
    detail = {
        "queries": list(QUERIES), "passes": n_pass, "checked": len(results),
        "failed_queries": sorted(set(failed)),
        "timed_wall_s": round(wall, 3),
        **host_state,
        "op_cpu_ms": round(op_cpu_ms, 1),
        "ref_cpu_ms": [round(s * 1e3, 1) for s in ref.samples_s],
        "op_wall_p50_geo_ms": round(report.per_type([(q, ms) for q, ms, _, _ in samples]), 1),
        "op_wall_ms": round(report.per_type([(q, ms) for q, ms, _, _ in samples], min), 1),
        "queries_per_s": round(len(samples) / wall, 4),
        **setup.detail(),
        "per_query_ms": {q: [round(ms) for n, ms, _, _ in samples if n == q] for q in QUERIES},
        "per_query_cpu_ms": {q: [round(c) for n, _, c, _ in samples if n == q] for q in QUERIES},
    }
    layer = {name: 0.0 for name in report.PER_LAYER}
    layer["session.start_s"] = setup.start_s[0]
    layer["session.warmup_s"] = setup.warmup_s
    if traced:
        n = max(1, len(traced_ops))
        groups = per_operation(spark_counts(spark))
        layer.update(report.layer_metrics(
            tracer, traced_ops, groups, spark.sparkContext.defaultParallelism,
            report.per_type([(q, c) for q, _, c, on in samples if on]),
            report.per_type([(q, c) for q, _, c, on in samples if not on]),
        ))
        self_ms = tracer.self_times_ms()
        loads = tracer.durations_ms("sources.load_table")
        layer["sources.load_table_ms"] = report.mean(loads)
        layer["operators.build_ms"] = self_ms.get("operators.build", 0.0) / n
        layer["operators.exec_ms"] = self_ms.get("operators.exec", 0.0) / n
        detail["load_table_calls_per_op"] = len(loads) / n
    return report.Result(
        correct=not failed,
        attempted=len(results),
        failed=len(failed),
        end_to_end=e2e,
        per_layer=layer,
        tracer=tracer,
        detail=detail,
        spark_counts={op: groups.get(op, {}) for op in traced_ops} if traced else {},
    )
