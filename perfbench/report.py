"""Metric definitions and the result a workload hands back to run.py.

End-to-end metrics are reported by every workload, each with the meaning
given in ``END_TO_END``. Per-layer metrics come from the traced run; a
layer a workload does not call reports 0, which is the prediction for
that workload. ``PER_LAYER`` records, for each per-layer metric, the
end-to-end metric it should move and on which workload.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from tracing import Tracer

#: name -> (unit, better, meaning per workload). Both rest on CPU time of
#: the engine's processes (Spark JVM without its JIT threads, plus the
#: Python process): on a shared host, wall time moves by half with other
#: tenants' load (steal) while CPU time moves less. It still moves by up
#: to a half, so the cost per operation is given in units of a fixed
#: reference workload measured in the same run (see ``reference.py``);
#: the detail line keeps it in ms too (``op_cpu_ms``). CPU time
#: cannot see a change that only moves wall time (lost parallelism, idle
#: waits in a trigger or a commit, lock or IO stalls): such a claim needs
#: the wall figures of the detail line (``op_wall_ms`` and the per-query
#: or per-cycle times), read with the host's steal share beside them.
END_TO_END = {
    "setup_s": ("s", "lower",
                "CPU seconds of set-up: the first (cold) session start, plus the "
                "median of 3 table registrations (one per session restart), plus "
                "the untimed warm-up passes (analyst) or the base load (sync)"),
    "op_cpu_vs_ref": ("ratio", "lower",
                      "CPU time per operation divided by the CPU time of the reference "
                      "workload (the median of its runs before the first and after "
                      "every timed operation pass or cycle). Per operation: the "
                      "geometric mean over operation types of each type's median; a "
                      "query from registry call until its result is fetched "
                      "(analyst); one sync cycle from landing its change set until "
                      "the dashboard reads return (sync)"),
}

A, S = "analyst_queries", "warehouse_sync"

#: name -> (unit, better, layer, end-to-end metric it should move, workload)
PER_LAYER = {
    "session.start_s": ("s", "lower", "session", "setup_s", "both"),
    "session.warmup_s": ("s", "lower", "session/operators", "setup_s", "both"),
    "sources.load_table_ms": ("ms", "lower", "sources.registry", "op_cpu_vs_ref", A),
    "operators.build_ms": ("ms", "lower", "operators", "op_cpu_vs_ref", A),
    "operators.exec_ms": ("ms", "lower", "operators", "op_cpu_vs_ref", A),
    "spark.jobs_per_op": ("count", "lower", "engine", "op_cpu_vs_ref", "both"),
    "spark.stages_per_op": ("count", "lower", "engine", "op_cpu_vs_ref", "both"),
    "spark.tasks_per_op": ("count", "lower", "engine", "op_cpu_vs_ref", "both"),
    "spark.input_bytes_per_op": ("B", "lower", "sources", "op_cpu_vs_ref", A),
    "spark.shuffle_bytes_per_op": ("B", "lower", "operators, warehouse.merge", "op_cpu_vs_ref",
                                   "both"),
    "spark.spill_bytes_per_op": ("B", "lower", "operators, warehouse.merge", "op_cpu_vs_ref",
                                 "both"),
    "spark.core_busy_ratio": ("ratio", "higher", "engine", "op_cpu_vs_ref", "both"),
    "lake.txn_write_ms": ("ms", "lower", "lake.transaction", "op_cpu_vs_ref", S),
    "lake.txn_commit_ms": ("ms", "lower", "lake.transaction", "op_cpu_vs_ref", S),
    "lake.snapshot_read_ms": ("ms", "lower", "lake.transaction", "op_cpu_vs_ref", S),
    "lake.bytes_written_per_user_byte": ("ratio", "lower", "lake", "op_cpu_vs_ref", S),
    "lake.stored_bytes_per_user_byte": ("ratio", "lower", "lake, warehouse", "op_cpu_vs_ref", S),
    "lake.files_per_batch": ("count", "lower", "lake.writer (stream sink)", "op_cpu_vs_ref", S),
    "lake.avg_file_bytes": ("B", "higher", "lake.writer (stream sink)", "op_cpu_vs_ref", S),
    "warehouse.apply_changes_ms": ("ms", "lower", "warehouse.incremental", "op_cpu_vs_ref", S),
    "warehouse.merge_ms": ("ms", "lower", "warehouse.merge", "op_cpu_vs_ref", S),
    "warehouse.dashboard_read_ms": ("ms", "lower", "warehouse", "op_cpu_vs_ref", S),
    "warehouse.rows_rewritten_per_changed_row": ("ratio", "lower", "warehouse.merge",
                                                 "op_cpu_vs_ref", S),
    "streaming.ingest_ms": ("ms", "lower", "streaming.ingest", "op_cpu_vs_ref", S),
    "streaming.trigger_ms": ("ms", "lower", "streaming.ingest", "op_cpu_vs_ref", S),
    "streaming.add_batch_ms": ("ms", "lower", "streaming.ingest", "op_cpu_vs_ref", S),
    "streaming.bookkeeping_ms": ("ms", "lower", "streaming.ingest", "op_cpu_vs_ref", S),
    "streaming.rows_per_batch": ("count", "higher", "streaming.ingest", "op_cpu_vs_ref", S),
    "self.sources_ms_per_op": ("ms", "lower", "sources", "op_cpu_vs_ref", A),
    "self.operators_ms_per_op": ("ms", "lower", "operators", "op_cpu_vs_ref", A),
    "self.lake_ms_per_op": ("ms", "lower", "lake", "op_cpu_vs_ref", S),
    "self.warehouse_ms_per_op": ("ms", "lower", "warehouse", "op_cpu_vs_ref", S),
    "self.streaming_ms_per_op": ("ms", "lower", "streaming", "op_cpu_vs_ref", S),
    "self.bench_ms_per_op": ("ms", "lower", "benchmark glue", "op_cpu_vs_ref", "both"),
    "trace.overhead_ms": ("ms", "lower", "tracing", "op_cpu_vs_ref", "both"),
}

LAYERS = ("sources", "operators", "lake", "warehouse", "streaming", "bench")


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    tracer: Tracer
    detail: dict = field(default_factory=dict)
    spark_counts: dict = field(default_factory=dict)  # per traced operation


def select(result: Result, traced: bool) -> dict:
    """The metrics block of the result line: every end-to-end metric, or
    with ``traced`` every per-layer metric, each with its unit."""
    table, values = (PER_LAYER, result.per_layer) if traced else (END_TO_END, result.end_to_end)
    missing = [name for name in table if name not in values]
    if missing:
        raise KeyError(f"workload did not report {missing}")
    return {name: {"value": values[name], "unit": table[name][0]} for name in table}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_type(samples: list[tuple[str, float]], stat=statistics.median) -> float:
    """Geometric mean over operation types of ``stat`` of each type's
    samples. A plain median over a mix of query types jumps between types
    from run to run; this stays put when each type's own cost does."""
    by_type: dict[str, list[float]] = {}
    for kind, ms in samples:
        by_type.setdefault(kind, []).append(ms)
    if not by_type:
        return 0.0
    return statistics.geometric_mean([stat(v) for v in by_type.values()])


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


def layer_metrics(tracer: Tracer, ops: dict[str, float], spark_groups: dict[str, dict],
                  cores: int, traced_p50: float, untraced_p50: float) -> dict:
    """Per-layer metrics every workload shares: Spark counts per traced
    operation (``ops`` maps each traced operation id to its wall ms), the
    share of the cores busy while they ran, self time per layer per
    operation, and tracing overhead."""
    n_ops = max(1, len(ops))
    per_op = [spark_groups.get(op, {}) for op in ops]
    out = {
        f"spark.{key}_per_op": sum(g.get(key, 0) for g in per_op) / n_ops
        for key in ("jobs", "stages", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes")
    }
    busy_ms = sum(g.get("run_ms", 0) for g in per_op)
    out["spark.core_busy_ratio"] = busy_ms / max(1e-9, sum(ops.values()) * cores)
    self_ms = tracer.self_times_ms()
    for layer in LAYERS:
        total = sum(v for name, v in self_ms.items() if name.split(".", 1)[0] == layer)
        out[f"self.{layer}_ms_per_op"] = total / n_ops
    out["trace.overhead_ms"] = traced_p50 - untraced_p50  # CPU ms per operation
    return out
