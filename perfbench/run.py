#!/usr/bin/env python3
"""Benchmark of the lake/warehouse engine: one command, one workload per run.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine package is imported from the
checkout itself; every input is generated from ``--seed`` into
``.perfbench_work/`` and every Spark scratch file stays there too. Traces
go to ``.perfbench_out/``. The last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured untraced;
``--trace 1`` reports the per-layer metrics from a traced run and writes
the spans and Spark counts to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("analyst_queries", "warehouse_sync")


def host_sizing(work: str) -> dict:
    """Size the engine to this host and keep its scratch inside ``work``.
    Must run before the engine package (and pyspark) is imported."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        # the session's own guidance for a local deployment: 2-4x the cores
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * cpus),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    return {"nproc": cpus, "heap": f"{heap_gb}g", "shuffle_partitions": 2 * cpus,
            "host_mem_gb": round(mem_gb, 1)}


def versions(spark) -> dict:
    jvm_property = spark.sparkContext._jvm.System.getProperty
    return {
        "python": platform.python_version(),
        "spark": spark.version,
        "java": f"{jvm_property('java.vendor')} {jvm_property('java.version')}",
    }


def _stop_jvm() -> None:
    """End the Spark JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: minimal inputs, for the benchmark's own tests",
    )
    args = ap.parse_args(argv)

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    stamp = host_sizing(run_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import construction_data_lake_et_data_warehouse_tp3_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not found under {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    import report

    if args.workload == "analyst_queries":
        import analyst as workload
    else:
        import sync as workload

    stamp.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "size": args.size, "seconds": args.seconds})
    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    try:
        result = workload.run(run_dir, args.seed, args.seconds, bool(args.trace), args.size)
        stamp.update(versions(SparkSession.getActiveSession()))
    finally:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    stamp["wall_s"] = round(time.perf_counter() - t0, 2)
    if args.trace:
        os.makedirs(OUT, exist_ok=True)
        trace_path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
        result.tracer.write(trace_path, {
            "stamp": stamp, "detail": result.detail, "spark_counts": result.spark_counts,
            "self_ms": result.tracer.self_times_ms(),
            "per_layer": report.select(result, traced=True),
        })
        stamp["trace_file"] = os.path.relpath(trace_path, ROOT)
    metrics = report.select(result, traced=bool(args.trace))
    print(json.dumps({"stamp": stamp, "detail": result.detail}, default=str))
    print(json.dumps({
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
