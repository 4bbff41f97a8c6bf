#!/usr/bin/env python
"""Process-sharded test runner — pytest-xdist in spirit, zero deps.

The suite's wall clock is a broad tail of Spark micro-job latency spread
over ~55 test files; in-session thread pooling already collapsed the two
registry-wide sweeps (oracle parity / oracle types), but the rest is
per-file session work that only process parallelism can overlap. This
runner buckets test FILES across N pytest subprocesses (greedy
longest-processing-time using the measured per-file costs below; unknown
files assume DEFAULT_COST) and runs them concurrently, each with its own
SparkSession, --basetemp, and log.

Usage:
    python tools/partest.py            # 4 shards (fits local[8] x 4 on 32 cores)
    python tools/partest.py -n 6
    python tools/partest.py -- -k cluster   # extra args go to every shard

Exit code is non-zero if any shard fails; each shard's tail is replayed
so failures read like a plain pytest run. Plain `pytest tests/ -q` stays
fully supported — this wrapper only partitions files.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(REPO, "tests")

#: measured per-file wall costs (s) from `pytest --durations=0`, r13 host.
#: Only the RELATIVE sizes matter for bucketing; stale entries degrade
#: balance, never correctness.
COSTS = {
    "test_statistics_invariants.py": 52,
    "test_manifest_stream.py": 45,
    "test_cms_stream.py": 27,
    "test_empty_input.py": 14,
    "test_singleton_input.py": 32,
    "test_zero_vector_input.py": 12,
    "test_empty_text_input.py": 124,
    "test_oracle_parity.py": 215,
    "test_lake_transaction.py": 39,
    "test_late_dim_stream.py": 43,
    "test_r5h_ops.py": 122,
    "test_jdbc_sink.py": 25,
    "test_warehouse.py": 32,
    "test_property_r5e.py": 87,
    "test_stateful_sessions.py": 14,
    "test_stream_join.py": 18,
    "test_r4_late_ops.py": 23,
    "test_streaming.py": 35,
    "test_dedup_stream.py": 23,
    "test_r5e_ops.py": 16,
    "test_scd2_stream.py": 14,
    "test_cli.py": 100,
    "test_oracle_types.py": 11,
    "test_graph.py": 12,
    "test_incremental_sync.py": 10,
    "test_sketch_stream.py": 10,
    "test_plan_lint.py": 30,
    "test_rollup_stream.py": 9,
    "test_sketches.py": 9,
    "test_rate_stream_live.py": 8,
    "test_quality.py": 7,
    "test_r5f_ops.py": 7,
    "test_timetravel_schema.py": 7,
    "test_property_money.py": 6,
    "test_zorder_layout.py": 6,
    "test_bucketing_e2e.py": 3,
    "test_ppjoin_guard.py": 15,
    "test_dedup_recall.py": 15,
    "test_dirty_stream_parity.py": 69,
    "test_dirty_parity.py": 75,
    "test_r5_plans.py": 19,
    "test_skew_maintenance.py": 7,
    "test_lake.py": 3,
    "test_similarity_bucketed.py": 2,
}
DEFAULT_COST = 5


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", "--shards", type=int, default=4)
    ap.add_argument("rest", nargs="*", help="extra pytest args after --")
    args = ap.parse_args()

    files = sorted(
        f for f in os.listdir(TESTS) if f.startswith("test_") and f.endswith(".py")
    )
    # greedy LPT: heaviest file to the currently-lightest bucket
    buckets: list[list[str]] = [[] for _ in range(args.shards)]
    loads = [0.0] * args.shards
    for f in sorted(files, key=lambda f: -COSTS.get(f, DEFAULT_COST)):
        i = loads.index(min(loads))
        buckets[i].append(f)
        loads[i] += COSTS.get(f, DEFAULT_COST)

    tmp = tempfile.mkdtemp(prefix="partest_")
    procs = []
    t0 = time.monotonic()
    for i, bucket in enumerate(buckets):
        if not bucket:
            continue
        log = open(os.path.join(tmp, f"shard{i}.log"), "w")
        cmd = [
            sys.executable,
            "-m",
            "pytest",
            "-q",
            "--durations=0",
            "--durations-min=0.05",
            "--basetemp",
            os.path.join(tmp, f"bt{i}"),
            *[os.path.join("tests", f) for f in bucket],
            *args.rest,
        ]
        procs.append(
            (
                i,
                bucket,
                log,
                subprocess.Popen(
                    cmd, cwd=REPO, stdout=log, stderr=subprocess.STDOUT
                ),
            )
        )
        print(f"shard {i}: {len(bucket)} files (~{loads[i]:.0f}s est)", flush=True)

    rc = 0
    for i, bucket, log, p in procs:
        p.wait()
        log.close()
        tail = open(log.name).read().splitlines()
        status = "OK" if p.returncode == 0 else f"FAIL rc={p.returncode}"
        print(f"--- shard {i}: {status} ({log.name})")
        for line in tail[-(4 if p.returncode == 0 else 60):]:
            print(f"    {line}")
        rc = rc or p.returncode
    print(f"total wall: {time.monotonic() - t0:.1f}s rc={rc}")
    _report_measured_costs(tmp)
    return rc


def _report_measured_costs(tmp: str) -> None:
    """Sum per-test durations (pytest --durations=0 lines) into per-file
    wall costs and print the ones that drifted >30% from COSTS — paste
    the printed block over COSTS to retune the balance."""
    import glob
    import re

    pat = re.compile(r"^\s*([0-9.]+)s\s+(?:call|setup|teardown)\s+tests/([^:]+)::")
    measured: dict[str, float] = {}
    for log in glob.glob(os.path.join(tmp, "shard*.log")):
        for line in open(log):
            m = pat.match(line)
            if m:
                measured[m.group(2)] = measured.get(m.group(2), 0.0) + float(m.group(1))
    drifted = {
        f: c
        for f, c in measured.items()
        if abs(c - COSTS.get(f, DEFAULT_COST)) > 0.3 * max(c, COSTS.get(f, DEFAULT_COST))
        and max(c, COSTS.get(f, DEFAULT_COST)) >= 8
    }
    if drifted:
        print("\nCOSTS drift detected (measured vs table); refreshed entries:")
        for f, c in sorted(drifted.items(), key=lambda kv: -kv[1]):
            print(f'    "{f}": {round(c)},   # was {COSTS.get(f, DEFAULT_COST)}')


if __name__ == "__main__":
    raise SystemExit(main())
