"""Spans, counts and Spark job attribution for the traced run.

Spans are recorded from the benchmark's own code around calls into the
engine's public functions; nothing is added inside the engine. A span has
a name, start, end, parent and the id of the operation it belongs to.
Spans stay in memory and are written out once, when the run ends.

Spark work is attributed to operations through ``setJobGroup``: every job
an operation submits carries the operation id, and the name of the span
it ran in, as its group (``<op>/<span>``), and Spark's own
monitoring endpoint (``/api/v1`` on localhost) gives each stage's tasks,
input, shuffle and spill bytes, records written and executor run time.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Collects spans; every method is a no-op when disabled, so untraced
    operations run the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def operation(self, op_id: str):
        """Group the spans and Spark jobs of one operation under ``op_id``."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        self._sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None

    @contextmanager
    def span(self, name: str):
        """Time ``name``; inside an operation, its Spark jobs go to the job
        group ``<op>/<name>`` (see ``per_operation``)."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        record = {
            "id": idx,
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(record)
        self._stack.append(idx)
        if self._op is not None:
            self._sc.setJobGroup(f"{self._op}/{name}", name)
        try:
            yield
        finally:
            self._stack.pop()
            record["end"] = time.perf_counter()
            if self._op is not None:
                outer = f"{self._op}/{self.spans[self._stack[-1]]['name']}" if self._stack else self._op
                self._sc.setJobGroup(outer, outer)

    # ---- derived views ---------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval covered by its direct children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            own = (s["end"] - s["start"]) - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1e3
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


COUNTS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes",
          "output_records", "run_ms")


def spark_counts(spark, timeout_s: float = 20.0) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, input/shuffle/spill bytes,
    records written and executor run time, from Spark's monitoring
    endpoint. Waits until the status store has seen every submitted job
    finish."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
    groups: dict[str, dict] = {}
    for job in jobs:
        g = groups.setdefault(job.get("jobGroup") or "", dict.fromkeys(COUNTS, 0))
        g["jobs"] += 1
        for sid in job["stageIds"]:
            st = stages.get(sid)
            if st is None:  # skipped: its output was reused from an earlier job
                continue
            g["stages"] += 1
            g["tasks"] += st["numCompleteTasks"]
            g["input_bytes"] += st["inputBytes"]
            g["shuffle_bytes"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
            g["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            g["output_records"] += st["outputRecords"]
            g["run_ms"] += st["executorRunTime"]
    return groups


def per_operation(groups: dict[str, dict]) -> dict[str, dict]:
    """Sum the job groups ``<op>`` and ``<op>/<span>`` into one entry per
    operation."""
    out: dict[str, dict] = {}
    for group, counts in groups.items():
        mine = out.setdefault(group.split("/", 1)[0], dict.fromkeys(COUNTS, 0))
        for key in COUNTS:
            mine[key] += counts[key]
    return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


class CpuClock:
    """CPU seconds used so far by the engine's processes: the Spark JVM
    plus this Python process. Unlike wall time it leaves out the time the
    host gave to other tenants (steal); it still rises when the host's
    cores run slower. The JVM's JIT threads (the compilers and the code
    cache sweeper) are left out too: what they spend is warm-up that the
    untimed passes did not finish, and it varies from run to run with the
    compiler's timing."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

    def __init__(self, spark):
        self._pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self._tick = os.sysconf("SC_CLK_TCK")
        # the JVM starts and ends compiler threads as load changes; an
        # ended thread's CPU stays in the process total, so keep its last
        # reading here rather than let it vanish from the JIT sum
        self._jit_ticks: dict[str, int] = {}

    def __call__(self) -> float:
        proc = f"/proc/{self._pid}"
        ticks = _stat_ticks(f"{proc}/stat")
        for tid in os.listdir(f"{proc}/task"):
            try:
                with open(f"{proc}/task/{tid}/comm") as fh:
                    if fh.read().startswith(self.JIT_THREADS):
                        self._jit_ticks[tid] = _stat_ticks(f"{proc}/task/{tid}/stat")
            except FileNotFoundError:  # the thread ended while we listed
                continue
        jit = sum(self._jit_ticks.values())
        own = os.times()
        return (ticks - jit) / self._tick + own.user + own.system


def _stat_ticks(path: str) -> int:
    """utime + stime from a /proc stat file."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class HostWatch:
    """How busy the host was over a region: the share of CPU time other
    tenants took (steal, from /proc/stat) and a fixed pure-Python loop's
    CPU ms before and after, so a reader can tell a slow run from a slow
    host."""

    def __init__(self):
        self._speed0 = _loop_ms()
        self._steal0 = _steal()

    def detail(self) -> dict:
        steal1 = _steal()
        share = (steal1[0] - self._steal0[0]) / max(1, steal1[1] - self._steal0[1])
        return {"host_steal_pct": round(100 * share, 2),
                "host_loop_ms": [round(self._speed0, 2), round(_loop_ms(), 2)]}


def _steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as fh:
        values = [int(v) for v in fh.readline().split()[1:9]]
    return values[7], sum(values)


def _loop_ms(repeats: int = 5) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.process_time()
        total = 0
        for i in range(300_000):
            total += i * i % 7
        times.append((time.process_time() - t0) * 1e3)
    return sorted(times)[len(times) // 2]
