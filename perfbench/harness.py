"""Set-up shared by the workloads: session starts, table registration and
the workload's preparation (the analyst's warm-up passes, the sync's base
load), each timed in wall and CPU seconds."""

from __future__ import annotations

import os
import time
from collections.abc import Callable

import report
from tracing import CpuClock

#: Session starts per run: the first launches the JVM, the others restart
#: the Spark context in it; registration is repeated after each start.
SETUPS = 3


class SetUp:
    """The session a run measures with, and what setting it up cost."""

    def __init__(self, app: str, register: Callable, prepare: Callable):
        from construction_data_lake_et_data_warehouse_tp3_spark.session import get_spark

        py0 = sum(os.times()[:2])  # the JVM starts below, from 0
        self.start_s, self.reg_s, self.reg_cpu_s = [], [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = get_spark(app)
            t1 = time.perf_counter()
            if i == 0:
                self.cpu = CpuClock(spark)
                self.start_cpu_s = self.cpu() - py0
            c1 = self.cpu()
            register(spark)
            self.reg_cpu_s.append(self.cpu() - c1)
            self.start_s.append(t1 - t0)
            self.reg_s.append(time.perf_counter() - t1)
            if i < SETUPS - 1:
                spark.stop()
        self.spark = spark
        t0, c0 = time.perf_counter(), self.cpu()
        prepare(spark)
        self.warmup_s = time.perf_counter() - t0
        self.warmup_cpu_s = self.cpu() - c0

    @property
    def cpu_s(self) -> float:
        """First (cold) start + median registration + preparation, CPU seconds."""
        return self.start_cpu_s + report.median(self.reg_cpu_s) + self.warmup_cpu_s

    @property
    def wall_s(self) -> float:
        """The same, in wall seconds."""
        return self.start_s[0] + report.median(self.reg_s) + self.warmup_s

    def detail(self) -> dict:
        return {
            "setup_wall_s": round(self.wall_s, 3),
            "session_starts_s": [round(x, 3) for x in self.start_s],
            "registration_s": [round(x, 4) for x in self.reg_s],
            "warmup_s": round(self.warmup_s, 3),
            "setup_cpu": {
                "start": round(self.start_cpu_s, 2),
                "registration": [round(x, 3) for x in self.reg_cpu_s],
                "warmup": round(self.warmup_cpu_s, 2),
            },
        }
