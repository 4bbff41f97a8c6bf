"""Write-time expectations — Delta-Live-Tables-style data-quality gates
on the ingest path, metered by ``DataFrame.observe``: the counters ride
the SAME job that writes the parquet, so validation costs ZERO extra
scans (the reference validates nothing on write — export_to_data_lake.py
writes whatever arrived; the warehouse sync then trips over it row by
row).

Semantics:

- every check is a boolean SQL predicate over the row; its violation
  count (and the row total) accumulates inside the write job via an
  Observation;
- ``on_violation="fail"`` raises AFTER the write completes and reports
  every check's count — the caller decides whether to vacuum or keep
  the quarantined output (an atomic all-or-nothing variant composes
  with lake.transaction staging);
- ``on_violation="count"`` just returns the metrics — the monitoring
  posture.

Scale: Observation aggregates are plain partial-aggregated accumulators
attached to the scan→write pipeline; at 100 TB this is the difference
between "write + full validation re-scan" (2× IO) and "write with
metrics" (1×).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def counted(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Observation]:
    """df with its row count (and any extra aggregate ``metrics``) riding
    the job that writes it: read ``obs.get["records"]`` after the write;
    no second job re-runs df to count it. Observe the frame the write
    takes: AQE can drop a join branch it finds empty, Observation and all."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("records"), *metrics), obs


class ExpectationError(ValueError):
    """Raised when a fail-mode expectation is violated; carries the full
    metrics dict so the caller can log every check, not just the first."""

    def __init__(self, metrics: dict):
        self.metrics = metrics
        failed = {k: v for k, v in metrics.items() if k != "n_rows" and v}
        super().__init__(f"expectations violated: {failed} of {metrics['n_rows']} rows")


def checked_write(
    df: DataFrame,
    path: str,
    checks: Mapping[str, str],
    on_violation: str = "fail",
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` as parquet while counting expectation violations in
    the same job.  ``checks`` maps check name → boolean SQL predicate a
    GOOD row satisfies (e.g. ``{"amount_positive": "amount > 0"}``).
    Returns ``{"n_rows": N, <check>: violations, ...}``."""
    if on_violation not in ("fail", "count"):
        raise ValueError(f"on_violation must be fail|count, got {on_violation!r}")
    obs = Observation("expectations")
    metrics_cols = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(
            F.when(~F.expr(predicate), 1).otherwise(0)
        ).alias(name)
        for name, predicate in checks.items()
    ]
    df.observe(obs, *metrics_cols).write.mode(mode).parquet(path)
    # sum() over an empty frame observes NULL, not 0 — an empty parquet
    # dir / empty micro-batch must report {'n_rows': 0, ...}, not crash
    metrics = {k: int(v or 0) for k, v in obs.get.items()}
    if on_violation == "fail" and any(
        v for k, v in metrics.items() if k != "n_rows"
    ):
        raise ExpectationError(metrics)
    return metrics
