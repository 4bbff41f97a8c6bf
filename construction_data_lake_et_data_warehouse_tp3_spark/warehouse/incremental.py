"""Incremental warehouse sync driven by the lake's change data feed —
the replacement for the reference's full-table re-sync
(sync_to_mysql.py:326-352 re-MERGEs every row every run): only the rows
that CHANGED between two lake snapshots touch the warehouse.

`apply_changes` consumes `Lakehouse.diff(table, from, to, keys)`:

- insert/update rows unpack their `_after` struct and delete rows give
  their keys; both go into ONE `merge_into`, so the interval rewrites
  the target once and commits one snapshot (idempotent: re-applying the
  same diff overwrites identical rows, and already-gone keys delete 0);
- the differential guarantee — incremental apply ≡ dropping the target
  and full-syncing the new snapshot — is proven by
  `test_incremental_sync.py`, not assumed.

Scale: only |changes| rows reach the warehouse MERGE, which rewrites
the target once per interval (O(target), merge.py's scale notes); the
diff's metadata fast path makes untouched tables free.
Ordering contract: apply diffs forward, one interval at a time (the
same snapshot-interval bookkeeping a Delta CDF consumer does).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..lake.transaction import Lakehouse
from .merge import ParquetTable, merge_into


def apply_changes(
    lakehouse: Lakehouse,
    table: str,
    target: ParquetTable,
    keys: tuple[str, ...],
    from_snapshot: int,
    to_snapshot: int,
) -> dict[str, int]:
    """Fold one snapshot interval's changes into the warehouse target in
    one MERGE (one commit); an interval without changes writes nothing.
    Returns {"upserted": n, "deleted": n}."""
    changes = lakehouse.diff(table, from_snapshot, to_snapshot, list(keys)).persist()
    try:
        if changes.isEmpty():
            return {"upserted": 0, "deleted": 0}
        upserts = changes.where(F.col("_change_type").isin("insert", "update"))
        deletes = changes.where(F.col("_change_type") == "delete")
        return merge_into(
            target, upserts.select(*keys, "_after.*"), keys, deletes=deletes
        )
    finally:
        changes.unpersist()
