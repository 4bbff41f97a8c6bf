"""Seeded input generators for the benchmark workloads.

Everything the engine reads is built here from ``--seed``: the same seed
gives byte-identical tables, change sets and wire payloads. Nothing here
times anything; generation happens before each timed region.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "red", "green", "black", "white", "small", "large", "steel")
NOUNS = ("anvil", "widget", "ring", "gear", "bolt", "panel", "valve", "brick")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: The star-schema tables the analyst workload reads, one parquet file each.
STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
)

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH = dt.datetime(1995, 1, 1)
_ORDER_DAYS = 2_404  # 1995-01-01 .. 2001-08-01, the TPC-H-ish date span
_EVENT_EPOCH = dt.datetime(2024, 1, 1)
_EVENT_DAYS = 30


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts drawn as integer cents (exact in float64)."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, options: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _ts(epoch: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus an ``events`` table, with the column
    names, types and value domains of the engine's reference test data.
    ``scale`` 0.01 gives 15k orders / ~60k lineitems / 10k events."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_orders = max(500, int(1_500_000 * scale))
    n_events = max(500, int(1_000_000 * scale))
    n_users = max(20, n_cust // 10)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{c} {n}" for c in COLORS for n in NOUNS]
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, tuple(names), n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_day = rng.integers(0, _ORDER_DAYS, n_orders)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(_ORDER_EPOCH, order_day * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    li_number = (np.arange(n_li) - np.repeat(starts, lines) + 1).astype(np.int32)
    li_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = order_day[li_order] + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": li_order,
        "l_partkey": li_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": li_number,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[li_part] * 100.0) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(_ORDER_EPOCH, ship_day * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, _EVENT_DAYS * _DAY_US, n_events))
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EVENT_EPOCH, ev_us),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_star_schema(root: str, seed: int, scale: float) -> int:
    """Write the star schema as ``<root>/<table>.parquet``; returns bytes."""
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, table in star_schema(seed, scale).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


class ChangeLedger:
    """The generator's own record of the live ``transactions`` rows.

    Inserts come from the engine's payload generator
    (``sources.generator.transaction_batch``), re-keyed per cycle so keys
    never collide; updates and deletes pick live keys with a seeded RNG.
    The ledger is what the correctness gate counts against."""

    COLUMNS = ("transaction_id", "user_id", "amount", "currency", "timestamp", "status")

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.seed = seed
        self.rows: dict[str, tuple] = {}
        self._pool: list[tuple] = []
        self._drawn = 0

    def fill_pool(self, spark, n: int) -> None:
        """Draw ``n`` insert payloads from the engine's generator in one job."""
        from construction_data_lake_et_data_warehouse_tp3_spark.sources.generator import (
            transaction_batch,
        )

        pdf = transaction_batch(spark, n, seed=self.seed).toPandas()
        self._pool = list(pdf.itertuples(index=False, name=None))
        self._drawn = 0

    def change_set(self, cycle: int, n_insert: int, n_update: int, n_delete: int):
        """One cycle's changes: (upsert rows, deleted keys). Applies them
        to the ledger. Timestamps are fixed per cycle so inputs repeat."""
        stamp = (dt.datetime(2024, 1, 1) + dt.timedelta(minutes=cycle)).strftime(
            "%Y-%m-%dT%H:%M:%S.000000Z"
        )
        live = sorted(self.rows)
        touched = self.rng.choice(len(live), min(len(live), n_update + n_delete), replace=False)
        upd_keys = [live[i] for i in touched[:n_update]]
        del_keys = [live[i] for i in touched[n_update:]]
        upserts = []
        for k in upd_keys:
            old = self.rows[k]
            amount = float(self.rng.integers(100, 50_000)) / 100.0
            status = "declined" if old[5] == "approved" else "approved"
            upserts.append((k, old[1], amount, old[3], stamp, status))
        batch = self._pool[self._drawn:self._drawn + n_insert]
        if len(batch) < n_insert:
            raise RuntimeError("insert pool exhausted; raise the pool size")
        self._drawn += n_insert
        for j, row in enumerate(batch):
            key = f"c{cycle}_{j}_{row[0]}"
            upserts.append((key, int(row[1]), float(row[2]), row[3], stamp, row[5]))
        for row in upserts:
            self.rows[row[0]] = row
        for k in del_keys:
            del self.rows[k]
        return upserts, del_keys

    def live_bytes(self) -> int:
        """Bytes of the live rows as user data (see ``row_bytes``)."""
        return sum(row_bytes(row) for row in self.rows.values())


def row_bytes(row: tuple) -> int:
    """Bytes of one ``transactions`` row as user data: UTF-8 strings plus
    8 bytes per numeric field. An exact count, independent of encoding."""
    return 16 + sum(len(row[i].encode()) for i in (0, 3, 4, 5))


def user_bytes(upserts: list[tuple], deletes: list[str]) -> int:
    """Bytes of one change set: its upserted rows plus its deleted keys."""
    return sum(row_bytes(r) for r in upserts) + sum(len(k.encode()) for k in deletes)

