"""The reference workload: fixed work by another engine, measured in the
same run as the engine's operations.

On a shared host the CPU time of the same code moves with other tenants'
load. On a 4-vCPU VM every analyst query type cost a fifth to a half more
CPU while the host's steal share was 10-24% than while it was under 1%.
A fixed DuckDB workload run in this process between the engine's
operations is slowed by the same load. Over ten analyst runs in which
the steal share ranged from 0.5% to 18%, the engine's CPU per query had
a quartile spread of 0.20 of its median and its ratio to the
reference's CPU 0.10. ``op_cpu_vs_ref`` is that ratio: it moves when
the engine's cost moves, and far less when the host's does.

The reference's data and queries are fixed: they depend neither on
``--seed`` nor on the engine's code, so only the host can move them.
"""

from __future__ import annotations

import statistics
import time

import duckdb

import gen

#: Seed and scale of the reference's own star schema (never ``--seed``).
SEED, SCALE = 0, 0.01
#: Passes over ``SQL`` per measurement: about 0.9 CPU-s on a 4-vCPU host.
REPEATS = 12
#: Joins, group-bys and a window over the star schema, the shapes of the
#: analyst queries, written here so the engine's code cannot change them.
SQL = (
    """SELECT l_returnflag, l_linestatus, sum(l_quantity),
              sum(l_extendedprice * (1 - l_discount)),
              sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
              avg(l_discount), count(*)
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01'
       GROUP BY 1, 2 ORDER BY 1, 2""",
    """SELECT o_orderkey, o_orderdate, sum(l_extendedprice * (1 - l_discount)) AS revenue
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
       GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
       FROM region JOIN nation ON r_regionkey = n_regionkey
                   JOIN customer ON c_nationkey = n_nationkey
                   JOIN orders ON o_custkey = c_custkey
                   JOIN lineitem ON l_orderkey = o_orderkey
                   JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = n_nationkey
       WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC""",
    """SELECT user_id, event_type, n FROM (
           SELECT user_id, event_type, count(*) AS n,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY count(*) DESC, event_type) AS rn
           FROM events GROUP BY user_id, event_type)
       WHERE rn = 1""",
    """SELECT p_brand, p_type, count(*), sum(l_quantity)
       FROM part JOIN lineitem ON p_partkey = l_partkey
       GROUP BY 1, 2 ORDER BY 1, 2""",
    """SELECT event_type, date_trunc('day', ts) AS day, count(*), sum(value)
       FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
)


class Reference:
    """A DuckDB connection holding the reference tables in memory, with
    the CPU seconds of every measurement made so far."""

    def __init__(self, threads: int):
        self._con = duckdb.connect()
        self._con.execute(f"SET threads TO {threads}")
        for name, table in gen.star_schema(SEED, SCALE).items():
            self._con.register("staged", table)
            self._con.execute(f"CREATE TABLE {name} AS SELECT * FROM staged")
            self._con.unregister("staged")
        self.samples_s: list[float] = []
        self.measure()  # the first pass warms DuckDB up; it is not kept
        self.samples_s.clear()

    def measure(self) -> float:
        """Run the reference once; its CPU seconds (every thread of this
        process, so DuckDB's workers too)."""
        c0 = time.process_time()
        for _ in range(REPEATS):
            for sql in SQL:
                self._con.execute(sql).fetchall()
        cpu = time.process_time() - c0
        self.samples_s.append(cpu)
        return cpu

    def cpu_ms(self) -> float:
        """Median CPU ms of the measurements so far."""
        return statistics.median(self.samples_s) * 1e3

    def close(self) -> None:
        self._con.close()
