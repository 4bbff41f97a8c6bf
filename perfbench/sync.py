"""``warehouse_sync``: the write path, closed loop of sync cycles.

Each cycle takes one generated change set (inserts, updates of live keys
and a few deletes) from Kafka wire records to the warehouse:

1. the change set lands as one wire-record file, by atomic rename, in the
   directory ``kafka_wire_twin`` watches, and ``ingest_stream_to_lake``
   drains it (``available_now``) into the lake's raw zone;
2. ``Lakehouse.begin()`` → ``write`` → ``commit`` publishes the new
   ``transactions`` snapshot (previous snapshot minus changed keys, plus
   the landed rows);
3. ``apply_changes`` folds the snapshot diff into the warehouse copy;
4. ``merge_into`` upserts the per-user summary derived from that copy
   into ``fact_user_transaction_summary``, keyed as in ``WAREHOUSE_TABLES``;
5. dashboard reads: two warehouse reads and one time-travel
   ``Lakehouse.read(snapshot=previous)``.

Sizes are those of an incremental sync measured on the engine: 2,000
changed rows a cycle into a ``transactions`` table of 200,000 rows. In one run each on a 4-vCPU host,
a cycle cost 13.9, 15.5 and 20.1 CPU seconds at 5,000, 50,000 and
200,000 base rows: below 50,000 the fixed cost of a cycle's ~50 Spark
jobs hides the full-table rewrite in ``apply_changes`` and ``merge_into``.

Set-up ends with the base load: the base rows become the lake's first
snapshot and the warehouse copy, and the summary table is created. One incremental cycle follows as the
untimed warm-up; it is timed on its own and is not part of ``setup_s``.
The table grows through the run. The correctness gate runs after the
timed loop.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

import gen
import report
from harness import SetUp
from reference import Reference
from tracing import HostWatch, Tracer, per_operation, spark_counts

SIZES = {  # base rows, then per cycle: inserts, updates, deletes
    "full": (200_000, 1000, 800, 200),
    "tiny": (200, 20, 10, 5),
}
MAX_CYCLES = 12  # sizes the insert pool
#: A run times at least this many cycles, and more while ``--seconds``
#: has not passed. A cycle is ~50 Spark jobs whose fixed cost dominates,
#: so smaller change sets would not make cycles much cheaper; with two,
#: a run lasts 80-111 s on a 4-vCPU host.
MIN_CYCLES = 2
KEYS = ("transaction_id",)
FACT = "fact_user_transaction_summary"
TOPIC = "transaction_stream"
#: spans whose Spark jobs write the warehouse
WAREHOUSE_WRITES = ("warehouse.apply_changes", "warehouse.merge")


def _du(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


class SyncPipeline:
    """The engine objects one run drives, and the paths they live under."""

    def __init__(self, spark, work: str, tracer: Tracer):
        from construction_data_lake_et_data_warehouse_tp3_spark.lake.transaction import (
            Lakehouse,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.merge import (
            ParquetTable,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.star import (
            Warehouse,
        )

        self.spark = spark
        self.tracer = tracer
        self.paths = {k: os.path.join(work, k) for k in
                      ("stage", "landing", "raw", "ckpt", "lake", "wh")}
        for k in ("stage", "landing"):
            os.makedirs(self.paths[k], exist_ok=True)
        self.lake = Lakehouse(spark, self.paths["lake"])
        self.wh = Warehouse(spark, self.paths["wh"])
        self.wh_tx = ParquetTable(spark, os.path.join(self.paths["wh"], "transactions"))
        self.snapshot = 0

    def payload(self, rows: list[tuple]):
        """``rows`` as the typed payload the stream's JSON parser yields."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.ingest import (
            json_feed_schema,
        )

        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=gen.ChangeLedger.COLUMNS), json_feed_schema(TOPIC)
        )

    def stage(self, cycle: int, upserts: list[tuple]) -> str:
        """Encode the change set as one Kafka wire-record file, ready to land."""
        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.ingest import (
            encode_wire_records,
        )

        out = os.path.join(self.paths["stage"], f"cycle-{cycle:05d}")
        wire = encode_wire_records(self.payload(upserts), TOPIC, "transaction_id")
        wire.coalesce(1).write.parquet(out)
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        path = f"{out}.parquet"
        os.rename(os.path.join(out, part), path)
        shutil.rmtree(out)
        return path

    def cycle(self, staged: str, upserts: list[tuple], deletes: list[str]) -> dict:
        """One sync cycle (steps 1-5 of the module docstring)."""
        from pyspark.sql import functions as F

        from construction_data_lake_et_data_warehouse_tp3_spark.streaming.ingest import (
            ingest_stream_to_lake,
            kafka_wire_twin,
            parse_kafka_json,
        )

        tr, spark, p = self.tracer, self.spark, self.paths
        stamp = upserts[0][4]
        os.rename(staged, os.path.join(p["landing"], os.path.basename(staged)))
        with tr.span("streaming.ingest"):
            query = ingest_stream_to_lake(
                parse_kafka_json(kafka_wire_twin(spark, p["landing"]), TOPIC),
                p["raw"], p["ckpt"], available_now=True,
            )
            query.awaitTermination()
        with tr.span("lake.read"):
            landed = (
                spark.read.parquet(p["raw"])
                .where(F.col("timestamp") == stamp)
                .select(*gen.ChangeLedger.COLUMNS)
            )
        return {**self.publish(landed, deletes), "progress": query.recentProgress}

    def load(self, rows) -> None:
        """The base load: ``rows`` become the first lake snapshot and, as
        they are, the warehouse copy; the summary table is created."""
        txn = self.lake.begin()
        txn.write("transactions", rows)
        self.snapshot = txn.commit()
        self.wh_tx.overwrite(self.lake.read("transactions"))
        self.merge_summary(self.snapshot)

    def merge_summary(self, snap: int) -> int:
        """Step 4: upsert the per-user summary of the warehouse copy."""
        from pyspark.sql import functions as F

        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.merge import (
            merge_into,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.star import (
            WAREHOUSE_TABLES,
        )

        summary = (
            self.wh_tx.read()
            .groupBy("user_id", F.col("status").alias("transaction_type"))
            .agg(
                F.round(F.sum("amount"), 2).alias("total_amount"),
                F.count("*").alias("transaction_count"),
            )
            .withColumn("snapshot_date", F.current_date())
            .withColumn("snapshot_version", F.lit(snap))
        )
        return merge_into(self.wh.table(FACT), summary, WAREHOUSE_TABLES[FACT])

    def publish(self, landed, deletes: list[str]) -> dict:
        """Steps 2-5 for the rows ``landed`` and the keys ``deletes``."""
        from pyspark.sql import functions as F

        from construction_data_lake_et_data_warehouse_tp3_spark.warehouse.incremental import (
            apply_changes,
        )

        tr, spark = self.tracer, self.spark
        with tr.span("lake.read"):
            changed = landed.select(*KEYS)
            if deletes:
                changed = changed.unionByName(
                    spark.createDataFrame([(k,) for k in deletes], "transaction_id string")
                )
            new_state = (
                self.lake.read("transactions")
                .join(changed, list(KEYS), "left_anti")
                .unionByName(landed)
            )
        txn = self.lake.begin()
        with tr.span("lake.txn_write"):
            txn.write("transactions", new_state)
        with tr.span("lake.txn_commit"):
            snap = txn.commit()
        with tr.span("warehouse.apply_changes"):
            applied = apply_changes(self.lake, "transactions", self.wh_tx, KEYS, self.snapshot, snap)
        with tr.span("warehouse.merge"):
            merged = self.merge_summary(snap)
        with tr.span("warehouse.dashboard_read"):
            (self.wh.read(FACT).where(F.col("snapshot_version") == snap)
             .orderBy(F.desc("total_amount"), "user_id", "transaction_type")
             .limit(10).collect())
        with tr.span("warehouse.dashboard_read"):
            self.wh_tx.read().groupBy("status").agg(
                F.count("*"), F.round(F.sum("amount"), 2)).collect()
        with tr.span("lake.snapshot_read"):
            self.lake.read("transactions", snapshot=self.snapshot).groupBy(
                "currency").count().collect()
        previous, self.snapshot = self.snapshot, snap
        return {"snapshot": snap, "previous": previous, "applied": applied,
                "merged": merged, "staged": txn.staged["transactions"]}


def run(work: str, seed: int, seconds: float, traced: bool, size: str) -> report.Result:
    from construction_data_lake_et_data_warehouse_tp3_spark.lake.transaction import Lakehouse

    n_base, n_ins, n_upd, n_del = SIZES[size]
    ledger = gen.ChangeLedger(seed)
    tracer = Tracer(False)
    state = {}

    def register(spark):
        Lakehouse(spark, os.path.join(work, "lake")).tables()

    def base_load(spark):
        """Insert payloads drawn from the engine's generator, then the base
        rows into the lake and the warehouse."""
        ledger.fill_pool(spark, n_base + MAX_CYCLES * n_ins)
        tracer.bind(spark)
        pipe = state["pipe"] = SyncPipeline(spark, work, tracer)
        upserts, _ = ledger.change_set(0, n_base, 0, 0)
        pipe.load(pipe.payload(upserts))

    setup = SetUp("perfbench-sync", register, base_load)
    spark, cpu, pipe = setup.spark, setup.cpu, state["pipe"]

    # the warm-up cycle runs the diff and merge plans cold; its CPU time
    # varied by 1.6x between runs, so it is neither timed nor set-up
    upserts, deletes = ledger.change_set(1, n_ins, n_upd, n_del)
    staged = pipe.stage(1, upserts)
    w0, wc0 = time.perf_counter(), cpu()
    pipe.cycle(staged, upserts, deletes)
    warm_cycle = {"s": round(time.perf_counter() - w0, 3), "cpu_s": round(cpu() - wc0, 2)}
    landed_rows = len(upserts)  # rows that came through the stream

    cycles: list[dict] = []
    attempted = raised = 0
    raw_files = _parquet_files(pipe.paths["raw"])
    ref = Reference(len(os.sched_getaffinity(0)))
    host = HostWatch()
    ref.measure()
    t_start = time.perf_counter()
    in_cycles = 0.0
    while ((attempted < MIN_CYCLES or time.perf_counter() - t_start < seconds)
           and attempted + 1 < MAX_CYCLES):
        c = attempted + 2  # cycle 0 is the base load, 1 the warm-up
        upserts, deletes = ledger.change_set(c, n_ins, n_upd, n_del)
        staged = pipe.stage(c, upserts)
        # traced run: every other cycle is traced, the rest measure the
        # tracing overhead
        on = traced and c % 2 == 1
        tracer.enabled = on
        attempted += 1
        c0, cpu_c0 = time.perf_counter(), cpu()
        try:
            with tracer.operation(f"c{c}"), tracer.span("bench.cycle"):
                out = pipe.cycle(staged, upserts, deletes)
        except Exception as exc:  # counted as failed; the gate still runs
            raised += 1
            print(f"perfbench: cycle {c} failed: {exc!r}", flush=True)
            break
        ms = (time.perf_counter() - c0) * 1e3
        cpu_ms = (cpu() - cpu_c0) * 1e3
        in_cycles += ms / 1e3
        tracer.enabled = False
        landed_rows += len(upserts)
        files = _parquet_files(pipe.paths["raw"])
        new_files = [files[f] for f in files if f not in raw_files]
        raw_files = files
        out.update({
            "cycle": c, "ms": ms, "cpu_ms": cpu_ms, "traced": on, "changed": len(upserts) + len(deletes),
            "new_files": new_files, "user_bytes": gen.user_bytes(upserts, deletes),
            "written_bytes": _du(os.path.join(pipe.paths["lake"], out["staged"])),
        })
        cycles.append(out)
        t_ref = time.perf_counter()
        ref.measure()
        t_start += time.perf_counter() - t_ref  # the clock times cycles only
    wall = time.perf_counter() - t_start
    host_state = host.detail()
    tracer.enabled = traced
    ref.close()

    t0 = time.perf_counter()
    gate = _gate(pipe, ledger, landed_rows)
    gate_s = time.perf_counter() - t0
    # a wrong final state cannot be pinned on one cycle: all count as failed
    failed = raised if gate["ok"] else attempted
    changed = sum(c["changed"] for c in cycles)
    untraced = [c for c in cycles if not c["traced"]]
    op_cpu_ms = report.median([c["cpu_ms"] for c in untraced])
    e2e = {"setup_s": setup.cpu_s, "op_cpu_vs_ref": op_cpu_ms / ref.cpu_ms()}
    stored = _du(pipe.paths["lake"], pipe.paths["raw"], pipe.paths["wh"])
    detail = {
        "cycles": len(cycles), "timed_wall_s": round(wall, 3),
        **host_state,
        "cycle_ms": [round(c["ms"], 1) for c in cycles],
        "cycle_cpu_ms": [round(c["cpu_ms"], 1) for c in cycles],
        "op_cpu_ms": round(op_cpu_ms, 1),
        "ref_cpu_ms": [round(s * 1e3, 1) for s in ref.samples_s],
        "op_wall_ms": round(min((c["ms"] for c in untraced), default=0.0), 1),
        "changed_rows_per_s": round(changed / in_cycles, 3) if in_cycles else 0.0,
        **setup.detail(),
        "warmup_cycle": warm_cycle,
        "gate_s": round(gate_s, 3),
        "rows_live": len(ledger.rows), "stored_bytes": stored,
        "live_user_bytes": ledger.live_bytes(), "gate": gate,
        "sizes": dict(zip(("base", "insert", "update", "delete"), SIZES[size])),
    }
    layer = {name: 0.0 for name in report.PER_LAYER}
    layer["session.start_s"] = setup.start_s[0]
    layer["session.warmup_s"] = setup.warmup_s
    layer["lake.stored_bytes_per_user_byte"] = stored / max(1, ledger.live_bytes())
    if traced:
        on = [c for c in cycles if c["traced"]]
        ops = {f"c{c['cycle']}": c["ms"] for c in on}
        raw_groups = spark_counts(spark)
        groups = per_operation(raw_groups)
        # streaming jobs run under the stream's own group, not the cycle's:
        # attribute them to the cycle whose query produced them
        for c in on:
            mine = groups.setdefault(f"c{c['cycle']}", {})
            for run_id in {prog["runId"] for prog in c["progress"]}:
                for key, val in groups.get(run_id, {}).items():
                    mine[key] = mine.get(key, 0) + val
        layer.update(report.layer_metrics(
            tracer, ops, groups, spark.sparkContext.defaultParallelism,
            report.median([c["cpu_ms"] for c in on]), report.median([c["cpu_ms"] for c in untraced]),
        ))
        for metric, span in (
            ("lake.txn_write_ms", "lake.txn_write"),
            ("lake.txn_commit_ms", "lake.txn_commit"),
            ("lake.snapshot_read_ms", "lake.snapshot_read"),
            ("warehouse.apply_changes_ms", "warehouse.apply_changes"),
            ("warehouse.merge_ms", "warehouse.merge"),
            ("warehouse.dashboard_read_ms", "warehouse.dashboard_read"),
            ("streaming.ingest_ms", "streaming.ingest"),
        ):
            layer[metric] = report.mean(tracer.durations_ms(span))
        batches = [prog for c in on for prog in c["progress"] if prog["numInputRows"]]
        dur = [prog["durationMs"] for prog in batches]
        layer["streaming.trigger_ms"] = report.mean([d.get("triggerExecution", 0) for d in dur])
        layer["streaming.add_batch_ms"] = report.mean([d.get("addBatch", 0) for d in dur])
        layer["streaming.bookkeeping_ms"] = report.mean([
            d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for d in dur
        ])
        layer["streaming.rows_per_batch"] = report.mean([b["numInputRows"] for b in batches])
        files = [f for c in on for f in c["new_files"]]
        layer["lake.files_per_batch"] = len(files) / max(1, len(batches))
        layer["lake.avg_file_bytes"] = report.mean(files)
        layer["lake.bytes_written_per_user_byte"] = (
            sum(c["written_bytes"] for c in on) / max(1, sum(c["user_bytes"] for c in on)))
        # records the write stages under the warehouse spans output, as
        # the monitoring endpoint counts them
        written = sum(raw_groups.get(f"{op}/{span}", {}).get("output_records", 0)
                      for op in ops for span in WAREHOUSE_WRITES)
        layer["warehouse.rows_rewritten_per_changed_row"] = (
            written / max(1, sum(c["changed"] for c in on)))
        detail["traced_cycles"] = len(on)
        detail["warehouse_rows_written"] = written
    return report.Result(
        correct=gate["ok"] and raised == 0,
        attempted=attempted,
        failed=failed,
        end_to_end=e2e,
        per_layer=layer,
        tracer=tracer,
        detail=detail,
        spark_counts={op: groups.get(op, {}) for op in ops} if traced else {},
    )


def _gate(pipe: SyncPipeline, ledger: gen.ChangeLedger, landed_rows: int) -> dict:
    """The final state against the generator's ledger and a full recompute."""
    from pyspark.sql import functions as F

    cols = list(gen.ChangeLedger.COLUMNS)
    want = set(ledger.rows.values())
    lake_rows = set(_rows(pipe.lake.tables()["transactions"], cols))
    wh_rows = _rows(pipe.wh_tx.path, cols)
    facts = [r for r in pq.read_table(pipe.wh.table(FACT).path).to_pylist()
             if r["snapshot_version"] == pipe.snapshot]
    summary: dict[tuple, list] = {}
    for row in ledger.rows.values():
        acc = summary.setdefault((row[1], row[5]), [0, 0])
        acc[0] += round(row[2] * 100)
        acc[1] += 1
    raw_rows, raw_unique = pipe.spark.read.parquet(pipe.paths["raw"]).agg(
        F.count("*"), F.count_distinct("transaction_id", "timestamp")).first()
    checks = {
        "lake_equals_ledger": lake_rows == want,
        "warehouse_equals_lake_snapshot": set(wh_rows) == lake_rows and len(wh_rows) == len(lake_rows),
        "warehouse_rows_equal_ledger": len(wh_rows) == len(ledger.rows),
        "summary_equals_recompute": {
            (r["user_id"], r["transaction_type"]): [round(r["total_amount"] * 100), r["transaction_count"]]
            for r in facts
        } == summary and len(facts) == len(summary),
        "raw_rows_equal_landed": raw_rows == landed_rows == raw_unique,
    }
    return {"ok": all(checks.values()), **checks}


def _rows(path: str, cols: list[str]) -> list[tuple]:
    """The rows of the parquet table at ``path``, read without the engine."""
    table = pq.read_table(path, columns=cols)
    return list(zip(*(table.column(n).to_pylist() for n in cols)))
