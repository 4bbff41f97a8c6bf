"""Engine CLI — the operational surface of the reference's scripts,
unified (`python -m construction_data_lake_et_data_warehouse_tp3_spark <cmd>`):

  feeds list|add|archive|restore|disable|enable   ≙ manage_feeds.py
  export stream|table                             ≙ export_to_data_lake.py
  retention streams|versions [--dry-run]          ≙ data_retention.py
  sync-warehouse [--version N] [--atomic]         ≙ sync_to_mysql.py
  permissions grant|list                          ≙ permissions_manager.py
  generate --topic --messages                     ≙ kafka_producer.py
  vacuum --root [--keep N]                        (lake-transaction staging)
  zorder --input --output --columns [--files N]   (Morton-curve layout)
  compact --path [--target-mb] [--min-files]      (small-file compaction)
  analyze [--sf-dir] [--tables]                   (CBO table statistics)
  profile --input [--columns]                     (per-column profile)
  check --input --output --expect NAME=PREDICATE  (write-time expectations)
  curate --input --store [--eval-shingles]        (continuous manifest)

One SparkSession per invocation; feeds live under --lake-root (default
$SPARK_GRAFT_LAKE or /tmp/tp3_lake). The reference's subprocess-based
orchestrator (beam_orchestrator.py:32-59) becomes direct function calls —
an external scheduler (cron) invokes these subcommands.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _lake_root(args) -> str:
    return args.lake_root or os.environ.get("SPARK_GRAFT_LAKE", "/tmp/tp3_lake")


def _spark():
    from .session import get_spark

    spark = get_spark("tp3-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_feeds(args) -> int:
    from .lake import FeedCatalog, FeedConfig

    if args.action != "list" and not args.name:
        print(f"error: feeds {args.action} requires a feed name", file=sys.stderr)
        return 2
    catalog = FeedCatalog(_lake_root(args))
    if args.action == "list":
        for archived in (False, True):
            for cfg in catalog.list(archived=archived):
                tag = "ARCHIVED" if archived else ("enabled" if cfg.enabled else "disabled")
                print(f"{cfg.feed_name:32s} {cfg.feed_type.value:7s} {tag:9s} {cfg.description}")
    elif args.action == "add":
        cfg = catalog.add(
            FeedConfig(
                feed_name=args.name,
                feed_type=args.type,
                source=args.source or args.name,
                partitioning="date" if args.type == "stream" else "version",
                storage_mode="append" if args.type == "stream" else "overwrite",
            )
        )
        print(f"created feed {cfg.feed_name}")
    elif args.action in ("archive", "restore", "disable", "enable"):
        getattr(catalog, args.action)(args.name)
        print(f"{args.action}d {args.name}")
    elif args.action == "delete":
        catalog.delete(args.name, confirm=args.confirm)
        print(f"deleted feed config {args.name} (data retained)")
    return 0


def cmd_export(args) -> int:
    from .lake import DataLakeWriter, FeedCatalog
    from .sources.registry import load_table

    spark = _spark()
    catalog = FeedCatalog(_lake_root(args))
    writer = DataLakeWriter(spark, catalog)
    config = catalog.get(args.feed)
    df = load_table(spark, args.sf_dir, args.table)
    if args.kind == "stream":
        result = writer.export_stream(df, config, event_time_col=args.event_time_col)
    else:
        result = writer.export_table(df, config)
    print(json.dumps(result))
    return 0


def cmd_retention(args) -> int:
    from .lake import FeedCatalog, apply_stream_retention, apply_version_retention
    from .lake.catalog import FeedType

    catalog = FeedCatalog(_lake_root(args))
    for cfg in catalog.list():
        path = catalog.feed_data_path(cfg)
        if args.kind == "streams" and cfg.feed_type is FeedType.STREAM:
            try:
                victims = apply_stream_retention(
                    path, args.days or cfg.retention_days or 365, dry_run=args.dry_run
                )
            except ValueError as exc:  # a file-sink feed: refused, untouched
                print(f"{cfg.feed_name}: refused: {exc}")
                continue
        elif args.kind == "versions" and cfg.feed_type is FeedType.TABLE:
            victims = apply_version_retention(
                path, args.keep or cfg.keep_versions or 7, dry_run=args.dry_run
            )
        else:
            continue
        verb = "would delete" if args.dry_run else "deleted"
        print(f"{cfg.feed_name}: {verb} {len(victims)} partitions")
    return 0


def cmd_sync_warehouse(args) -> int:
    spark = _spark()
    if args.atomic:
        if args.jdbc_url:
            raise SystemExit("--atomic is the lake-transaction path; drop --jdbc-url")
        from .warehouse.star import sync_warehouse_atomic

        counts, snapshot = sync_warehouse_atomic(
            spark, args.sf_dir, args.warehouse_root, snapshot_version=args.version
        )
        print(json.dumps({"snapshot": snapshot, **counts}))
        return 0
    from .warehouse import sync_warehouse

    counts = sync_warehouse(
        spark,
        args.sf_dir,
        args.warehouse_root,
        snapshot_version=args.version,
        mode="jdbc" if args.jdbc_url else "parquet",
        jdbc_url=args.jdbc_url,
    )
    print(json.dumps(counts))
    return 0


def cmd_vacuum(args) -> int:
    from .lake.transaction import Lakehouse

    removed = Lakehouse(_spark(), args.root).vacuum(keep_snapshots=args.keep)
    print(json.dumps({"removed": removed}))
    return 0


def cmd_zorder(args) -> int:
    from .lake.layout import write_zordered

    spark = _spark()
    df = spark.read.parquet(args.input)
    write_zordered(df, args.output, args.columns.split(","), n_files=args.files)
    print(f"z-ordered {args.input} by ({args.columns}) into {args.files} files at {args.output}")
    return 0


def cmd_compact(args) -> int:
    from .lake.maintenance import compact_partition

    spark = _spark()
    try:
        stats = compact_partition(
            spark, args.path, target_file_mb=args.target_mb, min_files_to_compact=args.min_files
        )
    except ValueError as exc:  # a Spark file-sink partition
        print(f"error: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(stats))
    return 0


def cmd_analyze(args) -> int:
    from .plans.cbo import analyze_tables, register_stats_tables, table_row_count_stat

    spark = _spark()
    mapping = register_stats_tables(spark, args.sf_dir, tuple(args.tables.split(",")))
    analyze_tables(spark, list(mapping.values()))
    print(json.dumps({n: table_row_count_stat(spark, c) for n, c in mapping.items()}))
    return 0


def cmd_permissions(args) -> int:
    from .lake.permissions import PermissionsManager

    spark = _spark()
    pm = PermissionsManager(spark, os.path.join(_lake_root(args), "permissions"))
    if args.action == "grant":
        pm.grant(args.email, args.folder, args.mode, granted_by=args.granted_by)
        print(f"granted {args.mode} on {args.folder} to {args.email}")
    elif args.action == "list":
        for row in pm.list().collect():
            state = "active" if row["is_active"] else "revoked"
            print(f"{row['user_email']:30s} {row['permission_type']:6s} {row['folder_path']} [{state}]")
    return 0


def cmd_generate(args) -> int:
    from .sources import generator

    spark = _spark()
    builders = {
        "transaction_stream": generator.transaction_batch,
        "transaction_flattened": generator.flattened_batch,
        "transaction_stream_anonymized": generator.anonymized_batch,
        "transaction_stream_blacklisted": generator.blacklisted_batch,
    }
    df = builders[args.topic](spark, args.messages)
    if args.out:
        df.write.mode("append").json(args.out)
        print(f"wrote {args.messages} {args.topic} messages to {args.out}")
    else:
        df.show(10, truncate=False)
    return 0


def cmd_profile(args) -> int:
    from .operators.profiling import profile_df

    spark = _spark()
    df = spark.read.parquet(args.input)
    cols = tuple(args.columns.split(",")) if args.columns else tuple(df.columns)
    for row in profile_df(df, cols).collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_check(args) -> int:
    from .lake.observe import ExpectationError, checked_write

    spark = _spark()
    checks = {}
    for item in args.expect:
        name, _, predicate = item.partition("=")
        if not predicate:
            print(f"bad --expect {item!r}: want name=predicate", file=sys.stderr)
            return 2
        checks[name] = predicate
    df = spark.read.parquet(args.input)
    try:
        metrics = checked_write(
            df, args.output, checks, on_violation=args.on_violation
        )
    except ExpectationError as exc:
        print(json.dumps(exc.metrics))
        return 1
    print(json.dumps(metrics))
    return 0


def cmd_curate(args) -> int:
    """Continuous training-manifest maintenance over a document stream:
    drain everything currently in --input (availableNow) through the
    StreamingManifest fold, then print the manifest. Re-running with the
    same --store/--checkpoint resumes incrementally — only NEW files
    fold, and the manifest stays equal to the batch capstone over
    everything ingested so far."""
    from pyspark.sql import functions as F

    from .operators.quality import _SHINGLES, EVAL_MOD, TOKENS
    from .streaming.manifest_stream import StreamingManifest

    spark = _spark()
    docs = spark.read.parquet(args.input)
    if args.eval_shingles:
        ev = [s for s in open(args.eval_shingles).read().splitlines() if s]
    else:
        ev = None
    # The manifest's differential guarantee requires the eval-shingle set
    # FROZEN at first construction: candidates admitted in earlier runs
    # were never screened against later shingles, so a set that drifts on
    # resume silently breaks manifest == batch-capstone.  Persist the set
    # into the store on first run and reload it on every resume; a
    # conflicting explicit --eval-shingles is an error, not a silent swap.
    frozen_path = os.path.join(args.store, "eval_shingles.json")
    if os.path.exists(frozen_path):
        with open(frozen_path) as fh:
            frozen = json.load(fh)
        if ev is not None and sorted(set(ev)) != frozen:
            print(
                json.dumps(
                    {
                        "error": "eval-shingles differ from the set frozen at "
                        "first run; the manifest's resume guarantee requires "
                        "the stored set",
                        "store": frozen_path,
                    }
                )
            )
            return 1
        ev = frozen
    else:
        if ev is None:
            ev = [
                r.ng
                for r in docs.where(F.col("doc_id") % EVAL_MOD == 0)
                .select(F.explode(F.expr(_SHINGLES.format(ws=TOKENS))).alias("ng"))
                .distinct()
                .collect()
            ]
        ev = sorted(set(ev))
        os.makedirs(args.store, exist_ok=True)
        with open(frozen_path, "w") as fh:
            json.dump(ev, fh)
    m = StreamingManifest(spark, args.store, eval_shingles=ev)
    stream = spark.readStream.schema(docs.schema).parquet(args.input)
    q = m.attach(
        stream.select("doc_id", "text", "source"),
        args.checkpoint or os.path.join(args.store, "_checkpoint"),
    )
    q.awaitTermination()
    out = m.manifest()
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"manifest_rows": out.count(), "out": args.out}))
    else:
        for row in out.orderBy("doc_id").collect():
            print(json.dumps(row.asDict()))
    return 0


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="tp3-spark")
    parser.add_argument("--lake-root", default=None)
    sub = parser.add_subparsers(dest="cmd", required=True)

    feeds = sub.add_parser("feeds")
    feeds.add_argument("action", choices=["list", "add", "archive", "restore", "disable", "enable", "delete"])
    feeds.add_argument("name", nargs="?")
    feeds.add_argument("--type", choices=["stream", "table"], default="stream")
    feeds.add_argument("--source")
    feeds.add_argument("--confirm", action="store_true")
    feeds.set_defaults(fn=cmd_feeds)

    export = sub.add_parser("export")
    export.add_argument("kind", choices=["stream", "table"])
    export.add_argument("feed")
    export.add_argument("--table", required=True, help="testdata table to export")
    export.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    export.add_argument("--event-time-col")
    export.set_defaults(fn=cmd_export)

    retention = sub.add_parser("retention")
    retention.add_argument("kind", choices=["streams", "versions"])
    retention.add_argument("--days", type=int)
    retention.add_argument("--keep", type=int)
    retention.add_argument("--dry-run", action="store_true")
    retention.set_defaults(fn=cmd_retention)

    sync = sub.add_parser("sync-warehouse")
    sync.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    sync.add_argument("--warehouse-root", default="/tmp/tp3_warehouse")
    sync.add_argument("--version", type=int, default=1)
    sync.add_argument("--jdbc-url", default=None, help="sync into an existing JDBC warehouse instead of parquet")
    sync.add_argument("--atomic", action="store_true", help="publish all tables as ONE lake-transaction snapshot")
    sync.set_defaults(fn=cmd_sync_warehouse)

    vacuum = sub.add_parser("vacuum", help="reclaim unreferenced lake-transaction staging dirs")
    vacuum.add_argument("--root", required=True)
    vacuum.add_argument("--keep", type=int, default=2, help="snapshots to retain")
    vacuum.set_defaults(fn=cmd_vacuum)

    zorder = sub.add_parser("zorder", help="rewrite a parquet dir along a multi-column Morton curve")
    zorder.add_argument("--input", required=True)
    zorder.add_argument("--output", required=True)
    zorder.add_argument("--columns", required=True, help="comma-separated z-order columns")
    zorder.add_argument("--files", type=int, default=16)
    zorder.set_defaults(fn=cmd_zorder)

    compact = sub.add_parser("compact", help="compact a partition's small files")
    compact.add_argument("--path", required=True)
    compact.add_argument("--target-mb", type=int, default=128)
    compact.add_argument("--min-files", type=int, default=4)
    compact.set_defaults(fn=cmd_compact)

    analyze = sub.add_parser("analyze", help="ANALYZE TABLE stats for CBO over testdata tables")
    analyze.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    analyze.add_argument("--tables", default="customer,orders,nation")
    analyze.set_defaults(fn=cmd_analyze)

    perms = sub.add_parser("permissions")
    perms.add_argument("action", choices=["grant", "list"])
    perms.add_argument("--email")
    perms.add_argument("--folder")
    perms.add_argument("--mode", choices=["read", "write", "admin"], default="read")
    perms.add_argument("--granted-by", default="cli")
    perms.set_defaults(fn=cmd_permissions)

    gen = sub.add_parser("generate")
    gen.add_argument("--topic", default="transaction_stream")
    gen.add_argument("--messages", type=int, default=100)
    gen.add_argument("--out")
    gen.set_defaults(fn=cmd_generate)

    prof = sub.add_parser("profile", help="per-column null/distinct/min/max profile of a parquet dir")
    prof.add_argument("--input", required=True)
    prof.add_argument("--columns", default=None, help="comma list; default: all")
    prof.set_defaults(fn=cmd_profile)

    check = sub.add_parser("check", help="copy a parquet dir with write-time expectations metered in the same job")
    check.add_argument("--input", required=True)
    check.add_argument("--output", required=True)
    check.add_argument("--expect", action="append", default=[], metavar="NAME=PREDICATE")
    check.add_argument("--on-violation", choices=["fail", "count"], default="fail")
    check.set_defaults(fn=cmd_check)

    curate = sub.add_parser(
        "curate",
        help="continuous training-manifest fold over a document dir"
        " (resumable: same --store/--checkpoint folds only new files)",
    )
    curate.add_argument("--input", required=True, help="parquet dir of (doc_id, text, source)")
    curate.add_argument("--store", required=True, help="manifest state root")
    curate.add_argument("--checkpoint", default=None)
    curate.add_argument("--eval-shingles", default=None,
                        help="file of frozen eval shingles, one per line"
                        " (default: derive from --input's eval slice)")
    curate.add_argument("--out", default=None, help="write manifest parquet here instead of stdout")
    curate.set_defaults(fn=cmd_curate)

    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
