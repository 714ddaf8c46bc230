"""spark-submit entry point.

Usage (local sandbox or a real cluster; on a cluster pass --master via
spark-submit and set SPARK_GRAFT_EXISTING_MASTER=1):

    # package the engine for executors
    python -m ore_etl_spark.cli package --out /tmp/ore_etl_spark.zip

    # one-shot backfill (chunked, resumable)
    spark-submit --py-files /tmp/ore_etl_spark.zip -m ore_etl_spark.cli ...
    # or locally:
    python -m ore_etl_spark.cli backfill --events /path/wal \\
        --table /path/target --state /path/state --chunk-size 100000

    # continuous tail
    python -m ore_etl_spark.cli tail --events ... --table ... --state ... \\
        --poll-interval 5 --max-polls 10

    # generate a synthetic WAL (deterministic, seeded)
    python -m ore_etl_spark.cli gen --out /path/wal --keys 100000

    # compact a MOR table / expire tombstones
    python -m ore_etl_spark.cli compact --table /path/target [--expire]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def _spark(args):
    from .session import get_spark

    return get_spark("ore-etl-cli", cpus=args.cpus)


def _table(spark, args, create: bool = True):
    from .pipeline.apply import target_schema
    from .tables.merge_table import MergeTable

    if MergeTable.exists(args.table):
        return MergeTable.load(spark, args.table)
    if not create:
        raise SystemExit(f"no table at {args.table}")
    return MergeTable.create(
        spark, args.table, target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=args.buckets,
    )


def cmd_gen(args):
    from .datagen.wal import generate_wal

    spark = _spark(args)
    generate_wal(spark, n_keys=args.keys, n_partitions=args.partitions,
                 seed=args.seed).write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"written": args.out, "n_events": n}))


def cmd_backfill(args):
    from .pipeline.apply import CdcApplyPipeline
    from .pipeline.backfill import BackfillRunner

    spark = _spark(args)
    pipe = CdcApplyPipeline(spark, args.events, _table(spark, args),
                            args.state, mode=args.mode,
                            compact_every=args.compact_every,
                            events_format=args.format)
    # single worker: any 'running' chunk is a crash leftover (steal at 0s).
    # multi-worker: live peers hold 'running' chunks, but a chunk whose
    # heartbeat went quiet for --stale-after seconds is a crashed worker's
    # — stealable, or a kill -9'd run would strand its ranges forever.
    stale = 0.0 if args.workers <= 1 else args.stale_after
    bf = BackfillRunner(pipe, f"{args.state}/chunks.json", args.chunk_size,
                        stale_after_s=stale)
    done = bf.run(n_workers=args.workers)
    print(json.dumps({"chunks_completed": len(done),
                      "table_version": pipe.table.version}))


def cmd_tail(args):
    from .pipeline.apply import CdcApplyPipeline
    from .pipeline.continuous import tail_loop

    spark = _spark(args)
    pipe = CdcApplyPipeline(spark, args.events, _table(spark, args),
                            args.state, mode=args.mode,
                            events_format=args.format)
    res = tail_loop(pipe, poll_interval_s=args.poll_interval,
                    max_polls=args.max_polls,
                    stop_when_idle=args.stop_when_idle)
    print(json.dumps({"batches": len(res), "table_version": pipe.table.version}))


def cmd_compact(args):
    import uuid

    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    m = tbl.compact(f"cli-compact-{uuid.uuid4().hex[:8]}",
                    retain_tombstones=not args.expire,
                    rows_per_file=args.rows_per_file)
    print(json.dumps({"version": m.version,
                      "n_buckets": m.n_buckets_touched}))


def cmd_maintain(args):
    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    res = tbl.maintain(compact_depth=args.compact_depth,
                       keep_snapshots=args.keep_last)
    print(json.dumps(res))


def cmd_vacuum(args):
    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    expired = tbl.expire_snapshots(keep_last=args.keep_last)
    stats = tbl.vacuum(min_age_s=args.min_age_s)
    print(json.dumps({"expired_versions": expired, **stats}))


def cmd_rollback(args):
    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    snap = tbl.rollback(args.to_version)
    print(json.dumps({"version": snap["version"],
                      "rolled_back_to": args.to_version}))


def cmd_history(args):
    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    print(json.dumps(tbl.history()))


def cmd_tag(args):
    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    if args.drop:
        if args.at_version is not None:
            raise SystemExit("--drop and --at-version are mutually exclusive")
        tbl.drop_tag(args.name)
        print(json.dumps({"dropped": args.name}))
    else:
        v = tbl.tag(args.name, args.at_version)
        print(json.dumps({"tag": args.name, "version": v}))


def cmd_changes(args):
    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    df = tbl.changes(args.from_version, args.to_version)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out,
                          "n_changes": spark.read.parquet(args.out).count()}))
    else:
        from pyspark.sql import functions as F

        by_type = {r["_change_type"]: r["n"] for r in
                   df.groupBy("_change_type").agg(F.count("*").alias("n"))
                     .collect()}
        print(json.dumps({"n_changes": sum(by_type.values()),
                          "by_type": by_type}))


def cmd_rebucket(args):
    import uuid

    spark = _spark(args)
    tbl = _table(spark, args, create=False)
    m = tbl.rebucket(args.n_buckets, f"cli-rebucket-{uuid.uuid4().hex[:8]}")
    print(json.dumps({"version": m.version, "n_buckets": args.n_buckets}))


def cmd_view_refresh(args):
    from .pipeline.incremental_view import IncrementalAggView
    from .tables.merge_table import MergeTable

    spark = _spark(args)
    src = MergeTable.load(spark, args.table)
    view = IncrementalAggView(
        spark, src, args.view,
        group_cols=args.group_cols.split(","),
        sum_cols=args.sum_cols.split(",") if args.sum_cols else [],
    )
    res = view.refresh()
    print(json.dumps(res))


def cmd_package(args):
    """Zip the package for spark-submit --py-files."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    base = os.path.dirname(pkg_root)
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in os.walk(pkg_root):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, base))
    print(json.dumps({"py_files": args.out}))


def main(argv=None):
    ap = argparse.ArgumentParser(prog="ore_etl_spark")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen")
    g.add_argument("--out", required=True)
    g.add_argument("--keys", type=int, default=100000)
    g.add_argument("--partitions", type=int, default=32)
    g.add_argument("--seed", type=int, default=42)
    g.set_defaults(fn=cmd_gen)

    for name, fn in (("backfill", cmd_backfill), ("tail", cmd_tail)):
        p = sub.add_parser(name)
        p.add_argument("--events", required=True)
        p.add_argument("--table", required=True)
        p.add_argument("--state", required=True)
        p.add_argument("--buckets", type=int, default=64)
        p.add_argument("--mode", choices=["cow", "mor"], default="cow")
        p.add_argument("--format", choices=["parquet", "jsonl"],
                       default="parquet",
                       help="WAL archive format (jsonl = schema-on-read "
                            "newline-delimited JSON; malformed lines are "
                            "quarantined, never dropped)")
        p.add_argument("--compact-every", type=int, default=None)
        if name == "backfill":
            p.add_argument("--chunk-size", type=int, default=1000000)
            p.add_argument("--workers", type=int, default=1,
                           help="concurrent chunk processors (reference "
                                "parity: 4); claims are ledger-atomic, "
                                "commits optimistic-CAS")
            p.add_argument("--stale-after", type=float, default=600.0,
                           help="with --workers>1: steal a 'running' chunk "
                                "whose heartbeat is older than this many "
                                "seconds (crashed-worker recovery)")
        else:
            p.add_argument("--poll-interval", type=float, default=5.0)
            p.add_argument("--max-polls", type=int, default=None)
            p.add_argument("--stop-when-idle", action="store_true")
        p.set_defaults(fn=fn)

    c = sub.add_parser("compact")
    c.add_argument("--table", required=True)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--expire", action="store_true",
                   help="drop tombstones (only after the out-of-order horizon)")
    c.add_argument("--rows-per-file", type=int, default=None,
                   help="range-split each sorted bucket into files of at "
                        "most this many rows (per-file bounds pruning)")
    c.set_defaults(fn=cmd_compact)

    mt = sub.add_parser("maintain")
    mt.add_argument("--table", required=True)
    mt.add_argument("--buckets", type=int, default=64)
    mt.add_argument("--compact-depth", type=int, default=4)
    mt.add_argument("--keep-last", type=int, default=10)
    mt.set_defaults(fn=cmd_maintain)

    v = sub.add_parser("vacuum")
    v.add_argument("--table", required=True)
    v.add_argument("--buckets", type=int, default=64)
    v.add_argument("--keep-last", type=int, default=10)
    v.add_argument("--min-age-s", type=float, default=3600.0,
                   help="keep unreferenced dirs younger than this "
                        "(protects concurrent writers' in-flight attempts)")
    v.set_defaults(fn=cmd_vacuum)

    ro = sub.add_parser("rollback")
    ro.add_argument("--table", required=True)
    ro.add_argument("--buckets", type=int, default=64)
    ro.add_argument("--to-version", type=int, required=True)
    ro.set_defaults(fn=cmd_rollback)

    hi = sub.add_parser("history")
    hi.add_argument("--table", required=True)
    hi.add_argument("--buckets", type=int, default=64)
    hi.set_defaults(fn=cmd_history)

    tg = sub.add_parser("tag")
    tg.add_argument("--table", required=True)
    tg.add_argument("--buckets", type=int, default=64)
    tg.add_argument("--name", required=True)
    tg.add_argument("--at-version", type=int, default=None)
    tg.add_argument("--drop", action="store_true")
    tg.set_defaults(fn=cmd_tag)

    ch = sub.add_parser("changes")
    ch.add_argument("--table", required=True)
    ch.add_argument("--buckets", type=int, default=64)
    ch.add_argument("--from-version", type=int, required=True)
    ch.add_argument("--to-version", type=int, default=None)
    ch.add_argument("--out", default=None,
                    help="write the changelog as parquet instead of counting")
    ch.set_defaults(fn=cmd_changes)

    rb = sub.add_parser("rebucket")
    rb.add_argument("--table", required=True)
    rb.add_argument("--buckets", type=int, default=64)
    rb.add_argument("--n-buckets", type=int, required=True)
    rb.set_defaults(fn=cmd_rebucket)

    vr = sub.add_parser("view-refresh")
    vr.add_argument("--table", required=True, help="source MergeTable root")
    vr.add_argument("--view", required=True, help="view root directory")
    vr.add_argument("--group-cols", required=True,
                    help="comma-separated group columns")
    vr.add_argument("--sum-cols", default="",
                    help="comma-separated numeric columns to maintain sums for")
    vr.set_defaults(fn=cmd_view_refresh)

    pk = sub.add_parser("package")
    pk.add_argument("--out", default="/tmp/ore_etl_spark.zip")
    pk.set_defaults(fn=cmd_package)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
