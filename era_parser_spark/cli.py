"""Command-line interface — the reference's era-parser UX on Spark.

Reference command surface (README.md / era_parser/cli.py):
  era-parser <file> all-blocks out.parquet --separate     -> `parse`
  era-parser <file> block <slot>                          -> `block`
  era-parser <file> stats                                 -> `stats`
  era-parser --batch <glob> ...                           -> `parse` on a dir
  era-parser --remote gnosis 1082-1100 ... (incremental)  -> `batch`
  era-parser --era-status/--era-failed/--era-check        -> `era-status` etc.

Usage: python -m era_parser_spark <command> ...
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from era_parser_spark.session import get_spark

    return get_spark(app_name="era_parser_spark_cli")


def _resolve_input(path: str, network: str | None):
    """Remote sources (s3://, http(s)://) resolve to a discovered URL list;
    local paths pass through untouched."""
    if path.startswith(("s3://", "http://", "https://")):
        from era_parser_spark.sources.discovery import discover_auto

        found = discover_auto(path, network or "gnosis")
        if not found:
            raise ValueError(f"no era files discovered at {path}")
        return [p for _, p in found]
    return path


def cmd_parse(args) -> int:
    from era_parser_spark.operators.normalize import TABLES, all_tables, wide_blocks_table
    from era_parser_spark.sinks.writers import write_separate_datasets
    from era_parser_spark.sources.era import read_era_blocks

    spark = _spark()
    args.input = _resolve_input(args.input, args.network)
    tables = None
    if args.table not in ("all-blocks", "blocks-wide"):
        if args.table not in TABLES:
            print(f"unknown table {args.table!r}; one of: all-blocks, blocks-wide, "
                  + ", ".join(TABLES), file=sys.stderr)
            return 2
        tables = [args.table]
    slot_range = None
    if args.slots:
        lo, _, hi = args.slots.partition(":")
        slot_range = (int(lo), int(hi or lo))
    blocks = read_era_blocks(
        spark, args.input, network=args.network, glob=args.glob, tables=tables,
        slot_range=slot_range,
    ).cache()
    if args.table == "blocks-wide":
        out_tables = {"blocks_wide": wide_blocks_table(blocks)}
    else:
        # --separate is accepted for the reference CLI's sake: every
        # table is always written as its own dataset
        out_tables = all_tables(blocks, tables)
    counts = write_separate_datasets(out_tables, args.output, fmt=args.format)
    print(json.dumps({"written": counts, "output": args.output}))
    return 0


def cmd_discover(args) -> int:
    """List discoverable era files (local dir / s3:// / http(s)://)."""
    from era_parser_spark.sources.discovery import (
        discover_auto,
        filter_era_range,
        parse_era_range,
        probe_http_eras,
    )

    if args.probe:
        start, end = parse_era_range(args.range or "0+")
        found = probe_http_eras(args.source, args.network or "gnosis", start, end)
    else:
        found = filter_era_range(
            discover_auto(args.source, args.network or "gnosis"), args.range
        )
    for era, path in found:
        print(json.dumps({"era_number": era, "path": path}))
    return 0


def cmd_stats(args) -> int:
    from era_parser_spark.sources.era import read_era_blocks, scan_stats

    spark = _spark()
    args.input = _resolve_input(args.input, args.network)
    blocks = read_era_blocks(spark, args.input, network=args.network, glob=args.glob,
                             tables=["blocks"])
    for row in scan_stats(blocks).orderBy("era_number").collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_validate(args) -> int:
    """Strict archive integrity: CRC32C on every block, SlotIndex
    consistency, truncation detection — one JSON report line per file;
    exit 1 if anything fails."""
    from era_parser_spark.sources.era import validate_era_files

    spark = _spark()
    args.input = _resolve_input(args.input, args.network)
    rows = validate_era_files(spark, args.input, glob=args.glob).orderBy("path").collect()
    bad = 0
    for row in rows:
        d = row.asDict()
        bad += 0 if d["ok"] else 1
        print(json.dumps(d, default=str))
    return 1 if bad else 0


def cmd_slice(args) -> int:
    """Extract a slot range into a new standalone era file: SlotIndex-
    pushdown read (non-matching blocks never decompressed), re-encoded
    with a fresh block index.  Pure-kernel path like `block` — works on
    local paths and http(s)."""
    from era_parser_spark.parsing import snappy as _snappy
    from era_parser_spark.parsing.e2store import iter_block_payloads, write_era
    from era_parser_spark.sources.era import _fetch_era_bytes

    lo, _, hi = args.slots.partition(":")
    lo, hi = int(lo), int(hi or lo)
    data = _fetch_era_bytes(args.input)
    payloads = [
        _snappy.decompress(comp)
        for _slot, comp in iter_block_payloads(data, slot_range=(lo, hi))
    ]
    if not payloads:
        print(f"no blocks in slot range {lo}:{hi}", file=sys.stderr)
        return 1
    out = write_era(payloads)
    with open(args.output, "wb") as f:
        f.write(out)
    print(json.dumps({"output": args.output, "blocks": len(payloads),
                      "bytes": len(out), "slots": [lo, hi]}))
    return 0


def cmd_block(args) -> int:
    from era_parser_spark.config.networks import detect_network, fork_at_slot
    from era_parser_spark.parsing.beacon import parse_block, stringify
    from era_parser_spark.parsing.e2store import iter_block_payloads
    from era_parser_spark.sources.era import _fetch_era_bytes

    # point lookup: pure-kernel path, no Spark session needed (§3.3);
    # slot_range engages the SlotIndex so only the one matching record is
    # sliced (nothing else decompressed); works on local paths and http(s)
    network = args.network or detect_network(args.input)
    data = _fetch_era_bytes(args.input)
    for slot, payload in iter_block_payloads(data, slot_range=(args.slot, args.slot)):
        if slot == args.slot:
            doc = parse_block(payload, network)
            printable = {
                "data": stringify(doc["data"]),
                "version": doc["version"],
                "timestamp_utc": doc["timestamp_utc"],
                "metadata": doc["metadata"],
            }
            print(json.dumps(printable, indent=2))
            return 0
    print(f"slot {args.slot} not found (fork would be "
          f"{fork_at_slot(args.slot, network)})", file=sys.stderr)
    return 1


def cmd_batch(args) -> int:
    from era_parser_spark.streaming.incremental import run_incremental

    spark = _spark()
    results = run_incremental(
        spark,
        era_dir=args.input,
        out_base=args.output,
        state_path=args.state,
        network=args.network or "gnosis",
        era_range=args.range,
        tables=args.tables.split(",") if args.tables else None,
        force=args.force,
        per_era=args.per_era,
        exclusive=args.exclusive,
    )
    print(json.dumps({str(k): v for k, v in results.items()}))
    return 0


def _store(args):
    from era_parser_spark.state.era_state import EraStateStore

    return EraStateStore(_spark(), args.state)


def cmd_era_status(args) -> int:
    for row in _store(args).status_summary(args.network or "gnosis").collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_era_failed(args) -> int:
    rows = _store(args).failed_eras(args.network or "gnosis").orderBy("era_number").collect()
    for row in rows:
        print(json.dumps({"era_number": row.era_number, "retry_count": row.retry_count,
                          "error_message": (row.error_message or "")[:200]}))
    return 0


def cmd_era_check(args) -> int:
    latest = _store(args).latest_state()
    row = latest.filter(
        (latest.network == (args.network or "gnosis")) & (latest.era_number == args.era)
    ).first()
    print(json.dumps(row.asDict(), default=str) if row else "null")
    return 0


def cmd_clean_failed(args) -> int:
    """Reference `era-parser --clean-failed-eras <network>`
    (commands/state.py:106-127): drop partial data for every failed era
    and reset its state so the next batch retries it."""
    cleaned = _store(args).clean_failed(
        args.network or "gnosis",
        out_base=args.output,
        datasets=args.tables.split(",") if args.tables else None,
    )
    print(json.dumps({"cleaned_eras": cleaned, "count": len(cleaned)}))
    return 0


def cmd_compact_data(args) -> int:
    """Small-file compaction across warehouse datasets (the parquet version
    of the reference's OPTIMIZE TABLE ... FINAL between runs)."""
    from era_parser_spark.sinks.writers import compact_dataset
    from era_parser_spark.sql import register_warehouse_views

    spark = _spark()
    datasets = (
        args.tables.split(",")
        if args.tables
        else register_warehouse_views(spark, args.warehouse)
    )
    report = {}
    for name in datasets:
        done = compact_dataset(
            spark,
            f"{args.warehouse.rstrip('/')}/{name}",
            target_file_bytes=args.target_mb * 1024 * 1024,
        )
        if done:
            report[name] = done
    print(json.dumps({"compacted": report}))
    return 0


def cmd_compact_state(args) -> int:
    """Rewrite the append-only transition log into one file (the
    reference's OPTIMIZE TABLE ... FINAL moment between runs)."""
    rows = _store(args).compact_log()
    print(json.dumps({"rows": rows}))
    return 0


def cmd_explain(args) -> int:
    """Physical-plan inspection for any registered query: the plan-audit
    helpers (pushdown, column pruning, broadcast strategy, shuffle count)
    as a CLI verb — 'did my filter reach the scan?' becomes a one-liner.
    --mode formatted prints the full .explain("formatted") text."""
    from era_parser_spark.plans import formatted_plan, plan_summary
    from era_parser_spark.queries import load_all

    q, _ = load_all()
    if args.query not in q:
        close = sorted(n for n in q if args.query in n)[:10]
        raise ValueError(f"unknown query {args.query!r}; close matches: {close}")
    spark = _spark()
    df = q[args.query](spark, args.sf)
    if args.mode == "formatted":
        print(formatted_plan(df))
    else:
        print(json.dumps({"query": args.query, **plan_summary(df)}))
    return 0


def cmd_query(args) -> int:
    """Ad-hoc SQL over a written warehouse: every dataset directory under
    the base becomes a temp view named after itself (blocks, attestations,
    ...), then the statement runs through Spark SQL.  The reference pushes
    this job to ClickHouse (docs/CLICKHOUSE.md); a standalone engine should
    answer its own SQL.  Prints JSON lines, or writes with --output."""
    from era_parser_spark.sql import register_warehouse_views

    spark = _spark()
    names = register_warehouse_views(spark, args.warehouse)
    if not names:
        raise ValueError(f"no dataset directories under {args.warehouse}")
    df = spark.sql(args.sql)
    if args.output:
        from era_parser_spark.sinks import writers

        if args.format == "parquet":
            writers.write_parquet(df, args.output, partition_by_month=False)
        elif args.format == "csv":
            writers.write_csv(df, args.output)
        else:
            writers.write_jsonl(df, args.output)
        print(json.dumps({"output": args.output, "format": args.format}))
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_migrate(args) -> int:
    from era_parser_spark.state.migrations import MigrationRunner, builtin_migrations

    runner = MigrationRunner(_spark(), args.warehouse, builtin_migrations())
    if args.action in ("status", "list"):
        for m in runner.status():
            print(json.dumps(m))
        return 0
    applied = runner.run()
    print(json.dumps({"applied": applied}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="era_parser_spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--network", default=None)
        sp.add_argument("--glob", default="*.era")

    sp = sub.add_parser("parse", help="parse era file(s) into normalized tables")
    sp.add_argument("input")
    sp.add_argument("table", help="all-blocks | blocks-wide | <table name>")
    sp.add_argument("output")
    sp.add_argument("--separate", action="store_true")
    sp.add_argument("--format", default="parquet",
                    choices=["parquet", "csv", "jsonl", "json"])
    sp.add_argument("--slots", default=None, metavar="LO:HI",
                    help="inclusive slot range; prunes files by span and "
                         "uses the SlotIndex inside surviving files")
    common(sp)
    sp.set_defaults(fn=cmd_parse)

    sp = sub.add_parser("stats", help="record counts + slot ranges per era file")
    sp.add_argument("input")
    common(sp)
    sp.set_defaults(fn=cmd_stats)

    sp = sub.add_parser("discover", help="list era files at a local/s3/http source")
    sp.add_argument("source")
    sp.add_argument("--range", default=None, help="era range: N | N-M | N+")
    sp.add_argument("--probe", action="store_true",
                    help="HEAD-probe {source}/{network}-NNNNN.era instead of listing")
    sp.add_argument("--network", default=None)
    sp.set_defaults(fn=cmd_discover)

    sp = sub.add_parser("validate", help="strict integrity check per era file")
    sp.add_argument("input")
    common(sp)
    sp.set_defaults(fn=cmd_validate)

    sp = sub.add_parser("slice", help="extract a slot range into a new era file")
    sp.add_argument("input")
    sp.add_argument("slots", metavar="LO:HI")
    sp.add_argument("output")
    sp.set_defaults(fn=cmd_slice)

    sp = sub.add_parser("block", help="print one block as JSON by slot")
    sp.add_argument("input")
    sp.add_argument("slot", type=int)
    sp.add_argument("--network", default=None)
    sp.set_defaults(fn=cmd_block)

    sp = sub.add_parser("batch", help="incremental: process new eras, skip completed")
    sp.add_argument("input")
    sp.add_argument("output")
    sp.add_argument("--state", required=True)
    sp.add_argument("--range", default=None, help="era range: N | N-M | N+")
    sp.add_argument("--tables", default=None, help="comma-separated table subset")
    sp.add_argument("--force", action="store_true")
    sp.add_argument("--network", default=None)
    sp.add_argument("--per-era", action="store_true", dest="per_era",
                    help="one-era batches in era order, stopping at the first "
                         "failed era (reference-shaped); default is one batch "
                         "over all pending eras")
    sp.add_argument("--exclusive", action="store_true",
                    help="take the state-log lock for the run (multi-driver guard)")
    sp.set_defaults(fn=cmd_batch)

    sp = sub.add_parser("query", help="run SQL over a written warehouse")
    sp.add_argument("warehouse")
    sp.add_argument("sql")
    sp.add_argument("--output", default=None, help="write result instead of printing")
    sp.add_argument("--format", default="parquet",
                    choices=["parquet", "csv", "jsonl"])
    sp.add_argument("--limit", type=int, default=100,
                    help="rows to print when no --output (default 100)")
    sp.set_defaults(fn=cmd_query)

    for name, fn in (
        ("era-status", cmd_era_status),
        ("era-failed", cmd_era_failed),
        ("era-check", cmd_era_check),
    ):
        sp = sub.add_parser(name)
        sp.add_argument("--state", required=True)
        sp.add_argument("--network", default=None)
        if name == "era-check":
            sp.add_argument("era", type=int)
        sp.set_defaults(fn=fn)

    sp = sub.add_parser(
        "clean-failed-eras",
        help="delete partial data for failed eras and reset their state",
    )
    sp.add_argument("--state", required=True)
    sp.add_argument("--output", default=None,
                    help="warehouse base dir whose era partitions get dropped")
    sp.add_argument("--tables", default=None, help="comma-separated dataset subset")
    sp.add_argument("--network", default=None)
    sp.set_defaults(fn=cmd_clean_failed)

    sp = sub.add_parser("compact-data", help="merge small files in warehouse datasets")
    sp.add_argument("warehouse")
    sp.add_argument("--tables", default=None, help="comma-separated dataset subset")
    sp.add_argument("--target-mb", type=int, default=128, dest="target_mb")
    sp.set_defaults(fn=cmd_compact_data)

    sp = sub.add_parser("compact-state", help="compact the state transition log")
    sp.add_argument("--state", required=True)
    sp.add_argument("--network", default=None)
    sp.set_defaults(fn=cmd_compact_state)

    sp = sub.add_parser("explain", help="physical-plan summary for a registered query")
    sp.add_argument("query")
    sp.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="table dir the query builds against (plan only, no execution)")
    sp.add_argument("--mode", default="summary", choices=["summary", "formatted"])
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser("migrate", help="warehouse schema migrations")
    sp.add_argument("action", choices=["status", "run", "list"])
    sp.add_argument("warehouse")
    sp.set_defaults(fn=cmd_migrate)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
