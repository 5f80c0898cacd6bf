"""100x-shape end-to-end rehearsal (VERDICT r4 item 6).

The 64-file bench measures parse throughput; this script rehearses the
*operational* shape a real backfill has — many more era files, a real
warehouse, a state log that grows, and a second run that must no-op
cheaply — and records the behaviors the small bench can't see:

  1. generate a 512-era synthetic corpus (8x the bench corpus; cached)
  2. time discovery/listing over 512 files
  3. run_incremental() -> 15-table warehouse partitioned by era_number
     (one decode job to the staging parquet, then one fan-out job whose
     tasks write every table's files, swapped in per partition by the
     driver; the reference loops eras serially — era_parser/core.py
     process_single_era)
  4. re-run run_incremental(): everything completed -> measures the
     anti-join/no-op cost that dominates steady-state cron runs
  5. state-log file count before/after compact_log()
  6. compact_dataset() on the widest table at 512 partitions (exercises
     the per-partition file sizing fixed in commit 14e05a7 at a partition
     count where the old global-n_out bug would have exploded)
  7. the full beacon analytical workload off the warehouse parquet

Prints ONE JSON line; human notes go to stderr.  Numbers land in
docs/PLANS.md ("100x-shape rehearsal" section).

Usage: python tools/rehearsal.py [--files 512] [--blocks 4096]
       [--base /tmp/era_rehearsal] [--fresh]

Do not run concurrently with bench.py or the test suite (CLAUDE.md:
contended timings look like regressions).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
from multiprocessing import Pool

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Start below the gnosis electra boundary (epoch 1337856 -> era ~2613) so a
# 512-era corpus crosses deneb -> electra and all 15 tables materialize
# (execution requests are electra-only).
START_ERA = 2400


def _gen_one(args: tuple[str, int, int]) -> int:
    path, era, blocks = args
    from era_parser_spark.testing.era_gen import write_synthetic_era

    return len(write_synthetic_era(path, era, "gnosis", blocks=blocks))


def ensure_corpus(d: str, files: int, blocks: int) -> tuple[int, float]:
    """Generate (or reuse) the corpus; returns (total_blocks, gen_seconds)."""
    from era_parser_spark.testing.era_gen import era_filename

    os.makedirs(d, exist_ok=True)
    jobs = []
    for i in range(files):
        era = START_ERA + i
        p = os.path.join(d, era_filename("gnosis", era))
        if not os.path.exists(p):
            jobs.append((p, era, blocks))
    t0 = time.perf_counter()
    if jobs:
        with Pool(min(32, os.cpu_count() or 4)) as pool:
            pool.map(_gen_one, jobs, chunksize=1)
    gen_s = time.perf_counter() - t0
    # blocks-per-era is capped by the era's slot budget, so recount cheaply
    # from one file's actual count times files would be wrong for mixed
    # eras; trust files * blocks as nominal and let the scan report truth.
    return files * blocks, gen_s


def dataset_stats(path: str) -> dict:
    n_files = n_parts = 0
    total = 0
    for root, dirs, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n_files += 1
                total += os.path.getsize(os.path.join(root, f))
        n_parts += sum(1 for x in dirs if x.startswith("era_number="))
    return {"files": n_files, "partitions": n_parts, "bytes": total}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=512)
    ap.add_argument("--blocks", type=int, default=4096)
    ap.add_argument("--base", default="/tmp/era_rehearsal")
    ap.add_argument("--fresh", action="store_true",
                    help="wipe warehouse+state (not the corpus) first")
    args = ap.parse_args()

    corpus = f"{args.base}/corpus_{args.files}x{args.blocks}"
    wh = f"{args.base}/warehouse"
    state = f"{args.base}/state"
    if args.fresh:
        for p in (wh, state):
            shutil.rmtree(p, ignore_errors=True)

    out: dict = {"files": args.files, "blocks_per_era": args.blocks}
    nominal, gen_s = ensure_corpus(corpus, args.files, args.blocks)
    out["gen_sec"] = round(gen_s, 1)
    corpus_bytes = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(corpus, "*.era"))
    )
    out["corpus_bytes"] = corpus_bytes
    print(f"corpus: {args.files} eras, ~{nominal} blocks, "
          f"{corpus_bytes/1e9:.2f} GB (gen {gen_s:.0f}s)", file=sys.stderr)

    from era_parser_spark.session import get_spark
    from era_parser_spark.shipping import ensure_package_shipped
    from era_parser_spark.sources.discovery import discover_auto
    from era_parser_spark.state.era_state import EraStateStore
    from era_parser_spark.streaming.incremental import run_incremental

    spark = get_spark(app_name="era_rehearsal")
    ensure_package_shipped(spark)

    # 2. discovery/listing
    t0 = time.perf_counter()
    found = discover_auto(corpus, "gnosis")
    out["discover_sec"] = round(time.perf_counter() - t0, 2)
    out["discovered"] = len(found)

    # 3. the backfill
    t0 = time.perf_counter()
    counts = run_incremental(spark, corpus, wh, state, network="gnosis")
    out["backfill_sec"] = round(time.perf_counter() - t0, 1)
    out["eras_processed"] = len(counts)
    total_rows = sum(sum(t.values()) for t in counts.values())
    out["rows_written"] = total_rows
    out["backfill_blocks_per_sec"] = round(nominal / out["backfill_sec"], 0)
    print(f"backfill: {len(counts)} eras, {total_rows} rows, "
          f"{out['backfill_sec']}s", file=sys.stderr)

    # warehouse shape
    tables = sorted(
        d for d in os.listdir(wh) if os.path.isdir(os.path.join(wh, d))
    )
    out["warehouse"] = {t: dataset_stats(os.path.join(wh, t)) for t in tables}
    wh_bytes = sum(v["bytes"] for v in out["warehouse"].values())
    wh_files = sum(v["files"] for v in out["warehouse"].values())
    print(f"warehouse: {len(tables)} tables, {wh_files} files, "
          f"{wh_bytes/1e9:.2f} GB", file=sys.stderr)

    # 4. steady-state no-op run
    t0 = time.perf_counter()
    again = run_incremental(spark, corpus, wh, state, network="gnosis")
    out["noop_sec"] = round(time.perf_counter() - t0, 2)
    out["noop_processed"] = len(again)

    # 5. state log growth + compaction (log is parquet files at state/)
    store = EraStateStore(spark, state)
    out["state_log_files_before"] = len(glob.glob(f"{state}/*.parquet"))
    t0 = time.perf_counter()
    out["state_log_rows"] = store.compact_log()
    out["state_compact_sec"] = round(time.perf_counter() - t0, 2)
    out["state_log_files_after"] = len(glob.glob(f"{state}/*.parquet"))

    # 6. warehouse compaction on the widest table
    widest = max(out["warehouse"], key=lambda t: out["warehouse"][t]["files"])
    from era_parser_spark.sinks.writers import compact_dataset

    t0 = time.perf_counter()
    comp = compact_dataset(spark, os.path.join(wh, widest),
                           target_file_bytes=64 * 1024 * 1024)
    out["compact"] = {
        "table": widest,
        "sec": round(time.perf_counter() - t0, 1),
        "partitions_rewritten": len(comp),
        "before": out["warehouse"][widest],
        "after": dataset_stats(os.path.join(wh, widest)),
    }
    print(f"compact[{widest}]: {out['compact']}", file=sys.stderr)

    # 7. beacon workload off the warehouse
    from era_parser_spark.operators.beacon_analytics import BEACON_QUERIES

    dfs = {t: spark.read.parquet(os.path.join(wh, t)) for t in tables}
    bq: dict[str, float] = {}
    for name, (fn, needed) in sorted(BEACON_QUERIES.items()):
        if any(n not in dfs for n in needed):
            continue
        t0 = time.perf_counter()
        n = fn(*[dfs[t] for t in needed]).count()
        bq[name] = round(time.perf_counter() - t0, 2)
        print(f"  beacon {name}: {bq[name]}s ({n} rows)", file=sys.stderr)
    out["beacon_queries"] = bq
    out["beacon_total_sec"] = round(sum(bq.values()), 1)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
