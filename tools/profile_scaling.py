"""Root-cause harness for the parse kernel's per-core scaling.

Runs the SAME parse work as the scan kernel (full era file: iter_records
-> snappy -> the generated columnar decoder, ColumnarBlockCollector, with
one Arrow build per 2048 blocks) under plain multiprocessing at
N=1/2/4/8/16/32 workers — no Spark, no shuffle — so the measured
efficiency curve is the kernel + hardware alone.  Two control workloads
separate the causes:

- `alu`: a pure-register integer loop (no memory traffic beyond L1).
  If THIS scales sublinearly the host's vCPUs are contended/throttled
  (hypervisor, noisy neighbor) and no code change helps.
- `alloc`: a dict/list allocation churn loop shaped like the parser's
  output (memory-bandwidth + allocator bound, zero input bytes).
- `parse`: the real kernel on one era file per worker (page-cache warm).

Usage: python tools/profile_scaling.py [--quick]
Prints one JSON line: {workload: {n_workers: per_worker_rate, ...}, ...}
plus derived efficiency-vs-1 tables.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ERA_DIR = "/tmp/era_bench_64x4096"
NS = [1, 2, 4, 8, 16, 32]


def _alu(arg) -> float:
    # pure-register work: ~0.35s at one core
    t0 = time.perf_counter()
    x, n = 1469598103934665603, 0
    for _ in range(20_000_00):
        x = (x * 1099511628211) & 0xFFFFFFFFFFFFFFFF
        n += x >> 32
    return 2_000_000 / (time.perf_counter() - t0)


def _alloc(arg) -> float:
    # allocation churn shaped like parse output: dicts of lists of dicts
    t0 = time.perf_counter()
    rows = 30_000
    sink = None
    for i in range(rows):
        sink = {
            "slot": i,
            "proposer_index": i % 512,
            "body": {
                "attestations": [
                    {"slot": i - k, "index": k, "bits": "ff" * 32}
                    for k in range(4)
                ],
                "roots": [b"\x00" * 32 for _ in range(6)],
            },
        }
    assert sink is not None
    return rows / (time.perf_counter() - t0)


def _parse(path: str) -> float:
    import gc

    from era_parser_spark.config.networks import fork_at_slot
    from era_parser_spark.parsing import snappy as _snappy
    from era_parser_spark.parsing.arrow_direct import ColumnarBlockCollector
    from era_parser_spark.parsing.beacon import peek_slot
    from era_parser_spark.parsing.e2store import TYPE_COMPRESSED_BLOCK, iter_records
    from era_parser_spark.sources.era import _PARSE_OUT_ARROW

    with open(path, "rb") as f:
        content = f.read()
    collector = ColumnarBlockCollector(_PARSE_OUT_ARROW.field("block").type)
    gc.disable()
    t0 = time.perf_counter()
    n = 0
    for rec in iter_records(content):
        if rec.record_type != TYPE_COMPRESSED_BLOCK:
            continue
        raw = _snappy.decompress(rec.payload)
        collector.append(raw, fork_at_slot(peek_slot(raw), "gnosis"))
        n += 1
        if len(collector) >= 2048:
            collector.flush()
    collector.flush()
    dt = time.perf_counter() - t0
    gc.enable()
    return n / dt


WORKLOADS = {"alu": _alu, "alloc": _alloc, "parse": _parse}


def run(workload: str, n: int, files: list[str], repeats: int = 2) -> float:
    """Mean per-worker rate, best of `repeats` rounds (page cache warm)."""
    fn = WORKLOADS[workload]
    args = (files * ((n // len(files)) + 1))[:n] if workload == "parse" else [None] * n
    best = 0.0
    for _ in range(repeats):
        with ProcessPoolExecutor(max_workers=n) as pool:
            rates = list(pool.map(fn, args))
        best = max(best, sum(rates) / len(rates))
    return best


def main() -> None:
    files = sorted(glob.glob(os.path.join(ERA_DIR, "*.era")))
    if not files:
        print("era bench corpus missing — run bench.py once first", file=sys.stderr)
        sys.exit(1)
    # warm the page cache for the files we'll touch
    for f in files[:32]:
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass
    ns = [1, 8, 32] if "--quick" in sys.argv else NS
    out: dict[str, dict] = {}
    for wl in ("alu", "alloc", "parse"):
        rates = {n: round(run(wl, n, files), 1) for n in ns}
        base = rates[ns[0]]
        out[wl] = {
            "per_worker_rate": rates,
            "efficiency_vs_1": {n: round(r / base, 3) for n, r in rates.items()},
        }
        print(wl, json.dumps(out[wl]), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
