"""The benchmark's metric names and units, in output order.

BENCHMARK.json at the repository root lists the same metrics; a unit test
keeps the two equal.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

WORKLOADS = ("era_ingest", "llm_ops")

# The registry mix of llm_ops: one entry per operator family that an open
# roadmap item targets (README.md says what was trimmed and why).
LLM_MIX = (
    "q1_pricing_summary",        # scan/aggregate job floor
    "s10_pq_codes",              # PQ scorer kernel
    "t33_suffix_ranks",          # suffix tier (global_suffix_ranks)
    "dd9_fuzzy_dedup_pipeline",  # dd9 banding/verify exchange
    "x42_bfs_distances",         # graph driver fast path
    "st17_stream_token_budget",  # streaming floor
)

# (name, unit, better, bound).  pass_cpu_s leaves out the JVM's JIT compiler
# threads (procmon.tree_cpu_s).  Wall times of the measured passes are not
# here: on a virtual machine they follow the CPU time the host steals, and
# their run-to-run spread reached the largest bound allowed (README.md).
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
)

# units of the wall-time figures the detail line reports per workload
FIGURE_UNITS = {
    "ingest_blocks_per_s": "blocks/s",
    "resume_noop_s": "s",
    "beacon_suite_s": "s",
    "query_suite_s": "s",
    "query_p50_s": "s",
}

_KERNEL = (
    ("sources.era.read_s", "s"),
    ("parsing.e2store.self_s", "s"),
    ("parsing.e2store.records", "count"),
    ("parsing.snappy.self_s", "s"),
    ("parsing.snappy.bytes_out", "bytes"),
    ("parsing.beacon.self_s", "s"),
    ("parsing.beacon.blocks", "count"),
    ("sources.era.arrow_build_s", "s"),
    ("parsing.arrow_direct.self_s", "s"),
    ("parsing.arrow_direct.blocks", "count"),
)
KERNEL_METRICS = tuple(n for n, _ in _KERNEL)

PER_LAYER = (
    *_KERNEL,
    ("sources.era.self_s", "s"),
    ("sources.era.scan_s", "s"),
    ("sources.era.executor_run_s", "s"),
    ("sources.era.executor_cpu_s", "s"),
    ("sources.era.handoff_s", "s"),
    ("sources.era.core_util", "ratio"),
    ("operators.normalize.rows", "count"),
    ("operators.normalize.tables_nonempty", "count"),
    ("streaming.incremental.wall_s", "s"),
    ("streaming.incremental.jobs", "count"),
    ("streaming.incremental.staging_s", "s"),
    ("streaming.incremental.count_jobs_s", "s"),
    ("streaming.incremental.self_s", "s"),
    ("sinks.writers.write_s", "s"),
    ("sinks.writers.bytes_written", "bytes"),
    ("sinks.writers.files_written", "count"),
    ("sinks.writers.files_per_partition", "ratio"),
    ("sinks.writers.write_amp", "ratio"),
    ("state.era_state.s", "s"),
    ("state.era_state.calls", "count"),
    ("state.era_state.log_files", "count"),
    ("operators.beacon_analytics.jobs", "count"),
    ("operators.beacon_analytics.files_read", "count"),
    ("operators.beacon_analytics.scan_bytes", "bytes"),
    *(
        (f"queries.{entry}.{m}", unit)
        for entry in LLM_MIX
        for m, unit in (
            ("jobs", "count"),
            ("shuffle_bytes", "bytes"),
            ("executor_cpu_s", "s"),
            ("driver_s", "s"),
        )
    ),
    ("engine.session_start_s", "s"),
    ("engine.package_ship_s", "s"),
    ("engine.idle_core_s", "s"),
    ("engine.spill_bytes", "bytes"),
    ("engine.task_failures", "count"),
    ("trace.overhead_s", "s"),
    ("trace.unattributed_s", "s"),
)

# per-layer counts of useful work done, and how busy the scan kept the
# cores; every other per-layer metric is a cost
HIGHER_IS_BETTER = {
    "parsing.e2store.records",
    "parsing.snappy.bytes_out",
    "parsing.beacon.blocks",
    "parsing.arrow_direct.blocks",
    "sources.era.core_util",
    "operators.normalize.rows",
    "operators.normalize.tables_nonempty",
}

UNITS = {n: u for n, u, *_ in END_TO_END} | dict(PER_LAYER)


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float]) -> dict:
    """The final output object: every metric of `values` with its unit."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(v), "unit": UNITS[name]} for name, v in values.items()
        },
    }
