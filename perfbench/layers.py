"""Per-layer metrics of one traced pass, from its spans, the Spark jobs
of the event log, the workload's counts and the in-process kernel pass."""

from __future__ import annotations

from perfbench.catalog import LLM_MIX, PER_LAYER
from perfbench.eventlog import Job, classify_ingest_job
from perfbench.tracing import (
    Span, Tracer, covered, innermost_open, layer_self_times, self_times,
)

_INGEST_ROOTS = ("ingest", "resume")
_DERIVED = {
    "staging": ("staging_scan", "sources.era"),
    "state": ("pending_join", "state.era_state"),
    "count": ("table_counts", "streaming.incremental"),
}


def _root(spans_by_id: dict[int, Span], s: Span) -> Span:
    while s.parent is not None:
        s = spans_by_id[s.parent]
    return s


def attribute_jobs(tracer: Tracer, spans: list[Span], jobs: list[Job]) -> dict[int, Span]:
    """job id -> the innermost span open at its submission.  Jobs that ran
    directly under a run_incremental call are classified by SQL plan and
    get derived child spans, so the parts of process_eras_batch that no
    wrapped entry point covers are still told apart."""
    owner: dict[int, Span] = {}
    derived: dict[tuple[int, str], list[tuple[float, float]]] = {}
    for job in jobs:
        s = innermost_open(spans, job.start)
        if s is None:
            continue
        owner[job.id] = s
        if s.parent is None and s.name in _INGEST_ROOTS:
            kind = classify_ingest_job(job)
            derived.setdefault((s.id, kind), []).append((job.start, min(job.end, s.end)))
    by_id = {s.id: s for s in spans}
    for (root_id, kind), intervals in derived.items():
        name, layer = _DERIVED[kind]
        root = by_id[root_id]
        for lo, hi in _merge(intervals):
            spans.append(tracer.add(name, layer, lo, hi, root_id, root.op))
    return owner


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(lo, hi) for lo, hi in out]


def pass_metrics(
    tracer: Tracer,
    spans: list[Span],
    jobs: list[Job],
    facts: dict,
    kernel: dict[str, float],
    cores: int,
    state_calls: int,
) -> dict[str, float]:
    """Every per-layer metric for one traced pass; a layer the workload
    does not run reports 0."""
    m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    m.update(kernel)
    owner = attribute_jobs(tracer, spans, jobs)
    by_id = {s.id: s for s in spans}
    jobs = [j for j in jobs if j.id in owner]
    selfs = layer_self_times(spans)

    def root_of(job: Job) -> Span:
        return _root(by_id, owner[job.id])

    def derived_kind(job: Job) -> str | None:
        s = owner[job.id]
        if s.parent is None and s.name in _INGEST_ROOTS:
            return classify_ingest_job(job)
        return None

    # sources.era: the decode scan, wherever it ran
    scan_jobs = [
        j for j in jobs
        if owner[j.id].layer == "sources.era" or derived_kind(j) == "staging"
    ]
    scan_spans = [s for s in spans if s.layer == "sources.era" and s.name != "read_era_blocks"]
    m["sources.era.self_s"] = selfs.get("sources.era", 0.0)
    m["sources.era.scan_s"] = sum(s.end - s.start for s in scan_spans)
    m["sources.era.executor_run_s"] = sum(j.run_s for j in scan_jobs)
    m["sources.era.executor_cpu_s"] = sum(j.cpu_s for j in scan_jobs)
    if m["sources.era.scan_s"] > 0:
        m["sources.era.core_util"] = m["sources.era.executor_run_s"] / (
            m["sources.era.scan_s"] * cores
        )
    kernel_blocks = kernel.get("parsing.beacon.blocks", 0.0)
    if kernel_blocks:
        per_block = sum(
            kernel[k]
            for k in (
                "sources.era.read_s", "parsing.e2store.self_s", "parsing.snappy.self_s",
                "parsing.beacon.self_s", "sources.era.arrow_build_s",
            )
        ) / kernel_blocks
        m["sources.era.handoff_s"] = (
            m["sources.era.executor_run_s"] - facts.get("blocks_full", 0) * per_block
        )
    m["operators.normalize.rows"] = facts.get("normalize_rows", 0)
    m["operators.normalize.tables_nonempty"] = facts.get("tables_nonempty", 0)

    # streaming.incremental and what it calls
    roots = [s for s in spans if s.parent is None and s.name in _INGEST_ROOTS]
    ingest_jobs = [j for j in jobs if root_of(j).name in _INGEST_ROOTS and root_of(j).parent is None]
    if roots:
        wall = sum(s.end - s.start for s in roots)
        m["streaming.incremental.wall_s"] = wall
        m["streaming.incremental.jobs"] = len(ingest_jobs)
        m["streaming.incremental.staging_s"] = sum(
            s.end - s.start for s in spans if s.name == "staging_scan"
        )
        m["streaming.incremental.count_jobs_s"] = sum(
            s.end - s.start for s in spans if s.name == "table_counts"
        )
        m["streaming.incremental.self_s"] = selfs.get("streaming.incremental", 0.0)
        m["sinks.writers.write_s"] = selfs.get("sinks.writers", 0.0)
        m["sinks.writers.bytes_written"] = sum(
            j.output_bytes for j in jobs if owner[j.id].layer == "sinks.writers"
        )
        m["sinks.writers.files_written"] = facts["files_written"]
        m["sinks.writers.files_per_partition"] = facts["files_written"] / max(
            facts["partitions"], 1
        )
        m["sinks.writers.write_amp"] = sum(j.output_bytes for j in ingest_jobs) / max(
            facts["warehouse_bytes"], 1
        )
        m["state.era_state.s"] = selfs.get("state.era_state", 0.0)
        m["state.era_state.calls"] = state_calls
        m["state.era_state.log_files"] = facts["state_log_files"]
        # the part of the run_incremental calls that no wrapped entry
        # point, classified job or other span covers
        own = self_times(spans)
        m["trace.unattributed_s"] = sum(own[s.id] for s in roots)

    beacon_jobs = [j for j in jobs if root_of(j).layer == "operators.beacon_analytics"]
    if beacon_jobs:
        m["operators.beacon_analytics.jobs"] = len(beacon_jobs)
        m["operators.beacon_analytics.files_read"] = facts["beacon_files_read"]
        m["operators.beacon_analytics.scan_bytes"] = sum(j.input_bytes for j in beacon_jobs)

    for entry in LLM_MIX:
        entry_spans = [s for s in spans if s.parent is None and s.name == entry]
        if not entry_spans:
            continue
        ids = {s.id for s in entry_spans}
        ejobs = [j for j in jobs if root_of(j).id in ids]
        m[f"queries.{entry}.jobs"] = len(ejobs)
        m[f"queries.{entry}.shuffle_bytes"] = sum(j.shuffle_write_bytes for j in ejobs)
        m[f"queries.{entry}.executor_cpu_s"] = sum(j.cpu_s for j in ejobs)
        m[f"queries.{entry}.driver_s"] = sum(
            (s.end - s.start) - covered([(j.start, j.end) for j in ejobs], s.start, s.end)
            for s in entry_spans
        )

    top = [s for s in spans if s.parent is None]
    if top:
        wall = sum(s.end - s.start for s in top)
        m["engine.idle_core_s"] = wall * cores - sum(j.run_s for j in jobs)
    m["engine.spill_bytes"] = sum(j.spill_bytes for j in jobs)
    m["engine.task_failures"] = sum(j.task_failures for j in jobs)
    return m
