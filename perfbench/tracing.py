"""Spans recorded from the benchmark's own process.

A span has a name, a layer (the program module it stands for), a start and
an end on the wall clock (``time.time()``, the clock Spark's event log
uses too), the span that was open when it began, and the id of the
benchmark op it belongs to.  Spans are held in memory and evaluated after
the run.

A layer's self time is the time its spans are open minus the part of each
span that its child spans cover (``self_times``).

``EntryPointWrapper`` patches, in this process only, the public entry
points that ``run_incremental`` goes through, so their calls become spans:
``EraStateStore.plan_pending`` / ``record_many`` / ``max_retries``,
``sinks.writers.write_parquet`` and ``streaming.incremental.read_era_blocks``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import time


@dataclasses.dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[Span] = []

    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, time.time(), None, parent, self.op)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    def add(self, name: str, layer: str, start: float, end: float, parent: int, op) -> Span:
        """A span known only after the fact (a Spark job from the event log)."""
        s = Span(len(self.spans), name, layer, start, end, parent, op)
        self.spans.append(s)
        return s


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.id]
    return out


def innermost_open(spans: list[Span], t: float) -> Span | None:
    """The most recently started span open at wall time t."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# --- wrapped public entry points --------------------------------------------------


class EntryPointWrapper:
    """Installs span-recording wrappers around the entry points the era
    ingest path calls; ``state_calls`` counts the state-store calls made
    while tracing is on."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.state_calls = 0
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            if self.tracer.enabled and layer == "state.era_state":
                self.state_calls += 1
            with self.tracer.span(attr, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from era_parser_spark.sinks import writers
        from era_parser_spark.state.era_state import EraStateStore
        from era_parser_spark.streaming import incremental

        for method in ("plan_pending", "record_many", "max_retries"):
            self._patch(EraStateStore, method, "state.era_state")
        self._patch(writers, "write_parquet", "sinks.writers")
        self._patch(incremental, "read_era_blocks", "sources.era")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# --- in-process kernel pass ---------------------------------------------------------


def kernel_pass(paths: list[str]) -> dict[str, float]:
    """Run the parse kernel's stages single-threaded over `paths`, timing
    each stage on its own: file read -> e2store records -> snappy ->
    fork-aware SSZ decode (dict IR) -> Arrow build, and the pruned
    attestations decode of parsing.arrow_direct that pruned scans use."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from era_parser_spark.config.networks import fork_at_slot
    from era_parser_spark.parsing import snappy
    from era_parser_spark.parsing.arrow_direct import ColumnarBlockCollector
    from era_parser_spark.parsing.beacon import parse_block, peek_slot
    from era_parser_spark.parsing.e2store import TYPE_COMPRESSED_BLOCK, iter_records
    from era_parser_spark.sources.era import BLOCK_SPARK_SCHEMA

    from perfbench.catalog import KERNEL_METRICS

    block_type = to_arrow_type(BLOCK_SPARK_SCHEMA)
    m = dict.fromkeys(KERNEL_METRICS, 0.0)

    def timed(key, fn):
        t0 = time.perf_counter()
        out = fn()
        m[key] += time.perf_counter() - t0
        return out

    for path in paths:
        with open(path, "rb") as f:
            data = timed("sources.era.read_s", f.read)
        records = timed("parsing.e2store.self_s", lambda: list(iter_records(data)))
        m["parsing.e2store.records"] += len(records)
        payloads = [r.payload for r in records if r.record_type == TYPE_COMPRESSED_BLOCK]
        raws = timed("parsing.snappy.self_s", lambda: [snappy.decompress(p) for p in payloads])
        m["parsing.snappy.bytes_out"] += sum(len(r) for r in raws)
        docs = timed(
            "parsing.beacon.self_s",
            lambda: [parse_block(r, "gnosis", is_compressed=False)["data"] for r in raws],
        )
        m["parsing.beacon.blocks"] += len(docs)
        timed("sources.era.arrow_build_s", lambda: pa.array(docs, type=block_type))

        def columnar():
            coll = ColumnarBlockCollector(block_type, {"attestations"})
            for r in raws:
                coll.append(r, fork_at_slot(peek_slot(r), "gnosis"))
            return coll.flush()

        timed("parsing.arrow_direct.self_s", columnar)
        m["parsing.arrow_direct.blocks"] += len(raws)
    return m
