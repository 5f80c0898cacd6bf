"""Unit tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import catalog  # noqa: E402
from perfbench.eventlog import Job, app_logs, classify_ingest_job, read_jobs  # noqa: E402
from perfbench.layers import attribute_jobs, pass_metrics  # noqa: E402
from perfbench.procmon import tree_cpu_s  # noqa: E402
from perfbench.tracing import Span, Tracer, covered, layer_self_times, self_times  # noqa: E402

FIXTURE_LOG = os.path.join(HERE, "fixtures")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_pattern_and_are_unique():
    names = [n for n, *_ in catalog.END_TO_END] + [n for n, _ in catalog.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert catalog.NAME_RE.fullmatch(name), name


def test_benchmark_json_lists_the_catalog():
    bench = _benchmark()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in catalog.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(catalog.PER_LAYER)
    for m in bench["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in catalog.HIGHER_IS_BETTER else "lower")
    assert [w["name"] for w in bench["workloads"]] == list(catalog.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert len(bench["per_layer"]) <= 128


def _span(i, start, end, parent=None, layer="x", name=None):
    return Span(i, name or f"s{i}", layer, start, end, parent, 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (9, 12)], 0, 10) == pytest.approx(4.0)
    assert covered([], 0, 10) == 0.0
    assert covered([(11, 12)], 0, 10) == 0.0


def test_self_time_is_duration_minus_children():
    spans = [
        _span(0, 0.0, 10.0, layer="root"),
        _span(1, 1.0, 3.0, parent=0, layer="a"),
        _span(2, 2.0, 4.0, parent=0, layer="b"),
        _span(3, 5.0, 8.0, parent=0, layer="a"),
        _span(4, 6.0, 7.0, parent=3, layer="c"),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 6.0)
    assert own[3] == pytest.approx(2.0)
    by_layer = layer_self_times(spans)
    # nested, non-overlapping children: the layers add up to the root
    assert by_layer["root"] + by_layer["a"] + by_layer["c"] == pytest.approx(10.0 - 1.0)
    assert by_layer == pytest.approx({"root": 4.0, "a": 4.0, "b": 2.0, "c": 1.0})


def test_tracer_records_nesting_only_when_enabled():
    tracer = Tracer()
    with tracer.span("off", "x"):
        pass
    assert tracer.spans == []
    tracer.enabled = True
    tracer.op = 7
    with tracer.span("outer", "a"):
        with tracer.span("inner", "b"):
            pass
    outer, inner = tracer.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert inner.op == outer.op == 7


def test_event_log_reader_on_recorded_log():
    (app,) = app_logs(FIXTURE_LOG)
    jobs = read_jobs(app)
    assert [j.id for j in jobs] == [0, 1]
    first, second = jobs
    assert first.tasks == 4 and second.tasks == 1
    assert first.run_s == pytest.approx(1.011)
    assert first.cpu_s > 0 and first.shuffle_write_bytes == 535
    assert second.shuffle_read_bytes == 535
    assert first.execution_id == second.execution_id == 0
    assert "HashAggregate" in first.plan
    assert first.start < first.end <= second.start < second.end


def test_jobs_attribute_to_innermost_span_by_time():
    (app,) = app_logs(FIXTURE_LOG)
    first, second = read_jobs(app)
    tracer = Tracer()
    outer = tracer.add("q", "queries", first.start - 1, second.end + 1, None, 0)
    inner = tracer.add("w", "sinks.writers", second.start - 0.01, second.end, outer.id, 0)
    owner = attribute_jobs(tracer, list(tracer.spans), [first, second])
    assert owner[first.id] is outer and owner[second.id] is inner


def test_unattributed_is_the_ingest_root_not_covered_by_any_span():
    tracer = Tracer()
    root = tracer.add("ingest", "streaming.incremental", 0.0, 10.0, None, 0)
    tracer.add("read_era_blocks", "sources.era", 1.0, 4.0, root.id, 0)
    tracer.add("write_parquet", "sinks.writers", 5.0, 7.0, root.id, 0)
    facts = {"files_written": 2, "partitions": 1, "warehouse_bytes": 1, "state_log_files": 1}
    m = pass_metrics(tracer, list(tracer.spans), [], facts, {}, 4, 0)
    assert m["streaming.incremental.wall_s"] == pytest.approx(10.0)
    assert m["trace.unattributed_s"] == pytest.approx(5.0)
    assert m["sources.era.self_s"] + m["sinks.writers.write_s"] == pytest.approx(5.0)


def test_ingest_jobs_are_classified_by_plan():
    def job(plan):
        return Job(0, 0.0, 1.0, [], None, plan=plan)

    assert classify_ingest_job(job("InsertInto .../_staging_blocks MapInArrow")) == "staging"
    assert classify_ingest_job(job("BroadcastHashJoin LeftAnti")) == "state"
    assert classify_ingest_job(job("HashAggregate count")) == "count"


def test_result_line_schema():
    values = {n: 1.5 for n, *_ in catalog.END_TO_END}
    line = json.loads(json.dumps(catalog.result_line(True, 3, 0, values)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 3 and line["failed"] == 0
    for name, unit, *_ in catalog.END_TO_END:
        assert line["metrics"][name] == {"value": 1.5, "unit": unit}


def test_tree_cpu_keeps_the_time_of_reaped_children():
    """A Python worker that exits still counts: its CPU time moves into
    its parent's reaped-children time, so the tree total never drops."""
    before = tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True, timeout=60)
    assert tree_cpu_s(os.getpid()) - before >= 0.25


def test_refuses_to_run_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ is not a
    checkout: the command fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    bench = _benchmark()
    proc = subprocess.run(
        [*bench["command"], "--workload", bench["workloads"][0]["name"], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
