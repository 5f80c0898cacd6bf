"""Reader for Spark's JSON event log (``spark.eventLog.compress=false``).

Yields one ``Job`` per Spark job: its wall interval, the SQL execution it
ran under, and the task metrics of its stages summed up.  Jobs are later
attributed to benchmark spans by time: a job belongs to the innermost span
open when it was submitted.  That also covers streaming micro-batches,
which run under the stream's own job group rather than the caller's.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os


@dataclasses.dataclass
class Job:
    id: int
    start: float  # seconds since the epoch
    end: float
    stage_ids: list[int]
    execution_id: int | None
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    task_failures: int = 0
    plan: str = ""


def app_logs(log_dir: str) -> list[list[str]]:
    """The event log files of each application under `log_dir`, in write
    order.  Spark 4 writes a directory per application
    (``eventlog_v2_<app>/events_<n>_<app>``); a single file per
    application is the older layout."""
    apps = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            apps.append(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        else:
            apps.append([entry])
    return apps


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def read_jobs(paths: list[str]) -> list[Job]:
    """Jobs of one application's event log, in submission order.  A log
    still being written is read up to its last complete line; jobs without
    an end event are dropped."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    for line in _lines(paths):
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a torn last line of a live log
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            job = Job(
                id=ev["Job ID"],
                start=ev["Submission Time"] / 1000.0,
                end=float("nan"),
                stage_ids=list(ev.get("Stage IDs", [])),
                execution_id=int(exec_id) if exec_id is not None else None,
            )
            jobs[job.id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is not None:
                _add_task(job, ev)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            plans[ev["executionId"]] = (
                ev.get("description", "") + "\n" + ev.get("physicalPlanDescription", "")
            )
    out = []
    for job in jobs.values():
        if job.end != job.end:  # never ended
            continue
        job.plan = plans.get(job.execution_id, "")
        out.append(job)
    return sorted(out, key=lambda j: (j.start, j.id))


def _add_task(job: Job, ev: dict) -> None:
    job.tasks += 1
    if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
        job.task_failures += 1
    tm = ev.get("Task Metrics") or {}
    job.run_s += tm.get("Executor Run Time", 0) / 1000.0
    job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
    job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    job.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    job.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)


def classify_ingest_job(job: Job) -> str:
    """Which part of ``process_eras_batch`` a job outside every wrapped
    entry point belongs to, read from its SQL plan: the decode scan that
    writes the staging parquet, the state store's pending-era join, or the
    per-table row count."""
    plan = job.plan
    if "_staging_blocks" in plan and "MapInArrow" in plan:
        return "staging"
    if "LeftAnti" in plan:
        return "state"
    return "count"
