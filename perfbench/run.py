"""Benchmark entry point.

    python3 perfbench/run.py --workload {era_ingest,llm_ops} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; the line
before it carries the environment and the workload's own figures.
Everything the run writes stays under ./.perfbench.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("era_ingest", "llm_ops"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_memory() -> str:
    """A quarter of the host's RAM, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "2g"
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _environment(work: str, cores: int) -> None:
    """Point every temporary and local directory into the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # spark-submit first runs a small launcher JVM, which the session's
    # driver options do not reach
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", _driver_memory())
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None


def _session(work: str, run_dir: str, trace: bool):
    from era_parser_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a heap sized up front keeps the JVM's RSS from following the GC's
        # heap-growth decisions, which vary from run to run; a fixed set of
        # JIT compiler threads, because pass_cpu_s leaves out their time,
        # which an exiting thread would take along (procmon.py)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # Spark 4 compresses with zstd by default; Python here cannot read it
            "spark.eventLog.compress": "false",
        }
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop streams, the StateStore maintenance task, the session and the
    JVM, then wait for every process they started.  Nothing may print
    after this, so the result line stays the last bytes emitted."""
    from pyspark import SparkContext

    from perfbench.procmon import descendants, wait_gone

    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:  # noqa: BLE001
            pass
    jvm = spark.sparkContext._jvm
    try:
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.state", jvm.org.apache.logging.log4j.Level.OFF
        )
        state_pkg = jvm.org.apache.spark.sql.execution.streaming.state
        getattr(getattr(state_pkg, "StateStore$"), "MODULE$").stop()
    except Exception:  # noqa: BLE001 - best effort: the stop below still runs
        pass
    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in wait_gone(started, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_gone(started, 10)


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None  # the benchmark's checkout need not be a git repository


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def _kernel(workload, trace: bool) -> dict[str, float]:
    from perfbench.tracing import kernel_pass

    files = workload.kernel_files()
    if not (trace and files):
        return {}
    return kernel_pass(files)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "era_parser_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository (era_parser_spark/ "
              "is missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = _cores()
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    _environment(work, cores)
    os.makedirs(run_dir, exist_ok=True)

    from perfbench.catalog import END_TO_END, FIGURE_UNITS, PER_LAYER, result_line
    from perfbench.procmon import PeakRss, cpu_ticks, tree_cpu_s
    from perfbench.tracing import EntryPointWrapper, Tracer
    from perfbench.workloads import WORKLOADS, OpRunner

    t_gen = time.perf_counter()
    workload = WORKLOADS[args.workload](os.path.join(work, "cache"), run_dir, args.seed, cores)
    described = workload.prepare()
    generate_s = time.perf_counter() - t_gen

    tracer = Tracer()
    rss = PeakRss()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, run_dir, bool(args.trace))
        session_s = time.perf_counter() - t0
        from era_parser_spark.shipping import ensure_package_shipped

        t1 = time.perf_counter()
        ensure_package_shipped(spark)
        ship_s = time.perf_counter() - t1
        workload.spark = spark
        warm = workload.runner = OpRunner(tracer)
        workload.warm_up()
        setup_s = time.perf_counter() - t0
        t2 = time.perf_counter()
        workload.after_setup()
        check_s = time.perf_counter() - t2

        wrapper = EntryPointWrapper(tracer)
        if args.trace:
            wrapper.install()
        passes: list[list] = []  # untraced passes
        pass_cpu: list[float] = []  # CPU seconds of each untraced pass
        traced: list[dict] = []  # per traced pass: its ops, spans, counts
        t_measure = time.perf_counter()
        ticks0 = cpu_ticks()
        while True:
            runner = workload.runner = OpRunner(tracer)
            # a traced run alternates untraced and traced passes, so the
            # tracing overhead is measured in the same process
            tracing = bool(args.trace) and len(passes) > len(traced)
            tracer.enabled = tracing
            first_span, calls0 = len(tracer.spans), wrapper.state_calls
            t_pass, cpu0 = time.time(), tree_cpu_s(os.getpid())
            rss.resume()
            workload.run_pass()
            rss.pause()
            cpu = tree_cpu_s(os.getpid()) - cpu0
            tracer.enabled = False
            if tracing:
                traced.append(
                    {
                        "ops": runner.ops,
                        "spans": tracer.spans[first_span:],
                        "interval": (t_pass, time.time()),
                        "facts": workload.facts[-1] if workload.facts else {},
                        "state_calls": wrapper.state_calls - calls0,
                    }
                )
            else:
                passes.append(runner.ops)
                pass_cpu.append(cpu)
            # start another pass only if one more like the last still ends
            # within --seconds
            last = sum(op.seconds for op in runner.ops)
            done = time.perf_counter() - t_measure + last > args.seconds
            if done and (not args.trace or traced):
                break
        wrapper.uninstall()
        measure_s = time.perf_counter() - t_measure
        ticks1 = cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        kernel = _kernel(workload, bool(args.trace))
        env = {
            "nproc": cores,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            **_versions(),
            "git_commit": _git_commit(),
            "seed": args.seed,
            "inputs": described,
            "input_generate_s": generate_s,
            "phases_s": {
                "session": session_s, "package_ship": ship_s, "setup": setup_s,
                "warm_up_checks": check_s, "measure": measure_s,
            },
            "cpu_steal_share": steal,
            "setup": "cold: fresh JVM, first pass is the warm-up",
            "measured": "warm: after the warm-up pass",
        }
    except Exception:
        import traceback

        traceback.print_exc()
        if spark is not None:
            _stop(spark)
        rss.close()
        return 1
    _stop(spark)
    rss.close()

    all_ops = [op for ops in passes for op in ops] + [
        op for t in traced for op in t["ops"]
    ]
    attempted = len(all_ops)
    failed = sum(not op.ok for op in all_ops)
    op_median = {
        k: statistics.median(op.seconds for ops in passes for op in ops if op.kind == k)
        for k in sorted({op.kind for ops in passes for op in ops})
    }
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(pass_cpu),
        "peak_rss_mb": rss.peak / 2**20,
    }
    assert [n for n, *_ in END_TO_END] == list(e2e)
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "passes": len(passes),
        "pass_seconds": [sum(op.seconds for op in ops) for ops in passes],
        "traced_passes": len(traced),
        "env": env,
        "figures": {
            name: {"value": v, "unit": FIGURE_UNITS[name]}
            for name, v in workload.named_metrics(passes).items()
        },
        "warm_up_op_s": {op.kind: op.seconds for op in warm.ops},
        "op_median_s": op_median,
        "end_to_end": e2e,
    }
    if args.trace:
        values = _layer_values(
            run_dir, tracer, traced, kernel, cores, session_s, ship_s, passes
        )
        assert list(values) == [n for n, _ in PER_LAYER]
    else:
        values = e2e
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result_line(failed == 0, attempted, failed, values)))
    sys.stdout.flush()
    return 0


def _layer_values(run_dir, tracer, traced, kernel, cores, session_s, ship_s, passes):
    from perfbench.eventlog import app_logs, read_jobs
    from perfbench.layers import pass_metrics

    jobs = [j for app in app_logs(os.path.join(run_dir, "eventlog")) for j in read_jobs(app)]
    per_pass = []
    for t in traced:
        lo, hi = t["interval"]
        pass_jobs = [j for j in jobs if lo <= j.start <= hi]
        per_pass.append(
            pass_metrics(
                tracer, list(t["spans"]), pass_jobs, t["facts"], kernel, cores, t["state_calls"]
            )
        )
    values = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    values["engine.session_start_s"] = session_s
    values["engine.package_ship_s"] = ship_s
    untraced = statistics.median(sum(op.seconds for op in ops) for ops in passes)
    traced_s = statistics.median(sum(op.seconds for op in t["ops"]) for t in traced)
    values["trace.overhead_s"] = traced_s - untraced
    return values


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
