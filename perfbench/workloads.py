"""The workloads.  Each one prepares its seeded inputs, warms up, and
runs passes of ops; a pass is the unit the end-to-end metrics describe.

Every op goes through a public entry point of the program and its output
is checked; an op that raises or fails its check counts as failed.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from perfbench import inputs
from perfbench.catalog import LLM_MIX
from perfbench.tracing import Tracer


@dataclasses.dataclass
class Op:
    kind: str
    seconds: float
    ok: bool


class OpRunner:
    """Runs ops one after another (a closed loop with one client), timing
    each and recording it as a top-level span when tracing is on."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.ops: list[Op] = []
        self._next_op = 0

    def run(self, kind: str, layer: str, fn, check=None):
        op_id = self._next_op
        self._next_op += 1
        self.tracer.op = op_id
        out, ok = None, True
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, layer):
                out = fn()
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            ok = False
            traceback.print_exc(file=sys.stderr)
        seconds = time.perf_counter() - t0
        self.tracer.op = None
        if ok and check is not None:
            try:
                check(out)
            except Exception as exc:  # noqa: BLE001
                ok = False
                print(f"perfbench: {kind} output check failed: {exc}", file=sys.stderr)
        self.ops.append(Op(kind, seconds, ok))
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _expect(name: str, got, want) -> None:
    if got != want:
        raise AssertionError(f"{name}: got {got!r}, expected {want!r}")


def _files(path: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]


class Workload:
    name = ""

    def __init__(self, cache_dir: str, run_dir: str, seed: int, procs: int) -> None:
        self.cache_dir, self.run_dir, self.seed, self.procs = cache_dir, run_dir, seed, procs
        self.spark = None
        self.runner: OpRunner | None = None
        self.facts: list[dict] = []  # per pass: counts the layers report

    def prepare(self) -> dict:
        """Generate or reuse the seeded inputs; returns their description."""
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def after_setup(self) -> None:
        """Checks on the warm-up's outputs, outside every timed region."""

    def run_pass(self) -> None:
        raise NotImplementedError

    def kernel_files(self) -> list[str]:
        return []

    def named_metrics(self, passes: list[list[Op]]) -> dict[str, float]:
        """The workload-specific figures (README), medians over passes."""
        return {}


def _median_kind(passes: list[list[Op]], kind: str) -> float:
    return statistics.median(op.seconds for ops in passes for op in ops if op.kind == kind)


# --- era workloads -------------------------------------------------------------


class EraIngest(Workload):
    """Fresh run_incremental into an empty warehouse, the all-completed
    re-run, then the 13 beacon analytics queries over the warehouse."""

    name = "era_ingest"

    def prepare(self) -> dict:
        self.corpus = inputs.era_corpus(
            self.cache_dir, "ingest", inputs.ERA_INGEST_SHAPE, self.seed, self.procs
        )
        self.expected = inputs.load_expected(self.corpus)
        self._pass_no = 0
        self._beacon_rows: dict[str, tuple] = {}
        self.bad_queries: set[str] = set()
        return self.expected

    def _pass(self, collect: bool) -> tuple[str, str]:
        """One pass into a fresh warehouse and state path.  With `collect`
        the beacon results are kept for the oracle check instead of going
        to the noop sink."""
        from era_parser_spark.operators.beacon_analytics import BEACON_QUERIES
        from era_parser_spark.streaming.incremental import run_incremental

        spark, runner, want = self.spark, self.runner, self.expected
        tag = f"p{self._pass_no}"
        self._pass_no += 1
        wh = os.path.join(self.run_dir, f"wh_{tag}")
        state = os.path.join(self.run_dir, f"state_{tag}")
        era_dir = os.path.join(self.corpus, "era")

        def ingest():
            return run_incremental(spark, era_dir, wh, state, network="gnosis")

        def check_ingest(result):
            _expect("eras processed", sorted(result), sorted(want["eras"]))
            rows = {
                t: sum(per_era.get(t, 0) for per_era in result.values()) for t in want["rows"]
            }
            _expect("rows per table", rows, want["rows"])
            from era_parser_spark.state.era_state import EraStateStore

            latest = EraStateStore(spark, state).latest_state().collect()
            _expect(
                "era states",
                sorted((r.era_number, r.status) for r in latest),
                sorted((e, "completed") for e in want["eras"]),
            )

        def beacon(qname, fn, tables):
            sdf = fn(*[spark.read.parquet(f"{wh}/{t}") for t in tables])
            if collect:
                self._beacon_rows[qname] = (sdf.columns, sdf.collect())
            else:
                _noop(sdf)

        result = runner.run("ingest", "streaming.incremental", ingest, check_ingest)
        runner.run(
            "resume", "streaming.incremental", ingest,
            lambda r: _expect("eras processed on resume", len(r), 0),
        )
        for qname, (fn, tables) in BEACON_QUERIES.items():
            runner.run(
                f"beacon.{qname}",
                "operators.beacon_analytics",
                lambda q=qname, fn=fn, tables=tables: beacon(q, fn, tables),
                check=lambda _out, q=qname: _expect("oracle mismatch", q in self.bad_queries, False),
            )
        self.facts.append(self._warehouse_facts(wh, state, result or {}))
        return wh, state

    def _warehouse_facts(self, wh: str, state: str, result: dict) -> dict:
        from era_parser_spark.operators.beacon_analytics import BEACON_QUERIES

        files = [p for p in _files(wh) if "_staging" not in p]
        per_table = {
            t: len(_files(os.path.join(wh, t))) for t in os.listdir(wh)
        } if os.path.isdir(wh) else {}
        rows: dict[str, int] = {}
        for per_era in result.values():
            for t, n in per_era.items():
                rows[t] = rows.get(t, 0) + n
        return {
            "files_written": len(files),
            "partitions": len({os.path.dirname(p) for p in files}),
            "warehouse_bytes": sum(os.path.getsize(p) for p in files),
            "state_log_files": len(_files(state)),
            "beacon_files_read": sum(
                per_table.get(t, 0) for _, tables in BEACON_QUERIES.values() for t in tables
            ),
            "normalize_rows": sum(rows.values()),
            "tables_nonempty": sum(1 for n in rows.values() if n > 0),
            "blocks_full": rows.get("blocks", 0),
        }

    def warm_up(self) -> None:
        # the warm-up pass keeps the beacon results for the oracle check
        self._warm_dirs = self._pass(collect=True)
        self.facts.clear()

    def after_setup(self) -> None:
        """Each beacon query's warm-up result against its DuckDB oracle
        over the warehouse the warm-up pass wrote."""
        import duckdb

        from era_parser_spark.operators.beacon_analytics import BEACON_ORACLES
        from era_parser_spark.testing.oracle import rows_multiset

        wh = self._warm_dirs[0]
        con = duckdb.connect()
        for t in sorted(os.listdir(wh)):
            if _files(os.path.join(wh, t)):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{wh}/{t}/**/*.parquet', hive_partitioning = true)"
                )
        for qname, sql in BEACON_ORACLES.items():
            try:
                cols, rows = self._beacon_rows[qname]
                res = con.execute(sql)
                dcols = [d[0].lower() for d in res.description]
                if rows_multiset([c.lower() for c in cols], rows) != rows_multiset(
                    dcols, res.fetchall()
                ):
                    raise AssertionError("result differs from the DuckDB oracle")
            except Exception as exc:  # noqa: BLE001
                print(f"perfbench: beacon oracle {qname}: {exc!r}", file=sys.stderr)
                self.bad_queries.add(qname)
        con.close()
        self._beacon_rows.clear()
        for d in self._warm_dirs:
            shutil.rmtree(d, ignore_errors=True)

    def run_pass(self) -> None:
        for d in self._pass(collect=False):
            shutil.rmtree(d, ignore_errors=True)

    def kernel_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.corpus, "era", "*.era")))[1:3]

    def named_metrics(self, passes):
        return {
            "ingest_blocks_per_s": self.expected["blocks"] / _median_kind(passes, "ingest"),
            "resume_noop_s": _median_kind(passes, "resume"),
            "beacon_suite_s": statistics.median(
                sum(op.seconds for op in ops if op.kind.startswith("beacon.")) for ops in passes
            ),
        }


# --- registry mix ----------------------------------------------------------------


class LlmOps(Workload):
    """One pass of a fixed registry mix, noop sink, cache cleared between
    entries, over the sf0.01 tables; the seed picks the entry order."""

    name = "llm_ops"

    def prepare(self) -> dict:
        self.sf_dir = inputs.LLM_TABLES_DIR
        self.order = list(LLM_MIX)
        random.Random(self.seed).shuffle(self.order)
        self._warm_rows: dict[str, tuple] = {}
        self.bad_entries: set[str] = set()
        return {"sf_dir": "perfbench/data/sf0.01", "order": self.order}

    def _queries(self):
        from era_parser_spark.queries import load_all

        return load_all()

    def warm_up(self) -> None:
        # the warm-up pass runs over the measured tables and keeps each
        # entry's rows for the oracle check
        queries, _ = self._queries()
        for entry in self.order:

            def collect(entry=entry):
                sdf = queries[entry](self.spark, self.sf_dir)
                self._warm_rows[entry] = (sdf.columns, sdf.collect())

            # an entry that raises here has no rows, so its check fails
            self.runner.run(entry, "queries", collect)
            self.spark.catalog.clearCache()
        self._stop_streams()

    def after_setup(self) -> None:
        """Each entry's warm-up result against its DuckDB oracle over the
        same tables."""
        from era_parser_spark.testing.oracle import rows_multiset

        _, oracles = self._queries()
        self.bad_entries = set()
        for entry in self.order:
            try:
                cols, rows = self._warm_rows[entry]
                if rows_multiset([c.lower() for c in cols], rows) != self._oracle_rows(
                    oracles[entry]
                ):
                    raise AssertionError("result differs from the DuckDB oracle")
            except Exception as exc:  # noqa: BLE001
                print(f"perfbench: oracle {entry}: {exc!r}", file=sys.stderr)
                self.bad_entries.add(entry)
        self._warm_rows.clear()

    def _oracle_rows(self, sql: str) -> list[tuple]:
        """The oracle's normalized rows over the tables.  They depend only
        on the SQL, the table files and DuckDB, so they are cached under that
        key: the dd9 oracle alone takes DuckDB ~15 s on 4 cores."""
        import duckdb

        from era_parser_spark.testing.oracle import rows_multiset

        key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode())
        for t in inputs.LLM_TABLES:
            with open(os.path.join(self.sf_dir, f"{t}.parquet"), "rb") as fh:
                key.update(hashlib.sha256(fh.read()).digest())
        path = os.path.join(self.cache_dir, "oracles", f"{key.hexdigest()}.json")
        if os.path.isfile(path):
            with open(path) as fh:
                return [tuple(tuple(v) for v in row) for row in json.load(fh)]
        con = duckdb.connect()
        for t in inputs.LLM_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        res = con.execute(sql)
        out = rows_multiset([d[0].lower() for d in res.description], res.fetchall())
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.tmp{os.getpid()}", "w") as fh:
            json.dump(out, fh)
        os.replace(f"{path}.tmp{os.getpid()}", path)
        return out

    def _stop_streams(self) -> None:
        for q in self.spark.streams.active:
            q.stop()

    def run_pass(self) -> None:
        queries, _ = self._queries()
        for entry in self.order:
            self.runner.run(
                entry, "queries",
                lambda entry=entry: _noop(queries[entry](self.spark, self.sf_dir)),
                check=lambda _out, entry=entry: _expect(
                    "oracle mismatch", entry in self.bad_entries, False
                ),
            )
            self.spark.catalog.clearCache()
        self._stop_streams()

    def named_metrics(self, passes):
        return {
            "query_suite_s": statistics.median(sum(op.seconds for op in ops) for ops in passes),
            "query_p50_s": statistics.median(
                _median_kind(passes, entry) for entry in self.order
            ),
        }


WORKLOADS = {w.name: w for w in (EraIngest, LlmOps)}
