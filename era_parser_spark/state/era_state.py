"""Era-state management (SURVEY §2.D): incremental, idempotent, resumable.

The reference keeps an era_completion table in ClickHouse with
ReplacingMergeTree(insert_version) semantics plus an era_status latest-view
(sql/002_performance_optimizations_up.sql:2-37) and drives runs with
"skip completed eras" anti-joins (era_state_manager.py:350-377,430-473).

Spark shape: an append-only parquet log of status transitions; the latest
state is an exact window dedup (argmax insert_version per network+era).
Appends are tiny (one row per era transition, one file per batch) — the
log is a metadata table, not a data table, so a single-file append per
batch is the right cost model even at 100 TB of block data.

Idempotent data writes (D3's delete-then-insert) come from dynamic
partition overwrite on era_number: reprocessing an era atomically replaces
exactly its own partitions.

Concurrency contract: the log is SINGLE-DRIVER.  Appends are plain parquet
file adds (safe to interleave — readers see a union), but `compact_log`'s
rewrite and the read-plan-write cycle of a batch run are not
serialized by any commit protocol, matching the reference's one-process
model (its ClickHouse table has no cross-run transaction either; it runs
OPTIMIZE between runs).  Deployments that might run two drivers against
one state path should wrap runs in `EraStateStore.exclusive()` — a
best-effort lock file via atomic create (atomic on HDFS/local; best-effort
on S3, where a manifest-conditional-put service should replace it).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from era_parser_spark.session import rows_frame

STATE_SCHEMA = T.StructType(
    [
        T.StructField("network", T.StringType(), False),
        T.StructField("era_number", T.LongType(), False),
        T.StructField("status", T.StringType(), False),  # processing|completed|failed
        T.StructField("slot_start", T.LongType(), True),
        T.StructField("slot_end", T.LongType(), True),
        T.StructField("total_records", T.LongType(), True),
        T.StructField("datasets_processed", T.ArrayType(T.StringType()), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("retry_count", T.IntegerType(), True),
        T.StructField("insert_version", T.LongType(), False),  # ns timestamp
    ]
)


class StateLockHeld(RuntimeError):
    """Another driver holds the state-log lock (holder info in args)."""


class EraStateStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- multi-driver guard (see module docstring: single-driver contract) ---

    def _fs_and_path(self, p: str):
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        hp = jvm.org.apache.hadoop.fs.Path(p)
        return hp.getFileSystem(conf), hp, jvm

    @property
    def _lock_path(self) -> str:
        return self.path.rstrip("/") + ".__lock__"

    def acquire_lock(self, owner: str = "driver", stale_after_s: float = 3600.0) -> None:
        """Best-effort exclusive lock on the state log.

        Atomic `create(overwrite=False)` of a lock file (truly atomic on
        HDFS and local FS; S3 offers no atomic create — treat as advisory
        there).  A lock older than `stale_after_s` is presumed abandoned
        (crashed driver) and broken.  Raises StateLockHeld when live.
        """
        fs, hp, jvm = self._fs_and_path(self._lock_path)
        if fs.exists(hp):
            age = time.time() - fs.getFileStatus(hp).getModificationTime() / 1000.0
            if age < stale_after_s:
                # byte-at-a-time via py4j (int-returning read(); the
                # byte[]-filling overload can't mutate a Python bytearray);
                # error path only, lock files are ~40 bytes
                holder = bytearray()
                st = fs.open(hp)
                try:
                    for _ in range(256):
                        c = st.read()
                        if c < 0:
                            break
                        holder.append(c)
                finally:
                    st.close()
                raise StateLockHeld(
                    f"state log {self.path} locked by {holder.decode(errors='replace')!r} "
                    f"({age:.0f}s ago); pass stale_after_s to override"
                )
            fs.delete(hp, False)  # stale: break it
        out = fs.create(hp, False)  # throws if a racer re-created it
        try:
            out.write(f"{owner}@{time.time_ns()}".encode())
        finally:
            out.close()

    def release_lock(self) -> None:
        fs, hp, _ = self._fs_and_path(self._lock_path)
        fs.delete(hp, False)

    def exclusive(self, owner: str = "driver", stale_after_s: float = 3600.0):
        """Context manager: `with store.exclusive(): run_batch(...)`."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            self.acquire_lock(owner, stale_after_s)
            try:
                yield self
            finally:
                self.release_lock()

        return _cm()

    # -- log primitives ------------------------------------------------------

    def record_many(self, rows: list[dict]) -> None:
        """One append for N status transitions: one Spark job, one file.

        A 100k-era batch flipping status per-era would be 100k jobs and
        100k log files; batched it is one of each.  insert_version stays
        strictly increasing within the batch (ns timestamp + row index)
        so the ReplacingMergeTree-style argmax dedup is deterministic.
        """
        if not rows:
            return
        now = time.time_ns()
        data = [
            {
                "network": r["network"],
                "era_number": r["era_number"],
                "status": r["status"],
                "slot_start": r["era_number"] * 8192,
                "slot_end": r["era_number"] * 8192 + 8191,
                "total_records": r.get("total_records"),
                "datasets_processed": r.get("datasets"),
                "error_message": r.get("error_message"),
                "retry_count": r.get("retry_count", 0),
                "insert_version": now + i,
            }
            for i, r in enumerate(rows)
        ]
        rows_frame(self.spark, data, STATE_SCHEMA).coalesce(1).write.mode("append").parquet(
            self.path
        )

    def _log_exists(self) -> bool:
        fs, hp, _ = self._fs_and_path(self.path)
        return bool(fs.exists(hp))

    def log(self) -> DataFrame:
        """The whole transition log; empty when nothing was ever recorded.

        Only a missing path reads as empty.  Any other failure (unknown
        filesystem scheme, listing or credential error) raises: read as
        "nothing completed" it would make the next run reprocess the
        whole archive."""
        if not self._log_exists():
            return rows_frame(self.spark, [], STATE_SCHEMA)
        return self.spark.read.schema(STATE_SCHEMA).parquet(self.path)

    def era_summary(self, network: str) -> dict[int, tuple[str, int]]:
        """{era_number: (latest status, max retry_count)} for `network`.

        One aggregation job over the log (none when the log does not
        exist): the latest status is argmax(insert_version), as in
        latest_state(), and the retry count is D7's
        COALESCE(MAX(retry_count), 0).  The log is a metadata table, so
        it is read as one partition, which lets the aggregate run without
        a shuffle — one job, not a map stage plus a result stage."""
        if not self._log_exists():
            return {}
        rows = (
            self.log()
            .filter(F.col("network") == network)
            .select("era_number", "status", "retry_count", "insert_version")
            .coalesce(1)
            .groupBy("era_number")
            .agg(
                F.max_by("status", "insert_version").alias("status"),
                F.coalesce(F.max("retry_count"), F.lit(0)).alias("max_retry"),
            )
            .collect()
        )
        return {int(r.era_number): (r.status, int(r.max_retry)) for r in rows}

    # -- views (D2, D6, D7) --------------------------------------------------

    def latest_state(self) -> DataFrame:
        """D2: argmax(insert_version) per (network, era) — the era_status view."""
        w = Window.partitionBy("network", "era_number").orderBy(F.desc("insert_version"))
        return (
            self.log()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def status_summary(self, network: str) -> DataFrame:
        """D6: per-status counts + record totals."""
        return (
            self.latest_state()
            .filter(F.col("network") == network)
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("era_count"),
                F.sum("total_records").alias("total_records"),
            )
        )

    def max_retries(self, network: str, eras: list[int]) -> dict[int, int]:
        """D7, COALESCE(MAX(retry_count), 0), for each era in `eras` from
        era_summary's one read."""
        if not eras:
            return {}
        summary = self.era_summary(network)
        return {e: summary[e][1] if e in summary else 0 for e in eras}

    def failed_eras(self, network: str) -> DataFrame:
        return self.latest_state().filter(
            (F.col("network") == network) & (F.col("status") == "failed")
        )

    # -- maintenance (reference --clean-failed-eras / state.py:106-127) -------

    def clean_failed(
        self,
        network: str,
        out_base: str | None = None,
        datasets: list[str] | None = None,
    ) -> list[int]:
        """Clean every failed era: delete its partial data partitions and
        reset its state so the next batch reprocesses it from scratch.

        Reference semantics (era_state_manager.py:237-249 +
        clean_era_completely): DELETE rows in the era's slot range from
        every beacon table, then remove its completion records.  Spark
        shape: each dataset is partitioned by era_number, so "delete the
        era's rows" is a partition-directory drop through the Hadoop
        FileSystem API (works for file://, hdfs://, s3a:// alike —
        driver-side metadata ops, no job), and "remove completion
        records" is one appended `cleaned` transition per era (the
        append-only log keeps history; `cleaned` is neither `completed`
        nor `failed`, so plan_pending picks the era up again and
        failed_eras stops listing it).

        Returns the cleaned era numbers, like the reference.
        """
        failed = sorted(
            int(r.era_number)
            for r in self.failed_eras(network).select("era_number").collect()
        )
        if not failed:
            return []
        if out_base is not None:
            jvm = self.spark._jvm
            conf = self.spark._jsc.hadoopConfiguration()
            base = jvm.org.apache.hadoop.fs.Path(out_base)
            fs = base.getFileSystem(conf)
            if datasets is None:
                datasets = (
                    [st.getPath().getName() for st in fs.listStatus(base) if st.isDirectory()]
                    if fs.exists(base)
                    else []
                )
            for name in datasets:
                for era in failed:
                    part = jvm.org.apache.hadoop.fs.Path(
                        f"{out_base.rstrip('/')}/{name}/era_number={era}"
                    )
                    if fs.exists(part):
                        fs.delete(part, True)
        self.record_many(
            [{"network": network, "era_number": e, "status": "cleaned"} for e in failed]
        )
        return failed

    def compact_log(self, target_files: int = 1) -> int:
        """Rewrite the transition log into `target_files` parquet files.

        Long-running deployments accrete one small file per recorded
        batch; at 100k eras that is filesystem-metadata pressure on
        every latest_state() read.  Compaction writes the log's distinct
        rows beside it, moves the new files into the log directory, and
        only then deletes the files listed before the rewrite.  A driver
        that dies midway leaves the old files, or old and new side by
        side; either way the log never goes missing, and exact-duplicate
        rows change no status (latest_state and era_summary take
        argmax(insert_version), and a duplicate carries the same status)
        and are dropped by the next compaction.  Not serialized against
        concurrent writers — run it between batches, as the reference
        runs OPTIMIZE TABLE ... FINAL between runs (era_state_manager.py
        optimize_tables).  Returns rows kept."""
        if not self._log_exists():
            return 0
        fs, log_dir, jvm = self._fs_and_path(self.path)
        # checksum files (.crc) go with their data file on delete
        old = [
            st.getPath() for st in fs.listStatus(log_dir)
            if not st.getPath().getName().startswith(".")
        ]
        df = self.log().distinct()
        n = df.count()
        tmp = jvm.org.apache.hadoop.fs.Path(self.path.rstrip("/") + ".__compact__")
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp.toString())
        for st in fs.listStatus(tmp):
            name = st.getPath().getName()
            if name.startswith("part-"):  # write-job-unique names
                fs.rename(st.getPath(), jvm.org.apache.hadoop.fs.Path(log_dir, name))
        for p in old:
            fs.delete(p, True)
        fs.delete(tmp, True)
        return int(n)

    # -- planning (D1) ---------------------------------------------------------

    def plan_pending(
        self, found: list[tuple[int, str]], network: str, force: bool = False
    ) -> list[tuple[int, str, int]]:
        """D1: the found (era_number, path) pairs minus completed eras,
        ascending, each with the max retry_count the log holds for it.

        The reference's "skip completed eras" anti-join
        (era_state_manager.py:430-473), done on the driver: the inventory
        is already a driver-side list and the completed set is one
        era_summary read, so planning costs one job (none on a fresh
        state path) and the retry counts the batch records come with it.
        `force` plans every found era."""
        if not found:
            return []
        summary = self.era_summary(network)
        done = set() if force else {e for e, (st, _) in summary.items() if st == "completed"}
        return sorted(
            (era, path, summary[era][1] if era in summary else 0)
            for era, path in found
            if era not in done
        )

