"""Sinks (SURVEY §2.A9-A14), Spark-shaped.

The reference writes per-era files from in-memory lists (json/csv/parquet
exporters) and bulk-inserts to ClickHouse.  Here every sink is a
DataFrameWriter plan:

* parquet: month-partitioned (the reference's ClickHouse PARTITION BY
  toStartOfMonth(timestamp_utc)).
* era tables: `write_era_tables` writes every table of an ingest batch
  from one Spark job, one file per (table, era) per task, and the driver
  swaps each era_number partition for exactly the files the tasks
  reported (`commit_partitions`) — the reference's delete-then-insert, D3.
* jsonl/csv: native writers; metadata travels in a sidecar file instead of
  `#` comment headers (which break parallel readers).
* single-document JSON (A9): exact reference shape, driver-assembled —
  documented as a per-era export (<= 8192 rows), not a big-data path.
* ClickHouse (A14): `write_clickhouse`, a per-partition streaming insert
  through a client factory, in the reference's 100k batches with its
  retry/backoff.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MONTH_COL = "month"
CLICKHOUSE_BATCH = 100_000  # reference clickhouse_service.py:17


def with_month(df: DataFrame, ts_col: str = "timestamp_utc") -> DataFrame:
    return df.withColumn(MONTH_COL, F.date_format(ts_col, "yyyy-MM"))


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by_month: bool = True,
    mode: str = "overwrite",
    metadata: dict | None = None,
) -> None:
    """Partitioned parquet sink; Catalyst prunes partitions on read filters."""
    writer = df.write
    if partition_by_month and "timestamp_utc" in df.columns:
        writer = with_month(df).write.partitionBy(MONTH_COL)
    writer.mode(mode).parquet(path)
    if metadata is not None:
        _write_sidecar(path, metadata)


# --- era tables: one fan-out job, a driver-side partition swap ---------------

MANIFEST = pa.schema(
    [("table", pa.string()), ("era_number", pa.int64()), ("file", pa.string()),
     ("rows", pa.int64())]
)


def warehouse_fs(base: str) -> tuple[pafs.FileSystem, str]:
    """The pyarrow filesystem and root path `base` names, for task-side
    writes and driver-side moves alike.  Hadoop's s3a:// reads as s3://; a
    path with no scheme is local.  A scheme pyarrow cannot open raises."""
    if base.startswith("s3a://"):
        base = "s3://" + base[len("s3a://"):]
    if "://" not in base and not base.startswith("file:"):
        return pafs.LocalFileSystem(), os.path.abspath(base)
    return pafs.FileSystem.from_uri(base)


def remove_tree(fs: pafs.FileSystem, path: str) -> None:
    if fs.get_file_info(path).type != pafs.FileType.NotFound:
        fs.delete_dir(path)


def _fan_out(fs: pafs.FileSystem, scratch: str, names: list[str]):
    """mapInArrow body: each batch holds era_number and one array<struct>
    column per table; every (table, era) the task sees streams through
    its own open ParquetWriter under scratch/<table>/era_number=<era>/.
    Yields the manifest: one (table, era_number, file, rows) row per file."""

    def write(batches):
        import uuid

        import numpy as np
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tag = f"part-{TaskContext.get().partitionId():05d}-{uuid.uuid4().hex}.snappy.parquet"
        files: dict[tuple[str, int], list] = {}  # (table, era) -> [writer, path, rows]
        try:
            for batch in batches:
                era = batch.column("era_number").to_numpy()
                for name in names:
                    col = batch.column(name)
                    rows = col.flatten()
                    if not len(rows):
                        continue
                    # flatten() skips null lists, whose length reads as 0 here
                    eras = np.repeat(era, pc.list_value_length(col).fill_null(0).to_numpy())
                    uniq = np.unique(eras)
                    for e in uniq.tolist():
                        part = rows if len(uniq) == 1 else rows.filter(pa.array(eras == e))
                        if (name, e) not in files:
                            d = f"{scratch}/{name}/era_number={e}"
                            fs.create_dir(d)
                            schema = pa.schema(list(part.type))
                            files[name, e] = [
                                pq.ParquetWriter(f"{d}/{tag}", schema, filesystem=fs,
                                                 use_deprecated_int96_timestamps=True),
                                f"{d}/{tag}", 0,
                            ]
                        out = files[name, e]
                        out[0].write_batch(pa.RecordBatch.from_struct_array(part))
                        out[2] += len(part)
        finally:
            for w, _, _ in files.values():
                w.close()
        if files:
            yield pa.RecordBatch.from_pylist(
                [{"table": t, "era_number": e, "file": p, "rows": n}
                 for (t, e), (_, p, n) in files.items()],
                schema=MANIFEST,
            )

    return write


def write_era_tables(
    frame: DataFrame, names: list[str], fs: pafs.FileSystem, scratch: str
) -> list:
    """Write every named table of an ingest batch in ONE Spark job.
    `frame` has an `era_number` column and, per table, its rows of each
    block as an array<struct> column (`Table.rows()`).  Files land under
    `scratch` (a path on `fs`); returns the manifest rows, which name
    every file a successful task attempt wrote and nothing else."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return frame.mapInArrow(_fan_out(fs, scratch, names), from_arrow_schema(MANIFEST)).collect()


def replace_partition(fs: pafs.FileSystem, part: str, files: list[str]) -> None:
    """Make directory `part` hold exactly `files`, moved in."""
    remove_tree(fs, part)
    fs.create_dir(part)
    for f in files:
        fs.move(f, f"{part}/{f.rsplit('/', 1)[1]}")


def commit_partitions(fs: pafs.FileSystem, root: str, manifest: list) -> None:
    """Replace each (table, era) partition the manifest names under root
    with exactly the files it lists; partitions it does not name are left
    as they are, as dynamic partition overwrite leaves them."""
    parts: dict[tuple[str, int], list[str]] = {}
    for r in manifest:
        parts.setdefault((r.table, r.era_number), []).append(r.file)
    for (name, era), files in sorted(parts.items()):
        replace_partition(fs, f"{root}/{name}/era_number={era}", files)


def _write_sidecar(path: str, metadata: dict) -> None:
    """Key-value export metadata (A12's pyarrow schema metadata analog)."""
    meta = dict(metadata)
    meta.setdefault("export_unix_time", int(time.time()))
    with open(os.path.join(path, "_era_metadata.json"), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)


def write_jsonl(df: DataFrame, path: str, metadata: dict | None = None) -> None:
    """A10: one JSON object per line (Spark-native JSON writer)."""
    df.write.mode("overwrite").json(path)
    if metadata is not None:
        _write_sidecar(path, metadata)


def write_csv(df: DataFrame, path: str, metadata: dict | None = None) -> None:
    """A11: CSV with header; nested/array columns serialized as JSON text."""
    flat = df
    for field in df.schema.fields:
        if field.dataType.typeName() in ("struct", "array", "map"):
            flat = flat.withColumn(field.name, F.to_json(field.name))
    flat.write.mode("overwrite").option("header", True).csv(path)
    if metadata is not None:
        _write_sidecar(path, metadata)


def export_json_document(
    df: DataFrame, out_file: str, era_info: dict, data_type: str, max_rows: int = 100_000
) -> dict:
    """A9: single JSON document {era_info, data_type, record_count,
    export_timestamp, data: [...]} — byte-shape parity with the reference's
    json exporter.  Driver-assembled; guarded for per-era sized exports."""
    rows = [json.loads(s) for s in df.limit(max_rows + 1).toJSON().collect()]
    if len(rows) > max_rows:
        raise ValueError(f"export_json_document is a per-era export; >{max_rows} rows")
    doc = {
        "era_info": era_info,
        "data_type": data_type,
        "record_count": len(rows),
        "export_timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "data": rows,
    }
    os.makedirs(os.path.dirname(out_file) or ".", exist_ok=True)
    with open(out_file, "w") as f:
        json.dump(doc, f, indent=2)
    return doc


def write_separate_datasets(
    tables: dict[str, DataFrame], base_path: str, fmt: str = "parquet", **kw
) -> dict[str, int]:
    """A13: one directory per non-empty dataset + SUMMARY.txt."""
    counts: dict[str, int] = {}
    for name, df in tables.items():
        n = df.count()
        if n == 0:
            continue
        out = os.path.join(base_path, name)
        if fmt == "parquet":
            write_parquet(df, out, **kw)
        elif fmt == "csv":
            write_csv(df, out)
        elif fmt == "jsonl":
            write_jsonl(df, out)
        elif fmt == "json":
            # reference json_exporter's wrapped-document shape (per dataset)
            export_json_document(
                df, os.path.join(base_path, f"{name}.json"),
                era_info=kw.get("era_info", {}), data_type=name,
            )
        else:
            raise ValueError(f"unknown format {fmt}")
        counts[name] = n
    os.makedirs(base_path, exist_ok=True)
    with open(os.path.join(base_path, "SUMMARY.txt"), "w") as f:
        f.write("dataset,rows\n")
        for name in sorted(counts):
            f.write(f"{name},{counts[name]}\n")
    return counts


def _insert_with_retry(
    client,
    make_client,
    table: str,
    columns: list[str],
    batch: list[list],
    max_retries: int,
    backoff: float,
):
    """One batch insert with the reference's retry loop
    (clickhouse_service.py:139-162): exponential backoff, ping, reconnect.
    Returns the (possibly reconnected) client."""
    for attempt in range(max_retries):
        try:
            client.insert(table, batch, column_names=columns)
            return client
        except Exception:
            if attempt == max_retries - 1:
                raise
            time.sleep(backoff * (2**attempt))
            try:
                client.command("SELECT 1")
            except Exception:
                client = make_client()
    return client


def write_clickhouse(
    df: DataFrame,
    table: str,
    client_factory,
    batch_size: int = CLICKHOUSE_BATCH,
    max_retries: int = 3,
    backoff: float = 1.0,
) -> None:
    """A14: distributed ClickHouse load via foreachPartition.

    Each task builds its own client from ``client_factory`` (a picklable
    zero-arg callable returning an object with
    ``insert(table, rows, column_names=)`` and ``command(sql)`` —
    clickhouse_connect's client shape) and streams its partition in
    ``batch_size`` chunks with exponential-backoff retry + reconnect,
    mirroring the reference's GLOBAL_BATCH_SIZE=100000 streaming insert
    (clickhouse_service.py:17,115-162).  Unlike the reference, the load
    is one insert stream *per partition in parallel*, so a 100 TB table
    loads at cluster width, not driver width.
    """
    columns = list(df.columns)

    def _load(rows) -> None:
        client = client_factory()
        batch: list[list] = []
        for row in rows:
            batch.append([row[c] for c in columns])
            if len(batch) >= batch_size:
                client = _insert_with_retry(
                    client, client_factory, table, columns, batch, max_retries, backoff
                )
                batch = []
        if batch:
            _insert_with_retry(
                client, client_factory, table, columns, batch, max_retries, backoff
            )

    df.foreachPartition(_load)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 64,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled layout for co-located joins.

    Two 100 TB fact tables joined on their natural key (blocks x
    transactions on slot, lineitem x orders on orderkey) shuffle BOTH
    sides on every query; bucketing pays that shuffle once at write time.
    Reads of two tables bucketed the same way join with zero Exchange —
    pinned in tests/test_plan_audit.py.  Buckets also split each
    partition's data into `num_buckets` files, so parallelism survives
    partition skew.  (Spark bucketing requires saveAsTable — the bucket
    spec lives in the session catalog, spark.sql.warehouse.dir.)
    """
    writer = df.write.mode(mode).format("parquet")
    if sort_col is not None:
        writer = writer.bucketBy(num_buckets, bucket_col).sortBy(sort_col)
    else:
        writer = writer.bucketBy(num_buckets, bucket_col)
    writer.saveAsTable(table_name)


def compact_dataset(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 4,
) -> dict:
    """Small-file compaction for a partitioned warehouse dataset.

    Incremental runs add one file per batch per touched partition; after
    10k batches a partition is 10k tiny files and every scan pays 10k
    opens.  This is the parquet-warehouse version of the reference's
    OPTIMIZE TABLE ... FINAL between runs (era_state_manager.py
    optimize_tables): rewrite each oversized-file-count partition into
    ceil(bytes / target_file_bytes) files via dynamic partition overwrite —
    partitions already compact are left untouched (their bytes never move),
    and the rewrite of partition P replaces exactly P, so a crash mid-way
    loses nothing (the partition is re-written or intact, never half).

    Single-writer: run between batches like compact_log.  Returns
    {partition_value: files_before} for the partitions rewritten.
    """
    import math

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(path)
    fs = base.getFileSystem(conf)
    if not fs.exists(base):
        return {}
    todo: dict[str, tuple[int, int]] = {}  # partition dir -> (n_files, bytes)
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not st.isDirectory() or "=" not in name:
            continue
        files = [
            f for f in fs.listStatus(st.getPath())
            if f.isFile() and not f.getPath().getName().startswith(("_", "."))
        ]
        if len(files) >= min_files_to_compact:
            todo[name] = (len(files), sum(f.getLen() for f in files))
    if not todo:
        return {}
    col, _ = next(iter(todo)).split("=", 1)
    values = [k.split("=", 1)[1] for k in todo]
    # Files must be sized PER PARTITION: a global repartition(n_out) before
    # partitionBy spreads every partition's rows over all n_out tasks, so each
    # rewritten partition would get up to n_out files — on a 100-partition
    # warehouse that's *more* small files than before compaction.  Instead
    # shuffle on (partition col, salt) where partition P gets
    # ceil(bytes_P / target) salt buckets: P's rows land in at most that many
    # tasks, so at most that many output files.
    buckets = {
        k.split("=", 1)[1]: max(1, math.ceil(b / target_file_bytes))
        for k, (_, b) in todo.items()
    }
    n_out = sum(buckets.values())
    bucket_map = F.create_map(
        *[F.lit(x) for kv in buckets.items() for x in kv]
    )
    df = spark.read.parquet(path).filter(F.col(col).isin(values))
    salted = df.withColumn(
        "__salt",
        F.floor(
            F.rand(42)
            * F.element_at(bucket_map, F.col(col).cast("string"))
        ).cast("int"),
    )
    (
        salted.repartition(n_out, F.col(col), F.col("__salt"))
        .drop("__salt")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )
    return {k.split("=", 1)[1]: n for k, (n, _) in sorted(todo.items())}
