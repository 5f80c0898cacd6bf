"""Sinks (SURVEY §2.A9-A14), Spark-shaped.

The reference writes per-era files from in-memory lists (json/csv/parquet
exporters) and bulk-inserts to ClickHouse.  Here every sink is a
DataFrameWriter plan:

* parquet: month-partitioned (the reference's ClickHouse PARTITION BY
  toStartOfMonth(timestamp_utc)) + era_number subpartition for idempotent
  per-era overwrite (reference's delete-then-insert, D3).
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
    partition_by_era: bool = False,
    mode: str = "overwrite",
    metadata: dict | None = None,
) -> None:
    """Partitioned parquet sink; Catalyst prunes partitions on read filters.

    With partition_by_era the write overwrites partitions dynamically (a
    writer option, so the session conf is left as the caller set it):
    re-writing one era replaces exactly that era's partition (D3 semantics).
    """
    parts = []
    if partition_by_month and "timestamp_utc" in df.columns:
        df = with_month(df)
        parts.append(MONTH_COL)
    if partition_by_era and "era_number" in df.columns:
        parts.append("era_number")
    writer = df.write.mode(mode)
    if parts:
        writer = writer.partitionBy(*parts)
    if "era_number" in parts:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)
    if metadata is not None:
        _write_sidecar(path, metadata)


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
