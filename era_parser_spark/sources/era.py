"""Era-file Spark source: binary e2store archives -> typed blocks DataFrame.

Pipeline (reference lifecycle §3.1, rebuilt Spark-shaped):
  spark.read.format("binaryFile")      one row per era file, one task per file
    -> mapInArrow(parse kernel)        snappy + SSZ decode inside each task,
                                       straight into Arrow columns (the
                                       decoder generated from the SSZ schema,
                                       parsing/arrow_direct.py); typed nested
                                       batches out, no per-block objects
    -> select(block.*)                 JVM-side column flattening only

Scale model: one era file (= 8192 slots, hundreds of MB) is one task; a
100 TB archive is ~hundreds of thousands of files, so parallelism scales
with the file count and no stage shuffles raw payloads.  Column pruning is
pushed into the SSZ layer via `tables=`/`body_include=` — the scan only
decodes the body fields the requested tables need (the reference always
decodes everything).

The Spark schema is GENERATED from the SSZ schema (one source of truth);
the Arrow schema the kernel emits is derived from the Spark schema with
pyspark's own converter, so the two can never drift.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from era_parser_spark.config.networks import (
    detect_network,
    fork_at_slot,
    parse_era_filename,
    slot_timestamp,
)
from era_parser_spark.parsing import ssz
from era_parser_spark.parsing.arrow_direct import ColumnarBlockCollector
from era_parser_spark.parsing.beacon import block_schema
from era_parser_spark.session import rows_frame

# body fields each normalized table needs (drives pruned decode)
TABLE_BODY_FIELDS: dict[str, set[str]] = {
    "blocks": {"eth1_data", "graffiti", "randao_reveal"},
    "sync_aggregates": {"sync_aggregate"},
    "execution_payloads": {"execution_payload"},
    "transactions": {"execution_payload"},
    "withdrawals": {"execution_payload"},
    "attestations": {"attestations"},
    "deposits": {"deposits"},
    "voluntary_exits": {"voluntary_exits"},
    "proposer_slashings": {"proposer_slashings"},
    "attester_slashings": {"attester_slashings"},
    "bls_changes": {"bls_to_execution_changes"},
    "blob_commitments": {"blob_kzg_commitments"},
    "deposit_requests": {"execution_requests"},
    "withdrawal_requests": {"execution_requests"},
    "consolidation_requests": {"execution_requests"},
}
ALL_TABLES = tuple(TABLE_BODY_FIELDS)


def ssz_to_spark(t: ssz.SSZType) -> T.DataType:
    """Spark type from an SSZ type (the schema single-source-of-truth)."""
    if isinstance(t, ssz.Uint):
        return T.LongType() if t.bits <= 64 else T.StringType()
    if isinstance(t, (ssz.ByteVector, ssz.ByteList, ssz.Bitvector, ssz.Bitlist)):
        return T.StringType()
    if isinstance(t, (ssz.List, ssz.Vector)):
        return T.ArrayType(ssz_to_spark(t.elem), True)
    if isinstance(t, ssz.Container):
        return T.StructType(
            [T.StructField(n, ssz_to_spark(ft), True) for n, ft in t.fields]
        )
    raise TypeError(f"no spark mapping for {type(t)}")


# The electra block is the superset of every fork's fields.
BLOCK_SPARK_SCHEMA: T.StructType = ssz_to_spark(block_schema("electra"))

_PARSE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("network", T.StringType(), False),
        T.StructField("era_number", T.LongType(), False),
        T.StructField("slot", T.LongType(), False),
        T.StructField("version", T.StringType(), False),
        T.StructField("timestamp_sec", T.LongType(), False),
        T.StructField("compressed_size", T.LongType(), True),
        T.StructField("decompressed_size", T.LongType(), True),
        T.StructField("block", BLOCK_SPARK_SCHEMA, False),
    ]
)
_PARSE_OUT_ARROW: pa.Schema = to_arrow_schema(_PARSE_OUT_SCHEMA)


def _local_path(path: str) -> str | None:
    """Filesystem path if the URI is local, else None."""
    if path.startswith("file:"):
        return path[len("file:"):]
    if "://" not in path:
        return path
    return None


def _fetch_era_bytes(path: str) -> bytes:
    """Task-side era-file read: local filesystem or HTTP(S) via stdlib
    urllib (A8 — the reference's primary public source is an https file
    server; downloads happen inside tasks, never through the driver)."""
    local = _local_path(path)
    if local is not None:
        with open(local, "rb") as f:
            return f.read()
    if path.startswith(("http://", "https://")):
        import urllib.request

        with urllib.request.urlopen(path, timeout=120) as resp:
            return resp.read()
    raise ValueError(f"no task-side fetch for {path!r}")


def _url_rows(spark: SparkSession, urls: list, glob: str | None) -> DataFrame:
    """One `path` row per http(s) URL whose file name matches `glob`, one
    URL per partition (each task fetches its own file)."""
    import fnmatch

    keep = [
        (u,) for u in urls
        if glob is None or fnmatch.fnmatch(str(u).rsplit("/", 1)[-1], glob)
    ]
    return rows_frame(spark, keep, "path string").repartition(len(keep) or 1)


def _source_rows(spark: SparkSession, paths: str | list[str], glob: str | None) -> DataFrame:
    """One row per era file, in one of three shapes chosen from the input
    path strings (no Spark job to probe the data):

    * local files -> binaryFile listing, `path` only; the task opens its
      own file so era bytes never cross the JVM->Arrow boundary;
    * http(s) URLs (A8) -> plain `path` rows, one per task; the task
      fetches with urllib (the driver never downloads);
    * other remote schemes (s3a/hdfs/...) -> binaryFile `path` + `content`:
      the JVM filesystem layer owns credentials and retries there.

    Task-side readers use `content` when the row has it, else
    `_fetch_era_bytes(path)`."""
    in_paths = [paths] if isinstance(paths, str) else list(paths)
    if all(str(p).startswith(("http://", "https://")) for p in in_paths):
        return _url_rows(spark, in_paths, glob)
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    binary = reader.load(paths)
    if all(_local_path(str(p)) is not None for p in in_paths):
        return binary.select("path")
    return binary.select("path", "content")


def _era_path_filter(slot_range: tuple[int, int]) -> F.Column:
    """File-level pruning predicate: drop era files whose slot span
    [era*8192, era*8192+8191] cannot intersect the requested range.  Paths
    without a parseable era number are kept (no safe pruning)."""
    lo, hi = slot_range
    era = F.regexp_extract("path", r"-(\d{5})-", 1)
    era_num = F.when(era != "", era.cast("long"))
    keep = (era_num * 8192 <= hi) & (era_num * 8192 + 8191 >= lo)
    return F.coalesce(keep, F.lit(True))


def _parser(
    network: str | None,
    body_include: set[str] | None,
    on_error: str = "skip",
    batch_rows: int = 2048,
    slot_range: tuple[int, int] | None = None,
    error_counter=None,
):
    """Arrow-native parse kernel: era bytes in, typed nested batches out.

    Every block, full or pruned to `body_include`, decodes through one
    `ColumnarBlockCollector`: the decoder generated from the SSZ schema
    appends each leaf straight into its column, and the block struct is
    built bottom-up once per batch.  No per-block dict or JSON text exists.
    """
    out_schema = _PARSE_OUT_ARROW
    block_type = out_schema.field("block").type

    def parse(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import gc

        # The kernel allocates millions of small objects per era file (one
        # str or int per leaf value); cyclic GC scans that live graph
        # repeatedly and costs ~2-4x throughput.  Nothing here creates
        # reference cycles (column lists of scalars), so refcounting alone
        # reclaims everything — disable the cycle collector for the
        # duration of the task batch.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            yield from _parse_batches(it)
        finally:
            if gc_was_enabled:
                gc.enable()

    def _parse_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import sys

        from era_parser_spark.parsing import snappy as _snappy
        from era_parser_spark.parsing.beacon import peek_slot as _peek
        from era_parser_spark.parsing.e2store import (
            TYPE_COMPRESSED_BLOCK as _TBLK,
            iter_block_payloads,
            iter_records,
        )

        scalars: list[tuple] = []  # per-block metadata columns
        collector = ColumnarBlockCollector(block_type, body_include)

        def flush() -> pa.RecordBatch:
            nonlocal scalars
            cols = list(zip(*scalars))
            arrays = [
                pa.array(cols[i], type=out_schema.field(i).type) for i in range(8)
            ] + [collector.flush()]
            scalars = []
            return pa.RecordBatch.from_arrays(arrays, schema=out_schema)

        for rb in it:
            names = rb.schema.names
            paths = rb.column(names.index("path"))
            content_col = rb.column(names.index("content")) if "content" in names else None
            for i in range(rb.num_rows):
                path = paths[i].as_py()
                if content_col is not None:
                    content = content_col[i].as_py()
                else:
                    # paths-only mode: the task reads its own bytes (local
                    # open or task-side HTTP fetch), so era bytes never
                    # ride through the JVM->Arrow boundary (one era file
                    # can be hundreds of MB)
                    content = _fetch_era_bytes(path)
                net = network or detect_network(path)
                meta = parse_era_filename(path)
                n_bad = 0

                def skip(exc: Exception, what: str) -> None:
                    """Per-record error isolation (the reference defaults bad
                    fields rather than failing the era): under 'skip' one
                    corrupt block is counted and reported, and must not
                    kill a 100 TB job; under 'fail' it surfaces."""
                    nonlocal n_bad
                    if on_error == "fail":
                        raise exc
                    n_bad += 1
                    if error_counter is not None:
                        error_counter.add(1)
                    print(
                        f"era_parser_spark: skipping {what} in {path}: "
                        f"{type(exc).__name__}: {exc}",
                        file=sys.stderr,
                    )

                # per-RECORD error isolation, not just per-parse: a payload
                # that fails snappy or is too short for the slot peek must
                # skip like any other bad block, and the iteration must
                # survive it (a generator that raises is dead, so the
                # try sits inside the loop, around decompress+peek)
                def robust_blocks():
                    if slot_range is None:
                        source = (
                            (None, rec.payload)
                            for rec in iter_records(content)
                            if rec.record_type == _TBLK
                        )
                    else:
                        # SlotIndex pushdown (A3): only matching records are
                        # sliced; nothing else is even snappy-decompressed
                        source = iter_block_payloads(content, slot_range=slot_range)
                    # The record iterator itself can raise mid-file on a
                    # truncated era (partial download — the most common real
                    # corruption), which a `for` loop would let escape and
                    # kill the task.  Drive it manually: truncation yields
                    # the blocks parsed so far, then skips the file's
                    # remainder under on_error='skip'.
                    src_it = iter(source)
                    while True:
                        try:
                            known_slot, comp = next(src_it)
                        except StopIteration:
                            break
                        except Exception as exc:  # noqa: BLE001
                            skip(exc, "the rest of a truncated/corrupt record stream")
                            break
                        try:
                            raw = _snappy.decompress(comp)
                            yield (
                                known_slot if known_slot is not None else _peek(raw),
                                len(comp),
                                raw,
                            )
                        except Exception as exc:  # noqa: BLE001
                            skip(exc, "an undecodable block record")

                for slot, comp_size, raw in robust_blocks():
                    try:
                        version = fork_at_slot(slot, net)
                        # payload timestamp when decoded and >0, else the
                        # slot's wall clock (derive_timestamp's rule)
                        ts = collector.append(raw, version) or slot_timestamp(slot, net)
                    except Exception as exc:  # noqa: BLE001
                        skip(exc, f"slot {slot}")
                        continue
                    scalars.append(
                        (
                            path,
                            net,
                            meta["era_number"] if meta else slot // 8192,
                            slot,
                            version,
                            ts,
                            comp_size,
                            len(raw),
                        )
                    )
                    if len(scalars) >= batch_rows:
                        yield flush()
                if n_bad:
                    print(
                        f"era_parser_spark: {n_bad} unparseable block(s) skipped in {path}",
                        file=sys.stderr,
                    )
        if scalars:
            yield flush()

    return parse


def parse_error_counter(spark: SparkSession):
    """Accumulator for `read_era_blocks(error_counter=...)`: counts blocks
    skipped by on_error='skip' across all tasks (exact under Spark's
    at-least-once accumulator semantics only when tasks don't retry —
    treat as a health signal, not an audit total)."""
    return spark.sparkContext.accumulator(0)


def read_era_blocks(
    spark: SparkSession,
    paths: str | list[str],
    network: str | None = None,
    tables: list[str] | None = None,
    body_include: set[str] | None = None,
    glob: str | None = None,
    on_error: str = "skip",
    slot_range: tuple[int, int] | None = None,
    partitions: int | None = None,
    error_counter=None,
    batch_rows: int = 2048,
) -> DataFrame:
    """Era files -> blocks DataFrame (typed, fork-superset body struct).

    `tables` prunes the SSZ decode to only the body fields those normalized
    tables need; `glob` filters file names (A6 glob_batch_source);
    `on_error='skip'` isolates per-block parse failures (logged + counted
    on executor stderr), `'fail'` surfaces them.  `slot_range=(lo, hi)`
    (inclusive) is a two-level pushdown: era files whose slot span cannot
    intersect are pruned from the listing, and inside surviving files the
    SlotIndex is used so non-matching blocks are never snappy-decompressed.
    `partitions` pins the number of scan tasks (default: one task per file
    via the binaryFile listing) — the source rows are paths, so this
    repartition shuffles strings, never era bytes.  Use it to bound task
    count on huge archives or to bin-pack many small eras per task.
    `error_counter` (from `parse_error_counter(spark)`) receives one task-
    side increment per skipped block, so an ops job can assert corruption
    rates without grepping executor stderr; read it AFTER an action.
    Every scan decodes through the columnar decoder generated from the SSZ
    schema (parsing/arrow_direct.py); its output is differential-tested
    equal to the generic SSZ walk on every fork.
    """
    from era_parser_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    if tables is not None and body_include is None:
        body_include = set()
        for t in tables:
            body_include |= TABLE_BODY_FIELDS[t]
    src = _source_rows(spark, paths, glob)
    if slot_range is not None:
        src = src.filter(_era_path_filter(slot_range))
    if partitions is not None:
        src = src.repartition(partitions)
    parsed = src.mapInArrow(
        _parser(network, body_include, on_error, batch_rows=batch_rows,
                slot_range=slot_range, error_counter=error_counter),
        _PARSE_OUT_SCHEMA,
    )
    block = F.col("block")
    return parsed.select(
        "network",
        "era_number",
        "slot",
        "version",
        F.timestamp_seconds("timestamp_sec").alias("timestamp_utc"),
        block.getField("message").getField("proposer_index").alias("proposer_index"),
        block.getField("message").getField("parent_root").alias("parent_root"),
        block.getField("message").getField("state_root").alias("state_root"),
        block.getField("signature").alias("signature"),
        block.getField("message").getField("body").alias("body"),
        "compressed_size",
        "decompressed_size",
        "path",
    )


def era_file_inventory(
    spark: SparkSession,
    paths: str | list[str],
    glob: str | None = None,
    with_md5: bool = False,
) -> DataFrame:
    """(path, era_number, network, size[, md5]) listing — the planning-side
    view (A6); its (era_number, path) pairs are what state.plan_pending
    plans incremental runs from.
    with_md5 adds the file-content hash the reference tracks per era (D9,
    era_state_manager.py:477-485) — it reads every byte, so keep it off for
    pure planning."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    cols = ["path", "length"] + (["content"] if with_md5 else [])
    files = reader.load(paths).select(*cols)
    era_re = r"([a-z0-9]+)-(\d{5})-([0-9a-f]+)\.era$"
    out = files.select(
        "path",
        F.regexp_extract("path", era_re, 1).alias("network"),
        F.regexp_extract("path", era_re, 2).cast("long").alias("era_number"),
        F.col("length").alias("size_bytes"),
        *([F.md5("content").alias("file_md5")] if with_md5 else []),
    )
    return out


def scan_stats(df: DataFrame) -> DataFrame:
    """A5 era_stats as a DataFrame op: blocks + slot range per era file."""
    return df.groupBy("path", "network", "era_number").agg(
        F.count(F.lit(1)).alias("block_count"),
        F.min("slot").alias("min_slot"),
        F.max("slot").alias("max_slot"),
        F.countDistinct("version").alias("fork_count"),
    )


def lookup_block(df: DataFrame, slot: int) -> DataFrame:
    """Point lookup (§3.3): slot equality predicate; with parquet-backed
    tables this prunes via min/max stats rather than a linear rescan."""
    return df.filter(F.col("slot") == slot)


def validate_era_files(
    spark: SparkSession, paths: str | list[str], glob: str | None = "*.era"
) -> DataFrame:
    """Distributed strict integrity check: one validate_era report per file.

    Same source rows as read_era_blocks (`_source_rows`): local and
    http(s) bytes are read task-side, other schemes' bytes arrive in the
    `content` column — validating a 100 TB archive is one map over the
    file listing.
    """
    from era_parser_spark.parsing.e2store import validate_era
    from era_parser_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    src = _source_rows(spark, paths, glob)

    out_schema = (
        "path string, ok boolean, n_records long, n_blocks long, bad_crc long, "
        "bad_slot_peek long, truncated boolean, has_version_header boolean, "
        "has_block_index boolean, index_mismatches long, min_slot long, max_slot long"
    )

    def check(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for i, path in enumerate(pdf["path"]):
                data = (
                    pdf["content"].iloc[i] if "content" in pdf
                    else _fetch_era_bytes(str(path))
                )
                rep = validate_era(data)
                rep["path"] = str(path)
                rows.append(rep)
            yield pd.DataFrame(rows)

    return src.mapInPandas(check, out_schema)
