"""SparkSession factory tuned for this engine.

Local mode is the test bed; every setting is chosen to also make sense on a
real cluster (AQE, shuffle partitions sized to parallelism, Arrow on).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Generated classes kept per session; Spark's default is 100.  One
# perfbench era_ingest pass (run_incremental, its resume and the 13 beacon
# queries) generates 275 classes, one llm_ops pass 206.  The cache is a
# Guava LRU split into 4 segments that each evict at their share of the
# limit, so at 100 every warm pass recompiled its whole class set with
# Janino and ran fresh bytecode the JIT had not seen.  2000 holds several
# passes of either.
CODEGEN_CACHE_MAX_ENTRIES = 2000


def _mem_total_kb() -> int | None:
    """The host's MemTotal in KiB, or None where /proc/meminfo is absent."""
    try:
        with open("/proc/meminfo") as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return None


def _driver_memory(mem_total_kb: int | None) -> str:
    """Default `spark.driver.memory`: a quarter of the host's RAM, between
    1 and 4 GiB (2g when RAM is unknown) — the benchmark's rule.  A fixed
    16g let the driver JVM of a local session grow past half of a 15 GB
    host and get OOM-killed beside a second Spark process."""
    if mem_total_kb is None:
        return "2g"
    return f"{max(1, min(4, mem_total_kb // (4 * 1024 * 1024)))}g"


def get_spark(
    app_name: str = "era_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle partitions ~ cores locally; AQE coalesces further at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Oracle comparisons (DuckDB) are UTC-naive; pin the session TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas interchange (mapInPandas parse kernel, UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Split small parquet files across cores: the default 128m leaves a
        # single-file table on one task.  At cluster scale, raise via env.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.ui.explainMode", "formatted")
        # Static conf: takes effect only when this call creates the session.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory(_mem_total_kb()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def rows_frame(
    spark: SparkSession,
    rows: Sequence[tuple] | Sequence[dict],
    schema: T.StructType | str,
) -> DataFrame:
    """Rows the driver already holds as a DataFrame, built through a
    pyarrow.Table typed by `schema` (a StructType or a DDL string such as
    "id long, v array<double>").  Rows are tuples in schema order or
    dicts keyed by field name (a missing key is null).  A naive datetime
    in a timestamp column reads as UTC; the list path read it in the
    host's local zone, so the two differ off UTC hosts.

    A Python-list createDataFrame sends the rows through a PythonRDD map
    with one task per core, and every Python task pays ~0.2 CPU-s of
    worker set-up before it runs any code; an Arrow table reaches the JVM
    as record batches and starts no Python worker.  Every local-rows
    frame in the package goes through here (docs/PLANS.md "Local frames
    through Arrow")."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if rows and isinstance(rows[0], dict):
        table = pa.Table.from_pylist(list(rows), schema=arrow_schema)
    else:
        cols = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [
                pa.array(c, type=f.type)
                for c, f in zip(cols, arrow_schema, strict=True)
            ],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)
