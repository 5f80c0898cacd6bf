"""SparkSession factory tuned for this engine.

Local mode is the test bed; every setting is chosen to also make sense on a
real cluster (AQE, shuffle partitions sized to parallelism, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes kept per session; Spark's default is 100.  One
# perfbench era_ingest pass (run_incremental, its resume and the 13 beacon
# queries) generates 275 classes, one llm_ops pass 206.  The cache is a
# Guava LRU split into 4 segments that each evict at their share of the
# limit, so at 100 every warm pass recompiled its whole class set with
# Janino and ran fresh bytecode the JIT had not seen.  2000 holds several
# passes of either.
CODEGEN_CACHE_MAX_ENTRIES = 2000


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
