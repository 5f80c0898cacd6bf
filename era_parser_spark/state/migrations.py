"""Versioned warehouse migrations (reference: numbered SQL/Python pairs via
a migration_manager; era_parser/export/migrations/).

Spark shape: migrations are numbered Python callables applied to the
warehouse's parquet tables with an applied-versions parquet log.  Parquet's
reader-side schema merge means additive column changes need no rewrite —
a migration typically rewrites only when changing partitioning or types.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from era_parser_spark.session import rows_frame

_LOG_SCHEMA = T.StructType(
    [
        T.StructField("version", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("applied_at_ns", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)


@dataclass
class Migration:
    version: int
    name: str
    apply: Callable[[SparkSession, str], None]


class MigrationRunner:
    def __init__(self, spark: SparkSession, warehouse: str, migrations: list[Migration]):
        self.spark = spark
        self.warehouse = warehouse
        self.migrations = sorted(migrations, key=lambda m: m.version)
        versions = [m.version for m in self.migrations]
        if len(set(versions)) != len(versions):
            raise ValueError("duplicate migration versions")
        self.log_path = f"{warehouse}/_migrations"

    def applied_versions(self) -> set[int]:
        try:
            df = self.spark.read.schema(_LOG_SCHEMA).parquet(self.log_path)
        except Exception:
            return set()
        return {
            r.version
            for r in df.filter(F.col("status") == "applied").select("version").collect()
        }

    def status(self) -> list[dict]:
        done = self.applied_versions()
        return [
            {"version": m.version, "name": m.name,
             "status": "applied" if m.version in done else "pending"}
            for m in self.migrations
        ]

    def run(self) -> list[int]:
        """Apply pending migrations in order; returns versions applied."""
        done = self.applied_versions()
        applied = []
        for m in self.migrations:
            if m.version in done:
                continue
            m.apply(self.spark, self.warehouse)
            row = {"version": m.version, "name": m.name,
                   "applied_at_ns": time.time_ns(), "status": "applied"}
            rows_frame(self.spark, [row], _LOG_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.log_path)
            applied.append(m.version)
        return applied


def builtin_migrations() -> list[Migration]:
    """The engine's own migration sequence for era warehouses (grows over
    releases; version numbers are permanent)."""
    return [
        Migration(
            1,
            "blocks_add_graffiti_text",
            add_column_migration("blocks", "graffiti_text", "string", None),
        ),
    ]


def add_column_migration(
    table: str, column: str, dtype: str, default=None
) -> Callable[[SparkSession, str], None]:
    """Additive column change: rewrite with the new column defaulted.

    (With a table format like Delta/Iceberg this is a metadata-only ALTER;
    on raw parquet the rewrite is one pass, partition layout preserved.)
    """

    def apply(spark: SparkSession, warehouse: str) -> None:
        path = f"{warehouse}/{table}"
        df = spark.read.parquet(path)
        if column in df.columns:
            return
        out = df.withColumn(column, F.lit(default).cast(dtype))
        tmp = f"{path}__migrating"
        out.write.mode("overwrite").parquet(tmp)
        import shutil

        local = path.replace("file:", "")
        shutil.rmtree(local)
        shutil.move(tmp.replace("file:", ""), local)

    return apply
