"""Mirror of the driver's correctness gate: run every registered query in
Spark AND its DuckDB oracle on the same parquet, compare row count, column
names, and the full (order-insensitive) multiset of values — exactly.

Any floating-point discrepancy here means the driver's value-hash will
mismatch, so equality is asserted bitwise (no tolerance).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_MED, register_duck_views


def _query_names():
    from era_parser_spark.queries import ORACLES, load_all

    load_all()
    return sorted(ORACLES)


@pytest.mark.parametrize("name", _query_names())
def test_oracle_parity(spark, duck, name):
    from era_parser_spark.queries import ORACLES, QUERIES
    from era_parser_spark.testing.oracle import compare_spark_duckdb

    register_duck_views(duck, SF_MED)
    compare_spark_duckdb(QUERIES[name](spark, SF_MED), duck, ORACLES[name], name)


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return a stable schema."""
    from era_parser_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        df = fn(spark, SF_MED)
        rows = df.collect()
        assert rows is not None, name
        assert len(df.columns) > 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())
