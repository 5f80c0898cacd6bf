"""Order-insensitive exact comparison between a Spark DataFrame and a
DuckDB query — the same bar as the external driver's value-hash gate.
"""

from __future__ import annotations

import datetime
import math


def normalize_value(v):
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", v.hex())
    if isinstance(v, datetime.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("t", f"{v.isoformat()}T00:00:00")
    if isinstance(v, bytes):
        return ("y", v.hex())
    return ("o", repr(v))


def rows_multiset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize_value(r[i]) for i in order) for r in rows)


def compare_spark_duckdb(sdf, duck_con, sql: str, label: str = "") -> int:
    """Assert exact (order-insensitive) equality of result multisets;
    returns the row count."""
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = duck_con.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{label}: columns differ: spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{label}: rows differ: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = rows_multiset(spark_cols, spark_rows)
    d = rows_multiset(duck_cols, duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{label}: value mismatch, first diffs: {diffs}")
    return len(s)
