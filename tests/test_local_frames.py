"""session.rows_frame: driver-held rows as Arrow-built DataFrames.

Pins the helper to the Python-list createDataFrame it replaced (equal rows
and schema, equal failures), pins that neither the helper's output nor the
graph fast paths it feeds plan a PythonRDD, and pins that the helper is
the package's only createDataFrame call.
"""

from __future__ import annotations

import ast
import os

import pytest

from era_parser_spark.session import rows_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "era_parser_spark"
)

_CASES = [
    (
        "i int, l long, d double, s string",
        [(1, 2**40, 0.5, "a"), (None, None, None, None), (-7, -(2**62), -1e300, "")],
    ),
    (
        "tags array<string>, v array<double>",
        [(["x", None, "y"], [1.0, None, -2.5]), (None, None), ([], [])],
    ),
    ("i int, s string", []),
    ("id long, v array<double>", [(0, [0.25, 0.5]), (1, [1.5, float("inf")])]),
]


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("ddl,rows", _CASES, ids=["scalars", "arrays", "empty", "codebook"])
def test_rows_frame_matches_list_createDataFrame(spark, ddl, rows):
    got = rows_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_rows_frame_dict_rows_and_struct_schema(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("n", T.LongType())]
    )
    got = rows_frame(spark, [{"k": "a", "n": 1}, {"k": "b"}], schema)
    want = spark.createDataFrame([("a", 1), ("b", None)], schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("ddl,value", [("i int", 2**31), ("l long", 2**63)])
def test_rows_frame_int_overflow_raises_like_list_path(spark, ddl, value):
    with pytest.raises((ValueError, OverflowError)):
        spark.createDataFrame([(value,)], ddl)
    with pytest.raises((ValueError, OverflowError)):
        rows_frame(spark, [(value,)], ddl)


def test_rows_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        rows_frame(spark, [(1, "a"), (2,)], "i int, s string")
    with pytest.raises(ValueError):
        rows_frame(spark, [(1,)], "i int, s string")


def test_local_frames_plan_no_python_rdd(spark):
    """The helper's frames, and the CC / BFS fast-path results built from
    them, run without a Python worker; the list path they replaced does
    not (the check is live)."""
    from era_parser_spark.operators.graph import bfs_distances, connected_components

    rows = [(1, "a"), (2, "b")]
    assert "PythonRDD" in _lineage(spark.createDataFrame(rows, "i int, s string"))
    assert "PythonRDD" not in _lineage(rows_frame(spark, rows, "i int, s string"))

    nodes = spark.range(1, 8)
    edges = spark.range(1, 6).selectExpr("id AS src", "id + 1 AS dst")
    cc = connected_components(nodes, edges, id_col="id")
    assert "PythonRDD" not in _lineage(cc)
    assert {r["cluster_id"] for r in cc.collect()} == {1, 7}
    bfs = bfs_distances(edges, sources=[1, 4])
    assert "PythonRDD" not in _lineage(bfs)
    assert bfs.count() == 12


def _create_calls(tree: ast.AST) -> set[int]:
    return {
        id(n)
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "createDataFrame"
    }


def test_create_dataframe_only_inside_rows_frame():
    """Every local-rows frame in the package goes through rows_frame: an
    ast walk finds createDataFrame nowhere else."""
    offenders, in_helper = [], 0
    for root, _, files in os.walk(PKG):
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, name)
            tree = ast.parse(open(path, encoding="utf-8").read(), path)
            allowed: set[int] = set()
            if os.path.relpath(path, PKG) == "session.py":
                helper = next(
                    n for n in tree.body
                    if isinstance(n, ast.FunctionDef) and n.name == "rows_frame"
                )
                allowed = _create_calls(helper)
                in_helper = len(allowed)
            if _create_calls(tree) - allowed:
                offenders.append(os.path.relpath(path, PKG))
    assert offenders == []
    assert in_helper == 1


def test_driver_memory_default_is_a_quarter_of_ram():
    """get_spark's default driver heap: a quarter of MemTotal, clamped to
    1-4 GiB, 2g when MemTotal is unknown (no session is started)."""
    from era_parser_spark.session import _driver_memory

    gib = 1024 * 1024  # KiB
    assert _driver_memory(15 * gib) == "3g"
    assert _driver_memory(2 * gib) == "1g"
    assert _driver_memory(64 * gib) == "4g"
    assert _driver_memory(None) == "2g"
