"""Round-13 (optimization round 2) focused tests.

Differential pins for the optimizations and correctness fixes of this
round — every fast path must equal its reference path bit-for-bit.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- ivf_assign degenerate-centroid guards (round-13 ADVICE fixes) -----------


def _assign_key(r):
    d = r["centroid_dist"]
    return (
        r["vec_id"],
        r["centroid_id"],
        None if d is None else (math.isnan(d), d if not math.isnan(d) else 0.0),
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_assign_null_element_centroid_falls_back(spark):
    """A null ELEMENT inside a centroid vector must route the whole
    assignment through the expression path: np.array would silently read
    None as NaN, picking a different centroid than sq_l2_expr's SQL-null
    distance (the ADVICE counterexample: [None, 0.0] centroid)."""
    import era_parser_spark.operators.similarity as S

    df = spark.createDataFrame(
        [(1, [4.0, 0.0]), (2, [0.0, 0.0]), (3, [8.0, 8.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [None, 0.0]), (1, [4.0, 0.0])],
        "centroid_id long, cvec array<double>",
    )
    assigned = S.ivf_assign(df, "embedding", "vec_id", cents)
    # the guard fired: the numpy kernel is not in the plan
    assert "MapInArrow" not in _plan(assigned)
    fast = sorted(map(_assign_key, assigned.collect()))
    # the expression semantics: the null-element centroid yields a NULL
    # distance, and array_min's struct order puts NULL dist FIRST — every
    # row must therefore land on centroid 0 with a NULL distance
    assert all(k[1] == 0 and k[2] is None for k in fast)


def test_ivf_assign_null_centroid_id_falls_back(spark):
    """A NULL centroid_id used to crash ivf_assign at plan-build time
    (TypeError sorting int vs None); it must fall back to the expression
    path like every other malformed centroid table."""
    import era_parser_spark.operators.similarity as S

    df = spark.createDataFrame(
        [(1, [4.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(None, [0.0, 0.0]), (7, [4.0, 0.0])],
        "centroid_id long, cvec array<double>",
    )
    fast = sorted(
        map(_assign_key, S.ivf_assign(df, "embedding", "vec_id", cents).collect())
    )
    expr = sorted(
        map(
            _assign_key,
            S._ivf_assign_expr(df, "embedding", "vec_id", cents).collect(),
        )
    )
    assert fast == expr


def test_ivf_assign_nan_element_centroid_takes_expression_path(spark):
    """A NaN element inside a centroid vector makes that centroid's distance
    NaN for every row; the guard must send the assignment down the
    expression path (no MapInArrow) instead of pushing every row through
    the per-row Python fold.  Differential: the result equals a plain
    Python squared-L2 argmin under array_min's struct order (NaN greater
    than every double, ties on centroid id)."""
    import era_parser_spark.operators.similarity as S

    vecs = [(1, [4.0, 0.0]), (2, [0.0, 1.0]), (3, [8.0, 8.0]), (4, [2.0, 0.0])]
    cvecs = [(0, [float("nan"), 0.0]), (1, [4.0, 0.0]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(cvecs, "centroid_id long, cvec array<double>")
    assigned = S.ivf_assign(df, "embedding", "vec_id", cents)
    assert "MapInArrow" not in _plan(assigned)

    def reference(x):
        def key(c):
            cid, cv = c
            d = sum((a - b) * (a - b) for a, b in zip(x, cv))
            return (math.isnan(d), d if not math.isnan(d) else 0.0, cid), d

        (_, _, cid), d = min(map(key, cvecs))
        return cid, d

    got = {r["vec_id"]: (r["centroid_id"], r["centroid_dist"]) for r in assigned.collect()}
    assert got == {vid: reference(x) for vid, x in vecs}
    assert got[4] == (1, 4.0)  # equidistant from centroids 1 and 2 -> lower id
