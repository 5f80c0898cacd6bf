"""connected_components vs a Python union-find.

The clustering tier of near-dup dedup (SURVEY §2 north-star): pair lists
become transitive clusters.  dd5_dup_clusters wires it to Jaccard pairs
with a recursive-CTE DuckDB oracle; here we pin the operator itself on
adversarial shapes (chains, singletons, multi-component random graphs),
on both sides of SMALL_GRAPH_EDGE_THRESHOLD: the driver union-find and
the star-contraction rounds.
"""

from __future__ import annotations

import random

import pytest

from era_parser_spark.operators.graph import (
    SMALL_GRAPH_EDGE_THRESHOLD,
    cluster_sizes,
    connected_components,
)


def _union_find(n_nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {v: v for v in n_nodes}

    def find(v: int) -> int:
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member id per component
    comp: dict[int, list[int]] = {}
    for v in n_nodes:
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


def _run(
    spark, monkeypatch, nodes: list[int], edges: list[tuple[int, int]]
) -> dict[int, int]:
    """Labels from the driver union-find and from the distributed rounds
    (gate forced below every edge list); the two must agree."""
    from era_parser_spark.operators import graph as graph_mod

    ndf = spark.createDataFrame([(v,) for v in nodes], "id long")
    edf = spark.createDataFrame(edges or [(None, None)], "src long, dst long")
    if not edges:
        edf = edf.filter("src IS NOT NULL")
    got = []
    for thr in (SMALL_GRAPH_EDGE_THRESHOLD, -1):
        monkeypatch.setattr(graph_mod, "SMALL_GRAPH_EDGE_THRESHOLD", thr)
        out = connected_components(ndf, edf, id_col="id")
        got.append({r["id"]: r["cluster_id"] for r in out.collect()})
    assert got[0] == got[1]
    return got[0]


def test_chain_and_singletons(spark, monkeypatch):
    # a 12-node chain (diameter stress: needs >1 round), a triangle, and
    # two singletons
    chain = list(range(100, 112))
    edges = [(a, b) for a, b in zip(chain, chain[1:])]
    edges += [(1, 2), (2, 3), (1, 3)]
    nodes = chain + [1, 2, 3, 50, 60]
    got = _run(spark, monkeypatch, nodes, edges)
    assert got == _union_find(nodes, edges)
    assert got[50] == 50 and got[60] == 60
    assert all(got[v] == 100 for v in chain)


def test_random_graphs_match_union_find(spark, monkeypatch):
    rng = random.Random(7)
    nodes = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    got = _run(spark, monkeypatch, nodes, edges)
    assert got == _union_find(nodes, edges)


def test_no_edges_all_singletons(spark, monkeypatch):
    got = _run(spark, monkeypatch, [5, 6, 7], [])
    assert got == {5: 5, 6: 6, 7: 7}


def test_cluster_sizes(spark):
    ndf = spark.createDataFrame([(v,) for v in [1, 2, 3, 9]], "id long")
    edf = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    comps = connected_components(ndf, edf, id_col="id")
    rows = {r["id"]: (r["cluster_id"], r["cluster_sz"]) for r in cluster_sizes(comps).collect()}
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 9: (9, 1)}


def test_nonconvergence_raises(spark, monkeypatch):
    # force the distributed rounds (the property under test): the round-12
    # small-graph driver fast path would otherwise label this 5-edge chain
    # exactly without iterating
    from era_parser_spark.operators import graph as graph_mod

    monkeypatch.setattr(graph_mod, "SMALL_GRAPH_EDGE_THRESHOLD", -1)
    ndf = spark.createDataFrame([(v,) for v in range(6)], "id long")
    edf = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(ndf, edf, id_col="id", max_iter=1)


def test_alternating_matches_union_find_random(spark, monkeypatch):
    rng = random.Random(13)
    nodes = list(range(150))
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    got = _run(spark, monkeypatch, nodes, edges)
    assert got == _union_find(nodes, edges)


def test_alternating_long_chain_logarithmic_rounds(spark, monkeypatch):
    """A 300-link chain (diameter 300) must finish inside the default
    60-round cap: star contraction is O(log n) for every graph shape,
    where one-round-per-link label propagation would need 300.  Forces
    the distributed rounds: the driver fast path would otherwise absorb
    a 300-edge graph, and the O(log n) argument is about the star
    rounds."""
    from era_parser_spark.operators import graph as graph_mod

    monkeypatch.setattr(graph_mod, "SMALL_GRAPH_EDGE_THRESHOLD", -1)
    n = 300
    nodes = list(range(n))
    ndf = spark.createDataFrame([(v,) for v in nodes], "id long")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = connected_components(ndf, edf, id_col="id")
    assert {r["id"]: r["cluster_id"] for r in out.collect()} == {v: 0 for v in nodes}


def test_alternating_singletons_and_shapes(spark, monkeypatch):
    nodes = [1, 2, 3, 50, 60] + list(range(100, 112))
    edges = [(a, b) for a, b in zip(range(100, 112), range(101, 112))]
    edges += [(1, 2), (2, 3), (1, 3)]
    got = _run(spark, monkeypatch, nodes, edges)
    assert got == _union_find(nodes, edges)
    got_empty = _run(spark, monkeypatch, [5, 6, 7], [])
    assert got_empty == {5: 5, 6: 6, 7: 7}


def test_bfs_no_landmarks_returns_empty_typed_frame(spark, monkeypatch):
    """bfs_distances(edges, []) is an empty (landmark, node, dist) frame
    with the landmark typed like the nodes, on the driver fast path and
    on the distributed waves alike."""
    import era_parser_spark.operators.graph as gr

    for ddl, edges, node_type in (
        ("src long, dst long", [(1, 2), (2, 3)], "bigint"),
        ("src string, dst string", [("a", "b"), ("b", "c")], "string"),
    ):
        e = spark.createDataFrame(edges, ddl)
        for thr in (1_000_000, -1):
            monkeypatch.setattr(gr, "SMALL_GRAPH_EDGE_THRESHOLD", thr)
            out = gr.bfs_distances(e, sources=[])
            assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
                ("landmark", node_type), ("node", node_type), ("dist", "bigint"),
            ]
            assert out.collect() == []
