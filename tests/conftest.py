from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from era_parser_spark.session import get_spark

    s = get_spark(app_name="era_parser_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    return duckdb.connect()


def register_duck_views(con, sf_dir: str):
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


def uncollapsed_fuzzy_dedup(docs, threshold: float = 0.5, keeper="min_id"):
    """fuzzy_dedup's output without its exact-clone collapse, composed from
    public operators over (doc_id, text): inverted-index verified LSH pairs
    -> connected_components -> cluster_sizes, with the keeper applied here
    (best score, then smallest id).  Sorted (doc_id, cluster_id,
    cluster_sz, kept) tuples."""
    from era_parser_spark.operators.dedup import minhash_lsh_dedup_pairs
    from era_parser_spark.operators.graph import cluster_sizes, connected_components

    edges = minhash_lsh_dedup_pairs(docs, "doc_id", "text", threshold=threshold)
    comps = connected_components(
        docs.select("doc_id"), edges.select("doc_a", "doc_b"), id_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
    )
    rows = cluster_sizes(comps, id_col="doc_id").collect()
    rank = {r.doc_id: r.doc_id for r in rows}
    if keeper != "min_id":
        col, direction = keeper
        sign = -1 if direction == "max" else 1
        score = {r.doc_id: r[col] for r in docs.select("doc_id", col).collect()}
        rank = {d: (sign * score[d], d) for d in rank}
    keep = {}
    for r in sorted(rows, key=lambda r: rank[r.doc_id]):
        keep.setdefault(r.cluster_id, r.doc_id)
    return sorted(
        (r.doc_id, r.cluster_id, r.cluster_sz, keep[r.cluster_id] == r.doc_id)
        for r in rows
    )
