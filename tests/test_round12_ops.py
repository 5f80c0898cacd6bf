"""Round-12 operators and fixes:

* t40's TWO-PHASE orig-restricted adjacency (the per-document lead window
  replaced by range-partitioned `_adjacent_pairs` on (orig, rank, uid,
  pos) — no stage anywhere scales with single-document size), pinned both
  functionally (a repeat straddling the range-partition boundary at tiny
  n_parts) and structurally (the pair generation goes through
  `_adjacent_pairs`, whose plan has no Window).
* `longest_cross_doc_span_refined` (t41/dd20): iterative-doubling
  refinement of overlap-clamped chunked spans — exact values at ANY span
  length, thresholded dedup decision-exact for ANY threshold.
* the dd19/t39 overlap-headroom guard (round-12 advice): the sf0.01
  corpus' true max cross-doc span must stay below the 94-token overlap
  those oracles assume.
* st4's production TTL (`ttl_ms=` on digest_dedup_monitor, the st16
  ProcessingTimeTimeout pattern): an idle digest is forgotten and a
  late duplicate re-keeps under a fresh keeper.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED, SF_SMALL


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _filler(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


# --- t40 two-phase adjacency ---------------------------------------------------


def test_chunked_repeat_two_phase_partition_boundary(spark):
    """The orig-restricted adjacency must survive its rows being split
    across range partitions: at n_parts=2..4 the per-partition pair
    kernel sees only fragments of each document's (rank-ordered)
    position list and the cross-partition pairs come from the collected
    boundary artifact — results must be identical to a single-partition
    run for a corpus with a cross-chunk repeat AND a no-repeat doc."""
    from era_parser_spark.operators.suffix import longest_repeated_span_chunked

    plant = _filler("rep", 10)
    big = _filler("a", 30) + plant + _filler("b", 90) + plant + _filler("c", 60)
    lonely = _filler("e", 150)
    inchunk = _filler("p", 5) + plant + plant + _filler("q", 175)
    docs = _docs(
        spark,
        [(1, " ".join(big)), (2, " ".join(lonely)), (3, " ".join(inchunk))],
    )
    want = {1: (10, True), 2: (0, True), 3: (10, True)}
    for n_parts in (1, 2, 3, 4):
        out = longest_repeated_span_chunked(
            docs, "doc_id", "text",
            max_doc_tokens=80, chunk_overlap=40, n_parts=n_parts,
        )
        got = {
            r["doc_id"]: (r["longest_repeat"], r["routed"]) for r in out.collect()
        }
        assert got == want, n_parts


def test_chunked_repeat_pair_generation_is_adjacent_pairs(spark, monkeypatch):
    """Structural pin for the round-12 scale fix: t40's pair generation
    must go through the range-partitioned `_adjacent_pairs` machinery on
    keys (__g, r, __uid, pos) — NOT a per-document Window — and the pair
    frame's plan must contain no Window operator at all (the round-11
    formulation's per-orig lead window sorted each document's positions
    in one task)."""
    from era_parser_spark.operators import suffix as sfx

    calls: list[tuple] = []
    real = sfx._adjacent_pairs

    def spy(df, key_cols, n_parts=None):
        out = real(df, key_cols, n_parts)
        calls.append((list(key_cols), out))
        return out

    monkeypatch.setattr(sfx, "_adjacent_pairs", spy)
    docs = _docs(spark, [(1, " ".join(_filler("a", 120))),
                         (2, " ".join(_filler("a", 120)))])
    sfx.longest_repeated_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=64, chunk_overlap=32
    ).collect()
    orig_calls = [c for c in calls if c[0] == ["__g", "r", "__uid", "pos"]]
    assert orig_calls, [c[0] for c in calls]
    plan = orig_calls[0][1]._jdf.queryExecution().analyzed().toString()
    assert "Window" not in plan


# --- t41 / dd20: iterative-doubling refinement --------------------------------


def test_refined_span_recovers_3v_plant(spark):
    """A shared span of 3x the overlap: one chunked pass can only report
    a clamped lower bound (<= chunk size 32 here, since no 32-token unit
    can hold the 48-token span), while the refinement loop doubles the
    route until the value is exact."""
    from era_parser_spark.operators.suffix import (
        longest_cross_doc_span_chunked,
        longest_cross_doc_span_refined,
    )

    plant = _filler("shared", 48)  # 3 * V
    a = _filler("a", 20) + plant + _filler("b", 20)
    b = _filler("c", 10) + plant + _filler("d", 30)
    docs = _docs(spark, [(1, " ".join(a)), (2, " ".join(b)),
                         (3, " ".join(_filler("z", 40)))])
    clamped = {
        r["doc_id"]: r["longest_shared"]
        for r in longest_cross_doc_span_chunked(
            docs, "doc_id", "text", max_doc_tokens=32, chunk_overlap=16
        ).collect()
    }
    assert 16 <= clamped[1] <= 32 and 16 <= clamped[2] <= 32
    refined = {
        r["doc_id"]: r["longest_shared"]
        for r in longest_cross_doc_span_refined(
            docs, "doc_id", "text", max_doc_tokens=32, chunk_overlap=16
        ).collect()
    }
    assert refined == {1: 48, 2: 48, 3: 0}


def test_refined_span_exact_at_overlap_boundary(spark):
    """Spans exactly AT the overlap are already exact in pass 1 (the
    containment argument covers L <= V); the refinement loop must not
    change them — and a span one past the overlap must refine to its
    true value."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_refined

    at = _filler("at", 16)
    past = _filler("past", 17)
    docs = _docs(
        spark,
        [
            (1, " ".join(_filler("a", 30) + at + _filler("b", 10))),
            (2, " ".join(at + _filler("c", 40))),
            (3, " ".join(_filler("d", 25) + past + _filler("e", 15))),
            (4, " ".join(_filler("f", 5) + past + _filler("g", 35))),
        ],
    )
    got = {
        r["doc_id"]: r["longest_shared"]
        for r in longest_cross_doc_span_refined(
            docs, "doc_id", "text", max_doc_tokens=32, chunk_overlap=16
        ).collect()
    }
    assert got == {1: 16, 2: 16, 3: 17, 4: 17}


def test_refined_matches_exact_operator_sf_small(spark):
    """t41's operator at sf0.001 with tiny chunks (cap 64 / overlap 32 —
    plenty of routing and clamping) equals the unchunked exact operator
    on every document."""
    from era_parser_spark.operators.suffix import (
        longest_cross_doc_span,
        longest_cross_doc_span_refined,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    exact = {
        r["doc_id"]: r["longest_shared"]
        for r in longest_cross_doc_span(docs, "doc_id", "text").collect()
    }
    got = {
        r["doc_id"]: r["longest_shared"]
        for r in longest_cross_doc_span_refined(
            docs, "doc_id", "text", max_doc_tokens=64, chunk_overlap=32
        ).collect()
    }
    assert got == exact


def test_dd20_threshold_beyond_overlap(spark):
    """The drop decision for a threshold ABOVE the chunk overlap (the
    case a single chunked pass cannot decide): refined values make
    kept = longest_shared < T exact for any T."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_refined

    plant = _filler("dup", 48)
    short = _filler("sm", 20)  # shared 20-token span: below T=40, kept
    docs = _docs(
        spark,
        [
            (1, " ".join(_filler("a", 10) + plant)),
            (2, " ".join(plant + _filler("b", 30))),
            (3, " ".join(_filler("c", 15) + short + _filler("d", 5))),
            (4, " ".join(short + _filler("e", 25))),
            (5, " ".join(_filler("z", 50))),
        ],
    )
    spans = longest_cross_doc_span_refined(
        docs, "doc_id", "text", max_doc_tokens=32, chunk_overlap=16
    )
    got = {
        r["doc_id"]: (r["longest_shared"], r["longest_shared"] < 40)
        for r in spans.collect()
    }
    assert got == {1: (48, False), 2: (48, False), 3: (20, True),
                   4: (20, True), 5: (0, True)}


# --- dd19/t39 overlap-headroom guard (round-12 advice) ------------------------


def test_corpus_max_span_stays_below_routed_overlap():
    """dd19/t39's oracles are exact global-suffix SQL while their engine
    paths guarantee exact VALUES only up to the 94-token overlap — they
    agree because the corpus' true max cross-doc span (93 when this was
    written) is below 94.  This guard trips if the test corpus is ever
    regenerated with a longer shared span; fix = raise those entries'
    chunk_overlap headroom (or switch them to the refined operator)."""
    import duckdb

    con = duckdb.connect()
    (mx,) = con.execute(
        f"""
        WITH d AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\\s+') AS tok
          FROM read_parquet('{SF_MED}/documents.parquet')
          WHERE text IS NOT NULL AND trim(text) != ''
        ),
        p AS (
          SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
          FROM d, unnest(generate_series(1, len(tok))) AS t(i)
          WHERE len(tok) >= 1
        ),
        a AS (
          SELECT doc_id, tok[CAST(pos AS INTEGER):] AS suf,
                 lag(doc_id) OVER
                   (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS pd,
                 lag(tok[CAST(pos AS INTEGER):]) OVER
                   (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev
          FROM p
        )
        SELECT max(CASE WHEN prev IS NULL OR pd = doc_id THEN 0
                   ELSE len(list_filter(
                          generate_series(1, least(len(suf), len(prev))),
                          k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
                   END)
        FROM a
        """
    ).fetchone()
    assert mx < 94, (
        f"corpus max cross-doc span {mx} >= dd19/t39 overlap 94: their "
        "exact-SQL oracles no longer match the clamped engine values"
    )


# --- st4 production TTL --------------------------------------------------------


def test_digest_dedup_ttl_forgets_idle_digest(spark, tmp_path_factory):
    """st4's production TTL (ttl_ms=): a digest idle past the TTL is
    forgotten, so a late duplicate re-keeps under a FRESH min-id keeper
    with a reset copy count (the windowed-dedup tradeoff), while live
    duplicates inside the window still fold into the original keeper.
    Same harness discipline as st16's TTL pin: a continuous
    processingTime trigger, never availableNow with timeouts armed."""
    import time
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import digest_dedup_monitor

    root = tmp_path_factory.mktemp("st4_ttl")
    src = root / "src"
    src.mkdir()
    sch = "digest string, doc_id long"
    collected: list[tuple] = []
    stream = spark.readStream.schema(sch).parquet(f"{src}/*")
    q = (
        digest_dedup_monitor(stream, ttl_ms=4000)
        .writeStream.foreachBatch(
            lambda bdf, _bid: collected.extend(tuple(r) for r in bdf.collect())
        )
        .queryName(f"ttl4_{_uuid.uuid4().hex[:8]}")
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def wait_for(digest: str, doc: int):
        deadline = time.time() + 60
        while time.time() < deadline and not any(
            r[0] == digest and r[1] == doc for r in collected
        ):
            time.sleep(0.5)
        assert any(r[0] == digest and r[1] == doc for r in collected), collected

    try:
        spark.createDataFrame(
            [("d1", 5), ("d2", 7)], sch
        ).coalesce(1).write.parquet(str(src / "a"))
        wait_for("d1", 5)  # keeper 5, state armed
        time.sleep(6)  # idle past the 4 s TTL: both digests expire
        spark.createDataFrame(
            [("d1", 9), ("d3", 11)], sch
        ).coalesce(1).write.parquet(str(src / "b"))
        wait_for("d3", 11)  # proves file b processed
    finally:
        q.stop()
    assert ("d1", 5, 1) in collected
    # expired digest re-keeps fresh: keeper 9 count 1, NOT (5, 2)
    assert ("d1", 9, 1) in collected
    assert all(not (r[0] == "d1" and r[1] == 5 and r[2] == 2) for r in collected)


# --- small-graph CC fast path --------------------------------------------------


def test_smallgraph_cc_matches_distributed_rounds(spark, monkeypatch):
    """The driver union-find fast path must produce EXACTLY the labels of
    the distributed rounds (min reachable id), including chain shapes,
    merged stars, isolated nodes, and string ids."""
    import era_parser_spark.operators.graph as gr

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> min 1
        (10, 11), (11, 10), (12, 10),    # star with a reverse duplicate
        (20, 21), (22, 21), (23, 22), (5, 4),  # chain joins cluster 1
    ]
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 22, 23, 99]],
        "id long",
    )
    e = spark.createDataFrame(edges, "src long, dst long")

    def labels(fn):
        return {
            (r["id"], r["cluster_id"]) for r in fn(nodes, e, id_col="id").collect()
        }

    fast = labels(gr.connected_components)
    monkeypatch.setattr(gr, "SMALL_GRAPH_EDGE_THRESHOLD", 0)
    slow = labels(gr.connected_components)
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
        (99, 99),
    }
    assert fast == slow == want

    # string ids: UTF-8 binary min must match Python's code-point min
    se = spark.createDataFrame([("b", "a"), ("b", "c")], "src string, dst string")
    sn = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    monkeypatch.setattr(gr, "SMALL_GRAPH_EDGE_THRESHOLD", 1_000_000)
    fast = {
        (r["id"], r["cluster_id"])
        for r in gr.connected_components(sn, se, id_col="id").collect()
    }
    assert fast == {("a", "a"), ("b", "a"), ("c", "a")}


# --- bfs_distances small-graph fast path ----------------------------------------


def test_bfs_smallgraph_matches_distributed_waves(spark, monkeypatch):
    """The driver BFS fast path must equal the distributed waves exactly:
    min-hop distances, multi-landmark overlap, unreachable components,
    absent landmarks, the bounded-rounds cut, and the
    still-expanding-past-max_iter raise."""
    import era_parser_spark.operators.graph as gr

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),      # path
        (3, 6), (6, 7),                      # branch
        (100, 101),                          # separate component
    ]
    e = spark.createDataFrame(edges, "src long, dst long")

    def run(fn_kwargs):
        return sorted(
            tuple(r)
            for r in gr.bfs_distances(e, **fn_kwargs).collect()
        )

    for kwargs in (
        {"sources": [1, 100]},
        {"sources": [1, 6, 999]},            # 999 absent from the graph
        {"sources": [1], "rounds": 2},       # bounded: only dist <= 2
        {"sources": [1], "rounds": 0},       # just the landmark itself
    ):
        fast = run(kwargs)
        monkeypatch.setattr(gr, "SMALL_GRAPH_EDGE_THRESHOLD", -1)
        slow = run(kwargs)
        monkeypatch.setattr(gr, "SMALL_GRAPH_EDGE_THRESHOLD", 1_000_000)
        assert fast == slow, kwargs
    assert ([r for r in run({"sources": [1], "rounds": 2}) if r[2] > 2] == [])

    # the max_iter guard: a 6-hop path with max_iter=3 must raise on BOTH
    # paths (the driver replica mirrors the still-expanding probe)
    import pytest as _pytest

    for thr in (1_000_000, -1):
        monkeypatch.setattr(gr, "SMALL_GRAPH_EDGE_THRESHOLD", thr)
        with _pytest.raises(RuntimeError, match="still expanding"):
            gr.bfs_distances(e, sources=[1], max_iter=3)

    # string node ids through the fast path
    monkeypatch.setattr(gr, "SMALL_GRAPH_EDGE_THRESHOLD", 1_000_000)
    se = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = sorted(tuple(r) for r in gr.bfs_distances(se, sources=["a"]).collect())
    assert got == [("a", "a", 0), ("a", "b", 1), ("a", "c", 2)]


# --- ivf_assign Arrow/numpy kernel ---------------------------------------------


def test_ivf_assign_numpy_kernel_matches_expression_path(spark):
    """The round-12 Arrow-batched assignment kernel must equal the
    expression path bit-for-bit: well-formed rows (the numpy matmul-free
    sequential-dim accumulation), NaN/Inf components (the in-kernel fold
    replica with Spark's NaN-greatest ordering), null / wrong-dim /
    null-element vectors (routed through the expression path verbatim),
    ties (first-min == (dist, id) struct order), extra_cols passthrough,
    and the ragged-centroid fallback."""
    import math
    import random

    import era_parser_spark.operators.similarity as S

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    rows += [
        (1000, None),
        (1001, [1.0] * 5),
        (1002, [float("nan")] + [0.0] * 7),
        (1003, [float("inf")] + [0.0] * 7),
        (1004, [0.0] * 8),
        (1005, [0.0] * 8),
        (1006, [None] + [0.5] * 7),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = df.withColumn("q", (F.col("vec_id") % 7).cast("double"))
    cents = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)]
        + [(6, [0.0] * 8), (7, [0.0] * 8)],  # exact tie for vec 1004/1005
        "centroid_id long, cvec array<double>",
    )

    def key(r):
        d = r["centroid_dist"]
        return (
            r["vec_id"],
            r["centroid_id"],
            None if d is None else (math.isnan(d), d if not math.isnan(d) else 0.0),
            r["q"],
        )

    fast = sorted(
        map(key, S.ivf_assign(df, "embedding", "vec_id", cents,
                              extra_cols=("q",)).collect())
    )
    expr = sorted(
        map(key, S._ivf_assign_expr(df, "embedding", "vec_id", cents,
                                    extra_cols=("q",)).collect())
    )
    assert fast == expr
    # ties resolved to the LOWEST centroid id
    zero_rows = [k for k in fast if k[0] in (1004, 1005)]
    assert all(k[1] == 6 for k in zero_rows)

    # ragged centroid table: full fallback, still identical
    ragged = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [0.0] * 4)], "centroid_id long, cvec array<double>"
    )
    f2 = sorted(map(key, S.ivf_assign(df, "embedding", "vec_id", ragged,
                                      extra_cols=("q",)).collect()))
    e2 = sorted(map(key, S._ivf_assign_expr(df, "embedding", "vec_id", ragged,
                                            extra_cols=("q",)).collect()))
    assert f2 == e2


# --- small-vocab trainer fast path ---------------------------------------------


def test_small_vocab_trainer_matches_distributed_rounds(spark, monkeypatch):
    """The driver merge-loop fast path must reproduce the distributed
    rounds bit-for-bit: merges rows, final vocab segmentation, and the
    WordPiece fixed-point scores."""
    import era_parser_spark.operators.tokenizer as tk

    rows = [
        (1, "low lower lowest newest newer new wide wider widest"),
        (2, "low low lower newest newest wide wide wide"),
        (3, "the newest lowest widest new low"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def snap(trainer, **kw):
        m, v = trainer(df, "text", n_merges=6, return_vocab=True, **kw)
        return (
            sorted(tuple(r) for r in m.collect()),
            sorted((r["w"], r["freq"], tuple(r["syms"])) for r in v.collect()),
        )

    fast_bpe = snap(tk.bpe_merges_distributed)
    fast_wp = snap(tk.wordpiece_merges_distributed, min_pair_count=2)
    monkeypatch.setattr(tk, "SMALL_VOCAB_THRESHOLD", -1)
    slow_bpe = snap(tk.bpe_merges_distributed)
    slow_wp = snap(tk.wordpiece_merges_distributed, min_pair_count=2)
    assert fast_bpe == slow_bpe
    assert fast_wp == slow_wp
    assert len(fast_bpe[0]) == 6 and len(fast_wp[0]) > 0
