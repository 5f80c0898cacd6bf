"""Round-11 pins: the round-10 advice items + the chunked suffix routing.

- big-walk strategy equivalence: BIG_WALK_PAIR_THRESHOLD is a module
  constant so the level-skip + per-level-checkpoint walk — behaviorally a
  different code path — is forceable on a small fixture.
- st16: a pre-1970 (negative µs) click is a valid dimension update; the old
  last_us = -1 sentinel silently dropped every purchase after it.
- wordpiece greedy: the first-char piece bucketing must be scan-equivalent
  to the full longest-first vocabulary scan.
- chunked cross-doc span routing (the round-10 verdict's #1): oversized docs
  are chunked, not skipped; spans <= overlap are exact, same-doc chunk
  overlaps never self-match, and values past the overlap are lower bounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spans(df) -> dict:
    return {r["doc_id"]: r["longest_shared"] for r in df.collect()}


# --- big-walk strategy equivalence on a small fixture -------------------------


def test_big_walk_strategy_equivalence(spark, monkeypatch):
    import era_parser_spark.operators.suffix as sfx

    rows = [
        (1, "alpha beta gamma delta epsilon zeta beta gamma delta"),
        (2, "omega beta gamma delta epsilon psi chi"),
        (3, "unrelated tokens entirely here now"),
        (4, "alpha beta gamma delta epsilon zeta"),
    ]
    docs = _docs(spark, rows)
    lazy_cross = _spans(sfx.longest_cross_doc_span(docs, "doc_id", "text"))
    lazy_rep = {
        r["doc_id"]: r["longest_repeat"]
        for r in sfx.longest_repeated_span(docs, "doc_id", "text").collect()
    }
    monkeypatch.setattr(sfx, "BIG_WALK_PAIR_THRESHOLD", 0)
    big_cross = _spans(sfx.longest_cross_doc_span(docs, "doc_id", "text"))
    big_rep = {
        r["doc_id"]: r["longest_repeat"]
        for r in sfx.longest_repeated_span(docs, "doc_id", "text").collect()
    }
    assert big_cross == lazy_cross
    assert big_rep == lazy_rep
    # sanity on the fixture itself: docs 1/2 share "beta gamma delta
    # epsilon" (4), docs 1/4 share 6, doc 1 self-repeats 3
    assert lazy_cross[1] == 6 and lazy_cross[2] == 4 and lazy_cross[3] == 0
    assert lazy_rep[1] == 3


# --- st16: pre-1970 clicks are valid state ------------------------------------


def test_asof_enrich_negative_us_click(spark, tmp_path_factory):
    """A click with a pre-1970 event time (negative unix µs) must enrich
    later purchases — the SQL oracle has no epoch restriction, and the
    old -1 'no prior click' sentinel silently swallowed this state."""
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import (
        asof_enrich_monitor,
        run_stream_once,
    )

    src = tmp_path_factory.mktemp("st16_neg_src")
    sch = "user_id long, event_id long, event_type string, value double, us long"
    spark.createDataFrame(
        [
            (1, 1, "click", 3.5, -5_000_000),  # 1969-12-31T23:59:55
            (1, 2, "purchase", 0.0, -1_000_000),  # still pre-1970
            (1, 3, "purchase", 0.0, 4_000_000),
        ],
        sch,
    ).coalesce(1).write.parquet(str(src / "a"))
    stream = spark.readStream.schema(sch).parquet(f"{src}/*")
    out = run_stream_once(
        asof_enrich_monitor(stream), f"asofneg_{_uuid.uuid4().hex[:8]}"
    )
    rows = {r["event_id"]: (r["last_click_us"], r["last_click_value"]) for r in out.collect()}
    assert rows == {2: (-5_000_000, 3.5), 3: (-5_000_000, 3.5)}


def test_asof_enrich_negative_us_state_carries(spark, tmp_path_factory):
    """Negative-µs click state survives a micro-batch boundary (the
    sentinel bug also dropped carried state, not just same-batch)."""
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import (
        asof_enrich_monitor,
        run_stream_once,
    )

    src = tmp_path_factory.mktemp("st16_neg2_src")
    sch = "user_id long, event_id long, event_type string, value double, us long"
    spark.createDataFrame(
        [(7, 1, "click", 9.0, -2_000_000)], sch
    ).coalesce(1).write.parquet(str(src / "a_b1"))
    spark.createDataFrame(
        [(7, 2, "purchase", 0.0, 1_000_000)], sch
    ).coalesce(1).write.parquet(str(src / "b_b2"))
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(
        asof_enrich_monitor(stream), f"asofneg2_{_uuid.uuid4().hex[:8]}"
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows == [(2, 7, 1_000_000, -2_000_000, 9.0)]


# --- wordpiece greedy: first-char bucketing is scan-equivalent ----------------


def test_wordpiece_greedy_bucket_equivalence(spark):
    from era_parser_spark.operators.tokenizer import wordpiece_greedy_counts

    pieces = ["ab", "abc", "bcd", "cd", "a", "xyz", "yz"]

    def brute(w: str) -> int:
        by_len = sorted(set(pieces), key=lambda p: (-len(p), p))
        n = i = 0
        while i < len(w):
            step = 1
            for p in by_len:
                if w.startswith(p, i):
                    step = len(p)
                    break
            n += 1
            i += step
        return n

    words = ["abcd", "aabcd", "xbcdyz", "xyzzy", "q", "abcabc", "bcda"]
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["n_greedy"]
        for r in wordpiece_greedy_counts(wdf, pieces).collect()
    }
    assert got == {w: brute(w) for w in words}


# --- chunked cross-doc span routing -------------------------------------------


def _filler(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def test_chunked_span_matches_exact_when_nothing_routes(spark):
    from era_parser_spark.operators.suffix import (
        longest_cross_doc_span,
        longest_cross_doc_span_chunked,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox ran away"),
        (3, "totally different words in here"),
    ]
    docs = _docs(spark, rows)
    exact = _spans(longest_cross_doc_span(docs, "doc_id", "text"))
    routed = longest_cross_doc_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=100, chunk_overlap=50
    )
    assert _spans(routed) == exact
    assert all(not r["routed"] for r in routed.collect())


def test_chunked_span_cross_chunk_plant(spark):
    """The mechanism pin for the round-10 verdict's #1: an oversized doc
    (6000 tokens, cap 2000, overlap 1000 — disjoint tiling would cut at
    2000) carries a 50-token phrase straddling position 2000; a small doc
    shares it.  Routed output must still find the full 50-token span on
    BOTH docs, a doc with no cross-doc content reports 0 despite its
    chunks overlapping each other, and the oversized doc is flagged
    routed."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_chunked

    plant = _filler("shared", 50)
    big = _filler("a", 1990) + plant + _filler("b", 3960)  # 6000 tokens
    assert len(big) == 6000
    small = _filler("c", 20) + plant + _filler("d", 20)
    lonely = _filler("e", 5000)  # oversized, nothing cross-doc
    docs = _docs(
        spark,
        [(1, " ".join(big)), (2, " ".join(small)), (3, " ".join(lonely))],
    )
    out = longest_cross_doc_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=2000, chunk_overlap=1000
    )
    got = {r["doc_id"]: (r["longest_shared"], r["routed"]) for r in out.collect()}
    assert got[1] == (50, True)
    assert got[2] == (50, False)
    assert got[3] == (0, True)


def test_chunked_span_long_span_is_lower_bound(spark):
    """A true shared span LONGER than the overlap reports at least the
    overlap and never more than the truth (the documented contract)."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_chunked

    plant = _filler("p", 700)
    big = _filler("a", 777) + plant + _filler("b", 1523)  # 3000 tokens
    small = plant  # 700 tokens, the whole doc
    docs = _docs(spark, [(1, " ".join(big)), (2, " ".join(small))])
    out = longest_cross_doc_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=1000, chunk_overlap=500
    )
    got = {r["doc_id"]: (r["longest_shared"], r["routed"]) for r in out.collect()}
    for doc_id in (1, 2):
        val, routed = got[doc_id]
        assert 500 <= val <= 700, got
    assert got[1][1] is True and got[2][1] is False


def test_chunked_span_validates_overlap(spark):
    from era_parser_spark.operators.suffix import longest_cross_doc_span_chunked

    docs = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError):
        longest_cross_doc_span_chunked(
            docs, "doc_id", "text", max_doc_tokens=10, chunk_overlap=10
        )


def test_chunked_registry_entry_routes_and_matches_exact(spark):
    """t39 at sf0.001: chunked-routed values equal the exact operator's
    (this corpus's max span < the 94-token overlap), and the routed flag
    marks exactly the docs over the 96-token cap."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span
    from era_parser_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["t39_cross_doc_span_chunked"](spark, SF_SMALL)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    exact = _spans(longest_cross_doc_span(docs, "doc_id", "text"))
    got = {r["doc_id"]: r["longest_shared"] for r in out.collect()}
    assert got == exact
    from era_parser_spark.operators.dedup import tokens_col

    sizes = {
        r["doc_id"]: r["n"]
        for r in docs.filter(
            F.col("text").isNotNull() & (F.trim("text") != "")
        )
        .select("doc_id", F.size(tokens_col(F.col("text"))).alias("n"))
        .collect()
    }
    routed = {r["doc_id"]: r["routed"] for r in out.collect()}
    assert routed == {d: n > 96 for d, n in sizes.items() if n >= 1}


# --- st16 production TTL ------------------------------------------------------


def test_asof_enrich_ttl_expires_idle_state(spark, tmp_path_factory):
    """Production TTL contract (opt-in ttl_ms): a user idle past the TTL
    has their stored click dropped (the ProcessingTimeTimeout fires in an
    empty micro-batch), so their next purchase re-enriches as
    no-prior-click; a purchase arriving within the TTL enriches normally.
    One continuous 500 ms-trigger query fed over wall-clock time —
    availableNow is deliberately NOT used here: with timeouts armed its
    end-of-input state-cleanup loop spins (observed StackOverflow in the
    stream thread), which is itself why the ORACLE path stays NoTimeout.
    Oracle path (ttl_ms=None) is untouched by this feature."""
    import time
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import asof_enrich_monitor

    root = tmp_path_factory.mktemp("st16_ttl")
    src = root / "src"
    src.mkdir()
    sch = "user_id long, event_id long, event_type string, value double, us long"
    collected: list[tuple] = []
    stream = spark.readStream.schema(sch).parquet(f"{src}/*")
    q = (
        asof_enrich_monitor(stream, ttl_ms=4000)
        .writeStream.foreachBatch(
            lambda bdf, _bid: collected.extend(tuple(r) for r in bdf.collect())
        )
        .queryName(f"ttl_{_uuid.uuid4().hex[:8]}")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    def wait_for(eid: int):
        deadline = time.time() + 60
        while time.time() < deadline and all(r[0] != eid for r in collected):
            time.sleep(0.5)
        assert any(r[0] == eid for r in collected), (eid, collected)

    try:
        # one file: u1 click (state armed), u2 click+purchase (enriched
        # same-batch — proves the TTL path still enriches live traffic)
        spark.createDataFrame(
            [
                (1, 1, "click", 5.0, 1_000_000),
                (2, 2, "click", 6.0, 1_000_000),
                (2, 20, "purchase", 0.0, 2_000_000),
            ],
            sch,
        ).coalesce(1).write.parquet(str(src / "a"))
        wait_for(20)  # state for u1/u2 now armed, TTL clock started
        time.sleep(6)  # idle > TTL: timeouts fire in empty batches
        # u1's late purchase finds no state; u3's same-file click+purchase
        # pair proves this file WAS processed (non-vacuous absence check)
        spark.createDataFrame(
            [
                (1, 10, "purchase", 0.0, 3_000_000),
                (3, 30, "click", 7.0, 1_000_000),
                (3, 31, "purchase", 0.0, 2_000_000),
            ],
            sch,
        ).coalesce(1).write.parquet(str(src / "c"))
        wait_for(31)
    finally:
        q.stop()
    assert (20, 2, 2_000_000, 1_000_000, 6.0) in collected
    assert (31, 3, 2_000_000, 1_000_000, 7.0) in collected
    assert all(r[0] != 10 for r in collected), collected


# --- t38 greedy WordPiece through the byte-level pre-tokenizer seam -----------


def test_wordpiece_greedy_byte_level_pattern_differential(spark):
    """Train WordPiece with the GPT-2-style byte-level pre-tokenizer
    (pattern=BPE_PATTERN), then apply greedy longest-match inference over
    the SAME pre-tokens — the production encode seam t38's whitespace
    registry entry documents.  Differential against a local pure-Python
    greedy scan over re.findall pre-tokens (the t32-style parity shape)."""
    import re

    from era_parser_spark.operators.text import BPE_PATTERN
    from era_parser_spark.operators.tokenizer import (
        wordpiece_greedy_counts,
        wordpiece_merges_distributed,
    )

    rows = [
        (1, "Hello, world! The lower-case world says hello."),
        (2, "hello hello world... the world, lowercased?"),
        (3, "Punctuation-heavy: (hello); [world] {the} end."),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    merges = wordpiece_merges_distributed(
        df, "text", n_merges=10, pattern=BPE_PATTERN
    )
    pieces = [r["merged"] for r in merges.select("merged").collect()]
    assert pieces, "trainer produced no merges on this corpus"
    words = df.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
        ).alias("w"),
    ).filter(F.length("w") > 0)
    counts = wordpiece_greedy_counts(words.select("w").distinct(), pieces)
    got = {
        r["doc_id"]: r["n"]
        for r in words.join(counts, "w")
        .groupBy("doc_id")
        .agg(F.sum("n_greedy").alias("n"))
        .collect()
    }

    by_len = sorted(set(pieces), key=lambda p: (-len(p), p))

    def greedy(w: str) -> int:
        n = i = 0
        while i < len(w):
            step = 1
            for p in by_len:
                if w.startswith(p, i):
                    step = len(p)
                    break
            n += 1
            i += step
        return n

    want = {
        doc_id: sum(greedy(w) for w in re.findall(BPE_PATTERN, text) if w)
        for doc_id, text in rows
    }
    assert got == want


# --- t40: chunked routing for the within-doc repeat detector ------------------


def test_chunked_repeat_matches_exact_when_nothing_routes(spark):
    from era_parser_spark.operators.suffix import (
        longest_repeated_span,
        longest_repeated_span_chunked,
    )

    rows = [
        (1, "alpha beta gamma alpha beta delta"),
        (2, "no repeats in this one at all"),
        (3, "x x x x"),
    ]
    docs = _docs(spark, rows)
    exact = {
        r["doc_id"]: r["longest_repeat"]
        for r in longest_repeated_span(docs, "doc_id", "text").collect()
    }
    out = longest_repeated_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=50, chunk_overlap=25
    )
    got = {r["doc_id"]: r["longest_repeat"] for r in out.collect()}
    assert got == exact
    assert all(not r["routed"] for r in out.collect())
    assert exact == {1: 2, 2: 0, 3: 3}


def test_chunked_repeat_cross_chunk_plant_and_artifact_exclusion(spark):
    """An oversized doc with a 10-token repeat whose two occurrences live
    in DIFFERENT chunks is found exactly; an oversized doc with no
    repeats reports 0 even though its overlapping chunks duplicate every
    overlap position (the orig-position artifact filter); a repeat
    entirely inside one chunk is found via same-unit adjacency."""
    from era_parser_spark.operators.suffix import longest_repeated_span_chunked

    plant = _filler("rep", 10)
    big = _filler("a", 30) + plant + _filler("b", 90) + plant + _filler("c", 60)
    assert len(big) == 200  # occurrences at 30 and 130: chunks differ at C=80
    lonely = _filler("e", 150)
    inchunk = _filler("p", 5) + plant + plant + _filler("q", 175)  # both at <80
    docs = _docs(
        spark,
        [(1, " ".join(big)), (2, " ".join(lonely)), (3, " ".join(inchunk))],
    )
    out = longest_repeated_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=80, chunk_overlap=40
    )
    got = {r["doc_id"]: (r["longest_repeat"], r["routed"]) for r in out.collect()}
    assert got == {1: (10, True), 2: (0, True), 3: (10, True)}


def test_chunked_repeat_long_repeat_is_lower_bound(spark):
    """A true repeat LONGER than the overlap reports at least the overlap
    and never more than the truth."""
    from era_parser_spark.operators.suffix import longest_repeated_span_chunked

    plant = _filler("r", 60)
    big = plant + _filler("m", 40) + plant + _filler("z", 40)  # 200 tokens
    docs = _docs(spark, [(1, " ".join(big))])
    out = longest_repeated_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=80, chunk_overlap=40
    )
    (row,) = out.collect()
    assert 40 <= row["longest_repeat"] <= 60 and row["routed"]


def test_chunked_repeat_registry_entry_sf_small(spark):
    """t40 at sf0.001: chunked-routed values equal the exact operator's
    (corpus max repeat << the 32-token overlap) and routed marks exactly
    the docs over the 64-token cap."""
    from era_parser_spark.operators.dedup import tokens_col
    from era_parser_spark.operators.suffix import longest_repeated_span
    from era_parser_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["t40_longest_repeat_chunked"](spark, SF_SMALL)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    exact = {
        r["doc_id"]: r["longest_repeat"]
        for r in longest_repeated_span(docs, "doc_id", "text").collect()
    }
    rows = out.collect()
    assert {r["doc_id"]: r["longest_repeat"] for r in rows} == exact
    sizes = {
        r["doc_id"]: r["n"]
        for r in docs.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", F.size(tokens_col(F.col("text"))).alias("n"))
        .filter(F.col("n") >= 1)
        .collect()
    }
    assert {r["doc_id"]: r["routed"] for r in rows} == {
        d: n > 64 for d, n in sizes.items()
    }
    assert any(r["routed"] for r in rows)  # the cap actually routes docs


# --- auto-k sizing for the kmeans family ---------------------------------------


def test_kmeans_auto_k_sizes_to_corpus(spark):
    """k='auto' resolves to ceil(n / target_cell) and trains the identical
    model to the explicit k — the k-sizing rule (per-cluster Gram kernels
    are O((n/k)^2)) applied mechanically instead of by docstring."""
    import numpy as np

    from era_parser_spark.operators.similarity import kmeans_fit

    rows = [(i, [float(i % 7), float((3 * i) % 5)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cids_a, C_a, dim_a = kmeans_fit(
        df, "vec_id", "embedding", k="auto", iters=1, quant=512, target_cell=10
    )
    cids_e, C_e, dim_e = kmeans_fit(
        df, "vec_id", "embedding", k=5, iters=1, quant=512
    )
    assert dim_a == dim_e == 2
    assert np.array_equal(cids_a, cids_e) and np.array_equal(C_a, C_e)
    with pytest.raises(ValueError):
        kmeans_fit(df, "vec_id", "embedding", k="five")


# --- st17: streaming token-budget admission control ----------------------------


def test_token_budget_monitor_cross_batch_forward_only(spark, tmp_path_factory):
    """Budget consumed in batch 1 gates batch 2 (state carries), and a
    LATE-arriving lower doc_id appends at the current total instead of
    re-opening past admissions — forward-only semantics no single-batch
    oracle can check."""
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import (
        run_stream_once,
        token_budget_monitor,
    )

    src = tmp_path_factory.mktemp("st17_src")
    sch = "source string, doc_id long, n_tokens long"
    # batch 1: source A consumes 8 of its 10-token budget (ids 2 then 5 —
    # the kernel replays in id order: cum 3 then 8)
    spark.createDataFrame(
        [("A", 5, 5), ("A", 2, 3), ("B", 1, 4)], sch
    ).coalesce(1).write.parquet(str(src / "a_b1"))
    # batch 2: A's id 9 (3 tokens) busts the budget (8+3=11 > 10); the
    # LATE id 1 (1 token) lands AFTER it in arrival terms but replays
    # first within ITS batch — here both are in batch 2, so id order in
    # batch is 1 then 9: cum 9 (kept) then 12 (cut).  A third batch's
    # late id 3 appends at 12 — never re-opened.
    spark.createDataFrame(
        [("A", 9, 3), ("A", 1, 1)], sch
    ).coalesce(1).write.parquet(str(src / "b_b2"))
    spark.createDataFrame(
        [("A", 3, 1)], sch
    ).coalesce(1).write.parquet(str(src / "c_b3"))
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(
        token_budget_monitor(stream, budget=10), f"st17_{_uuid.uuid4().hex[:8]}"
    )
    rows = {
        (r["source"], r["doc_id"]): (r["cum_tokens"], r["kept"])
        for r in out.collect()
    }
    assert rows[("A", 2)] == (3, True) and rows[("A", 5)] == (8, True)
    assert rows[("B", 1)] == (4, True)
    assert rows[("A", 1)] == (9, True)  # batch-2 replay: id 1 before id 9
    assert rows[("A", 9)] == (12, False)  # busts the budget
    assert rows[("A", 3)] == (13, False)  # late arrival appends, no re-open
    assert len(rows) == 6


# --- mm10: phash dup clusters with keeper --------------------------------------


def test_mm10_keeper_is_min_id_and_twins_cluster(spark):
    """Keeper invariants: kept is exactly the min media_id of every
    cluster, cluster sizes are consistent, and at least one synthetic
    twin actually clusters with its base doc (a one-char substitution
    usually — not provably always — stays within hamming 8, so the
    per-twin assertion is existential, the invariant ones universal)."""
    from collections import Counter

    from era_parser_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["mm10_phash_dup_clusters"](spark, SF_SMALL).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["media_id"] for m in members)
        assert all(m["cluster_sz"] == len(members) for m in members)
        kept = [m["media_id"] for m in members if m["kept"]]
        assert kept == [cid]
    paired_twins = [
        r
        for r in rows
        if r["media_id"] >= 1_000_000
        and r["cluster_id"] == r["media_id"] - 1_000_000
    ]
    assert paired_twins, "no twin clustered with its base"
    sizes = Counter(r["cluster_sz"] for r in rows)
    assert sizes.get(1) and sizes.get(2)  # singletons AND real dup clusters
