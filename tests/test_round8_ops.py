"""Round-8 operator pins.

Keeper-quality policy (round-7 verdict item 5): production dedup keeps the
best-quality cluster member, not the min id.  fuzzy_dedup and
semantic_dedup take keeper=(score_col, "max"|"min") with the deterministic
total order (score, id ASC); these tests pin that a higher-scored clone
DISPLACES the min-id keeper — including through fuzzy_dedup's exact-clone
collapse (the policy must apply after re-attachment, on the full
membership) and through semantic_dedup's max_cell clone-collapse branch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _keeper_corpus(spark):
    # group A: ids 1,2 BIT-IDENTICAL texts (collapses to rep=1), scores
    # favor id 2; group B: ids 3,4 near-dup (jaccard >= 0.5), tied scores
    # -> id ASC tiebreak; id 5 singleton.
    a = "the quick brown fox jumps over the lazy dog tonight"
    b = "alpha beta gamma delta epsilon zeta eta theta"
    b2 = "alpha beta gamma delta epsilon zeta eta iota"
    rows = [
        (1, a, 1.0),
        (2, a, 5.0),
        (3, b, 2.0),
        (4, b2, 2.0),
        (5, "completely unrelated content about spark plans", 9.0),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, q double")


def test_fuzzy_dedup_quality_keeper_displaces_min_id(spark):
    from era_parser_spark.operators.dedup import fuzzy_dedup

    docs = _keeper_corpus(spark)
    out = {
        r.doc_id: (r.cluster_id, r.cluster_sz, r.kept)
        for r in fuzzy_dedup(
            docs, "doc_id", "text", threshold=0.5, keeper=("q", "max")
        ).collect()
    }
    # cluster identity stays the component min id regardless of keeper
    assert out[1][:2] == (1, 2) and out[2][:2] == (1, 2)
    assert out[3][:2] == (3, 2) and out[4][:2] == (3, 2)
    assert out[5][:2] == (5, 1)
    # group A: the higher-scored CLONE (id 2) displaces the min-id keeper
    # — the collapse rep is id 1, so this pins post-expansion application
    assert not out[1][2] and out[2][2]
    # group B: tied scores fall to the smaller id
    assert out[3][2] and not out[4][2]
    assert out[5][2]


def test_fuzzy_dedup_keeper_min_direction_and_default(spark):
    from era_parser_spark.operators.dedup import fuzzy_dedup
    from tests.conftest import uncollapsed_fuzzy_dedup

    docs = _keeper_corpus(spark)
    kept_min = {
        r.doc_id
        for r in fuzzy_dedup(
            docs, "doc_id", "text", threshold=0.5, keeper=("q", "min")
        ).collect()
        if r.kept
    }
    assert kept_min == {1, 3, 5}
    kept_default = {
        r.doc_id
        for r in fuzzy_dedup(docs, "doc_id", "text", threshold=0.5).collect()
        if r.kept
    }
    assert kept_default == {1, 3, 5}
    # keeper applies identically on the uncollapsed composition
    kept_max = sorted(
        tuple(r)
        for r in fuzzy_dedup(
            docs, "doc_id", "text", threshold=0.5, keeper=("q", "max")
        ).collect()
    )
    assert kept_max == uncollapsed_fuzzy_dedup(docs, keeper=("q", "max"))
    assert {r[0] for r in kept_max if r[3]} == {2, 3, 5}


def test_fuzzy_dedup_keeper_validation(spark):
    from era_parser_spark.operators.dedup import fuzzy_dedup

    docs = _keeper_corpus(spark)
    with pytest.raises(ValueError, match="keeper"):
        fuzzy_dedup(docs, "doc_id", "text", keeper="best")
    with pytest.raises(ValueError, match="keeper"):
        fuzzy_dedup(docs, "doc_id", "text", keeper=("q", "biggest"))


def _keeper_vectors(spark):
    # one centroid -> one cell.  ids 1,2: identical vectors (cos = 1),
    # scores favor id 2; ids 3,4: near-identical (cos ~ 0.9996 >= 0.95),
    # scores favor id 4; id 5: orthogonal singleton.
    rows = [
        (1, [1.0, 0.0, 0.0], 1.0),
        (2, [1.0, 0.0, 0.0], 5.0),
        (3, [0.0, 1.0, 0.02], 2.0),
        (4, [0.0, 1.0, 0.0], 7.0),
        (5, [0.0, 0.0, 1.0], 0.5),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>, q double")
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0])], "centroid_id int, cvec array<double>"
    )
    return df, cents


def test_semantic_dedup_quality_keeper(spark):
    from era_parser_spark.operators.similarity import semantic_dedup

    df, cents = _keeper_vectors(spark)
    kept = {
        r.id
        for r in semantic_dedup(
            df, "vec", "id", cents, threshold=0.95, keeper=("q", "max")
        ).collect()
    }
    assert kept == {2, 4, 5}
    # default stays keep-min-id
    kept_min = {
        r.id for r in semantic_dedup(df, "vec", "id", cents, threshold=0.95).collect()
    }
    assert kept_min == {1, 3, 5}


def test_semantic_dedup_quality_keeper_max_cell_collapse(spark):
    """The max_cell clone-collapse branch must keep the best-SCORED clone,
    not the min id: max_cell=1 forces every cell through the collapse +
    hash-sub-split path, where bit-identical vectors dedup exactly."""
    from era_parser_spark.operators.similarity import semantic_dedup

    df, cents = _keeper_vectors(spark)
    kept = {
        r.id
        for r in semantic_dedup(
            df, "vec", "id", cents, threshold=0.95, keeper=("q", "max"), max_cell=1
        ).collect()
    }
    # clones 1/2 collapse -> id 2 survives (higher q); 3/4 are distinct
    # vectors so the sub-split may or may not pair them — but the clone
    # guarantee is exact: id 1 is dropped, id 2 kept
    assert 2 in kept and 1 not in kept
    assert 5 in kept


def test_semantic_dedup_keeper_validation(spark):
    from era_parser_spark.operators.similarity import semantic_dedup

    df, cents = _keeper_vectors(spark)
    with pytest.raises(ValueError, match="keeper"):
        semantic_dedup(df, "vec", "id", cents, keeper=("q",))


def test_fuzzy_keeper_registry_entry_matches_oracle_shape(spark):
    """dd9c returns the dd9 frame with kept = longest-text member; spot
    semantics on sf0.001 (full value parity is the sweep's job)."""
    import __spark_entry__ as m

    q = m.queries()["dd9c_fuzzy_dedup_quality_keeper"]
    rows = q(spark, "/root/testdata/sf0.001").collect()
    assert {c for c in rows[0].asDict()} == {
        "doc_id", "cluster_id", "cluster_sz", "kept"
    }
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        assert sum(1 for r in members if r.kept) == 1


# ---------------------------------------------------------------- t31 BPE


def _ref_bpe(words_freq: dict, k: int):
    """Pure-python BPE reference: greedy left-to-right merges, argmax by
    (count DESC, pair ASC), no end-of-word marker (the repo convention)."""
    vocab = {w: (list(w), f) for w, f in words_freq.items()}
    merges = []
    for _ in range(k):
        counts: dict = {}
        for syms, f in vocab.values():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        bc = max(counts.values())
        a, b = sorted(p for p, c in counts.items() if c == bc)[0]
        merges.append((a, b, bc))
        for w, (syms, f) in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = (out, f)
    return merges


def test_bpe_merges_distributed_matches_reference(spark, monkeypatch):
    """Differential pin incl. the greedy-overlap cases (aaa/aaaa under
    merge (a,a)), a unicode word, and tie-breaking, on both sides of the
    small-vocab gate."""
    import era_parser_spark.operators.tokenizer as tk

    corpus = [
        "aaa abab low lower lowest low low",
        "newer new news aaa ab",
        "aaaa bb héllo héllo",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    wf: dict = {}
    for doc in corpus:
        for w in doc.lower().split():
            wf[w] = wf.get(w, 0) + 1
    want = _ref_bpe(wf, 6)
    # overlap semantics really exercised: round 1 must be (a,a) with
    # count 2*2 (two 'aaa') + 3 (one 'aaaa') = 7
    assert want[0] == ("a", "a", 7)
    # the driver merge loop, then the Spark rounds
    for thr in (tk.SMALL_VOCAB_THRESHOLD, -1):
        monkeypatch.setattr(tk, "SMALL_VOCAB_THRESHOLD", thr)
        got = [
            (r["left"], r["right"], r.pair_count)
            for r in tk.bpe_merges_distributed(df, "text", n_merges=6)
            .orderBy("rank")
            .collect()
        ]
        assert got == want, thr


def test_bpe_merges_vocab_exhaustion_stops_early(spark):
    from era_parser_spark.operators.tokenizer import bpe_merges_distributed

    df = spark.createDataFrame([("ab ab",)], "text string")
    rows = bpe_merges_distributed(df, "text", n_merges=10).collect()
    # 'ab' fully merges in one round; no pairs remain
    assert [(r["left"], r["right"]) for r in rows] == [("a", "b")]


def test_bpe_merges_feed_existing_encoder(spark, tmp_path):
    """The distributed trainer's output drives the repo's encoder stack
    (save_merges -> load_merges -> bpe_encode_word) unchanged."""
    from era_parser_spark.operators.tokenizer import (
        bpe_encode_word,
        bpe_merges_distributed,
        load_merges,
        save_merges,
    )

    df = spark.createDataFrame(
        [("low lower lowest low low",)], "text string"
    )
    rows = bpe_merges_distributed(df, "text", n_merges=3).orderBy("rank").collect()
    merges = [(r["left"], r["right"]) for r in rows]
    p = str(tmp_path / "merges.txt")
    save_merges(merges, p)
    ranks = load_merges(p)
    assert len(ranks) == 3
    enc = bpe_encode_word("lowest", ranks)
    # merges on this corpus: (l,o), (lo,w), (low,e) -> 'lowe' + 's' + 't'
    assert [(r["left"], r["right"]) for r in rows] == [
        ("l", "o"), ("lo", "w"), ("low", "e")
    ]
    assert enc == ["lowe", "s", "t"]


def test_bpe_vocab_segmentation_equals_encoder(spark):
    """The equivalence t32 rests on: the trainer's final word table (all
    merges applied greedily in rank order) equals bpe_encode_word's
    lowest-rank-first one-at-a-time encode, for EVERY corpus word —
    including same-symbol chains where greedy overlap matters."""
    from era_parser_spark.operators.tokenizer import (
        bpe_encode_word,
        bpe_merges_distributed,
    )

    corpus = [
        "aaaaa aaaa aaa aa abab low lower lowest low low",
        "newer new news aaa ab héé banana bananas",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges_df, vocab = bpe_merges_distributed(
        df, "text", n_merges=6, return_vocab=True
    )
    ranks = {
        (r["left"], r["right"]): r["rank"] - 1 for r in merges_df.collect()
    }
    assert len(ranks) == 6
    for row in vocab.collect():
        assert list(row.syms) == bpe_encode_word(row.w, ranks), row.w


@pytest.mark.parametrize("seed", [7, 1234, 987654])
def test_bpe_merges_random_corpora_match_reference(spark, monkeypatch, seed):
    """Seeded random corpora over a tiny alphabet — maximal tie and
    overlap pressure on the argmax order and the greedy rewrite."""
    import random

    import era_parser_spark.operators.tokenizer as tk

    rng = random.Random(seed)
    words = [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
        for _ in range(60)
    ]
    docs = [" ".join(rng.sample(words, rng.randint(3, 12))) for _ in range(12)]
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    wf: dict = {}
    for doc in docs:
        for w in doc.lower().split():
            wf[w] = wf.get(w, 0) + 1
    want = _ref_bpe(wf, 5)
    # the driver merge loop, then the Spark rounds
    for thr in (tk.SMALL_VOCAB_THRESHOLD, -1):
        monkeypatch.setattr(tk, "SMALL_VOCAB_THRESHOLD", thr)
        got = [
            (r["left"], r["right"], r.pair_count)
            for r in tk.bpe_merges_distributed(df, "text", n_merges=5)
            .orderBy("rank")
            .collect()
        ]
        assert got == want, thr


# ------------------------------------------------------------- t33 suffix


def test_suffix_ranks_matches_bruteforce(spark):
    """Prefix doubling vs sorted-suffixes brute force on repeat-heavy
    docs (banana-style token repetition is the classic rank-collision
    stress) plus a unicode token and a single-token doc."""
    from era_parser_spark.operators.suffix import suffix_ranks

    docs = [
        (1, "b a n a n a"),
        (2, "na na na batman na na"),
        (3, "a a a a a a a a"),
        (4, "solo"),
        (5, "héé zeta héé alpha héé"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.pos): r.suffix_rank
        for r in suffix_ranks(df, "doc_id", "text").collect()
    }
    for did, text in docs:
        toks = text.lower().split()
        order = sorted(range(1, len(toks) + 1), key=lambda i: toks[i - 1:])
        want = {pos: rank for rank, pos in enumerate(order, start=1)}
        for pos, rank in want.items():
            assert got[(did, pos)] == rank, (did, pos)
    assert len(got) == sum(len(t.split()) for _, t in docs)


def test_longest_repeated_span_matches_bruteforce(spark):
    """SA + LCP walk vs O(n^2) brute force, incl. the all-same-token doc
    (lcp = n-1, every power contributes) and a periodic doc."""
    from era_parser_spark.operators.suffix import longest_repeated_span

    docs = [
        (1, "b a n a n a"),
        (2, "na na na batman na na"),
        (3, "a a a a a a a a"),
        (4, "solo"),
        (5, "x y z w"),
        (6, "p q r p q r p q r"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.longest_repeat
        for r in longest_repeated_span(df, "doc_id", "text").collect()
    }

    def brute(text):
        t = text.lower().split()
        n, best = len(t), 0
        for i in range(n):
            for j in range(i + 1, n):
                k = 0
                while j + k < n and t[i + k] == t[j + k]:
                    k += 1
                best = max(best, k)
        return best

    assert got == {d: brute(t) for d, t in docs}


def test_peak_concurrency_semantics(spark):
    """x38: end-inclusive intervals, per-timestamp delta pre-aggregation
    (three sessions meeting at one instant count 3), earliest peak_at."""
    import datetime as dt

    import era_parser_spark.queries.extended as X
    from era_parser_spark.queries.registry import QUERIES

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    mk = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    rows = []
    for uid, (a, b) in enumerate([(0, 10), (5, 15), (12, 20), (10, 10)], start=1):
        rows.append((uid, mk(a)))
        rows.append((uid, mk(b)))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")

    orig = X.table
    try:
        X.table = lambda spark, sf_dir, name: ev
        out = QUERIES["x38_peak_concurrency"](spark, "ignored").collect()
    finally:
        X.table = orig
    assert len(out) == 1
    r = out[0]
    # at t=10s: [0,10], [5,15], [10,10] are all open -> peak 3, first
    # attained exactly at t=10s
    assert r.peak == 3
    assert r.peak_at == int(mk(10).timestamp() * 1_000_000)
