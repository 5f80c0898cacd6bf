"""Round-9 operator pins.

t35 cross-document exact longest shared span (global suffix ranks built
with a range-partitioned two-phase dense rank — no single-task stage),
the suffix family's max_doc_tokens scale guard (skip + NULL flag, the mm3
codec-gate pattern), the dd10-lower-bounds-t35 differential the round-8
verdict asked for, and the real-pre-tokenizer `pattern=` passthrough on
distributed BPE training (train/apply with the SAME byte-level regex).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _tokens(text: str) -> list[str]:
    return text.strip().lower().split()


def _brute_cross_doc(rows: list[tuple[int, str]]) -> dict[int, int]:
    """Reference: per doc, the longest token span appearing verbatim in
    any OTHER doc (token-level substring sets, O(n^2 * len^2) — test
    corpora are tiny)."""
    toks = {i: _tokens(t) for i, t in rows if t and t.strip()}
    grams: dict[int, set[tuple[str, ...]]] = {}
    for i, tk in toks.items():
        s = set()
        for a in range(len(tk)):
            for b in range(a + 1, len(tk) + 1):
                s.add(tuple(tk[a:b]))
        grams[i] = s
    out = {}
    for i, tk in toks.items():
        best = 0
        for j, gj in grams.items():
            if j == i:
                continue
            for g in grams[i] & gj:
                best = max(best, len(g))
        out[i] = best
    return out


def _rand_corpus(seed: int, n_docs: int, vocab: int, max_len: int):
    rng = random.Random(seed)
    rows = []
    for i in range(1, n_docs + 1):
        n = rng.randint(1, max_len)
        rows.append((i, " ".join(f"w{rng.randrange(vocab)}" for _ in range(n))))
    return rows


# --- t35: exact cross-document longest shared span ---------------------------


def test_cross_doc_span_hand_corpus(spark):
    from era_parser_spark.operators.suffix import longest_cross_doc_span

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox leaps over walls"),
        (3, "completely different text here entirely"),
        (4, "the quick brown fox jumps over the lazy dog"),  # clone of 1
        (5, "zz"),
        (6, None),
        (7, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r.longest_shared
        for r in longest_cross_doc_span(df, "doc_id", "text").collect()
    }
    # clones share their full 9 tokens; doc 2 shares "quick brown fox";
    # untokenizable docs (6, 7) are absent, disjoint docs report 0
    assert out == {1: 9, 2: 3, 3: 0, 4: 9, 5: 0}


@pytest.mark.parametrize("seed", [7, 41, 1009])
def test_cross_doc_span_matches_brute_force(spark, seed):
    # small vocab forces rich shared-span structure (incl. identical
    # cross-doc suffixes, the equal-final-rank shortcut path)
    from era_parser_spark.operators.suffix import longest_cross_doc_span

    rows = _rand_corpus(seed, n_docs=14, vocab=4, max_len=24)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: r.longest_shared
        for r in longest_cross_doc_span(df, "doc_id", "text").collect()
    }
    assert got == _brute_cross_doc(rows)


def test_cross_doc_span_single_doc_and_identical_pair(spark):
    from era_parser_spark.operators.suffix import longest_cross_doc_span

    one = spark.createDataFrame([(1, "a b c a b c")], "doc_id int, text string")
    assert longest_cross_doc_span(one, "doc_id", "text").collect()[0][1] == 0
    twins = spark.createDataFrame(
        [(1, "x y x y x"), (2, "x y x y x")], "doc_id int, text string"
    )
    got = {
        r.doc_id: r.longest_shared
        for r in longest_cross_doc_span(twins, "doc_id", "text").collect()
    }
    assert got == {1: 5, 2: 5}


def test_global_suffix_ranks_match_corpus_sort(spark):
    # global ranks = dense rank of suffixes over the WHOLE corpus,
    # element-wise token comparison, shorter-prefix-first; ties exactly
    # for identical cross-doc suffixes
    from era_parser_spark.operators.suffix import global_suffix_ranks

    rows = _rand_corpus(23, n_docs=8, vocab=3, max_len=12)
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_id"], r["pos"]): r["suffix_rank"]
        for r in global_suffix_ranks(df, "doc_id", "text").collect()
    }
    sufs = []
    for i, t in rows:
        tk = _tokens(t)
        for p in range(1, len(tk) + 1):
            sufs.append(((i, p), tuple(tk[p - 1 :])))
    order = sorted({s for _, s in sufs})
    rank = {s: k + 1 for k, s in enumerate(order)}
    want = {key: rank[s] for key, s in sufs}
    assert got == want


# --- suffix family: max_doc_tokens scale guard --------------------------------


def test_suffix_ranks_max_doc_tokens_skips(spark):
    from era_parser_spark.operators.suffix import suffix_ranks

    rows = [(1, "a b c"), (2, " ".join(f"t{i}" for i in range(50)))]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = suffix_ranks(df, "doc_id", "text", max_doc_tokens=10).collect()
    assert {r["doc_id"] for r in out} == {1}
    assert len(out) == 3


def test_longest_repeat_guard_flags_null(spark):
    from era_parser_spark.operators.suffix import longest_repeated_span

    big = " ".join(f"t{i % 5}" for i in range(64))
    rows = [(1, "a b a b"), (2, big), (3, "x y z")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r.longest_repeat
        for r in longest_repeated_span(
            df, "doc_id", "text", max_doc_tokens=10
        ).collect()
    }
    # skipped doc is flagged NULL (never a silently-wrong 0); others exact
    assert out == {1: 2, 2: None, 3: 0}


def test_cross_doc_span_guard_flags_null(spark):
    from era_parser_spark.operators.suffix import longest_cross_doc_span

    rows = [
        (1, "p q r s"),
        (2, "p q r s extra"),
        (3, " ".join(f"p q r s u{i}" for i in range(20))),  # 100 tokens, over cap
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r.longest_shared
        for r in longest_cross_doc_span(
            df, "doc_id", "text", max_doc_tokens=10
        ).collect()
    }
    # doc 3 skipped -> NULL; docs 1-2 compared WITHOUT it
    assert out == {1: 4, 2: 4, 3: None}


# --- dd10 l-gram spans lower-bound t35 (verdict differential) ----------------


def test_dd10_spans_lower_bound_t35(spark):
    from era_parser_spark.operators.dedup import shared_token_spans
    from era_parser_spark.operators.suffix import longest_cross_doc_span

    rows = _rand_corpus(99, n_docs=10, vocab=3, max_len=40)
    # plant one long verbatim overlap so dd10 (l=4, min 6) fires for sure
    shared = " ".join(f"s{i}" for i in range(12))
    rows += [(101, f"w0 w1 {shared} w2"), (102, f"{shared} w1 w0 w0")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    spans = shared_token_spans(
        df, "doc_id", "text", l=4, min_span_tokens=6
    ).collect()
    assert spans, "planted overlap must be detected"
    exact = {
        r.doc_id: r.longest_shared
        for r in longest_cross_doc_span(df, "doc_id", "text").collect()
    }
    # every approximate span is a TRUE shared span: the exact cross-doc
    # optimum can only be >= it, for both endpoints
    for s in spans:
        assert exact[s.doc_a] >= s.span_tokens
        assert exact[s.doc_b] >= s.span_tokens
    assert any({s.doc_a, s.doc_b} == {101, 102} for s in spans)
    assert exact[101] == 12 and exact[102] == 12


# --- global ranking machinery -------------------------------------------------


def test_global_dense_rank_matches_local(spark):
    from era_parser_spark.operators.suffix import global_dense_rank

    rng = random.Random(5)
    rows = [(rng.randrange(40), rng.randrange(3)) for _ in range(500)]
    df = spark.createDataFrame(rows, "k1 long, k2 long").repartition(13)
    ranked, n_classes = global_dense_rank(df, ["k1", "k2"], n_parts=7)
    got = sorted((r["k1"], r["k2"], r["__gr"]) for r in ranked.collect())
    keys = sorted(set(rows))
    want_rank = {k: i + 1 for i, k in enumerate(keys)}
    want = sorted((k1, k2, want_rank[(k1, k2)]) for k1, k2 in rows)
    assert got == want
    assert n_classes == len(keys)


def test_adjacent_pairs_match_sorted_zip(spark):
    from era_parser_spark.operators.suffix import _adjacent_pairs

    rng = random.Random(11)
    rows = list({(rng.randrange(1000), rng.randrange(1000)) for _ in range(300)})
    df = spark.createDataFrame(rows, "k long, v long").repartition(9)
    pairs = _adjacent_pairs(df, ["k", "v"], n_parts=5)
    got = sorted(
        ((r["a_k"], r["a_v"]), (r["b_k"], r["b_v"])) for r in pairs.collect()
    )
    srt = sorted(rows)
    want = sorted(zip(srt[:-1], srt[1:]))
    assert got == want


# --- BPE: real pre-tokenizer passthrough --------------------------------------


def test_bpe_pattern_passthrough_train_apply_parity(spark, tmp_path, monkeypatch):
    """Train with the byte-level pre-tokenizer, apply with the SAME
    pattern: the trainer's word-table segmentation must equal the
    encoder's counts, its merges must equal the pure-python reference
    over the same regex's word table on both sides of the small-vocab
    gate, and learn_bpe_merges must return them as a list."""
    import re

    import era_parser_spark.operators.tokenizer as tk
    from era_parser_spark.operators.text import BPE_PATTERN
    from era_parser_spark.operators.tokenizer import (
        bpe_merges_distributed,
        learn_bpe_merges,
        real_bpe_token_count_col,
        save_merges,
    )
    from tests.test_round8_ops import _ref_bpe

    rows = [
        (1, "Hello, world! The lower-case world says hello."),
        (2, "hello hello world... the world, lowercased?"),
        (3, "Punctuation-heavy: (hello); [world] {the} end."),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    wf: dict = {}
    for _, t in rows:
        for w in re.findall(BPE_PATTERN, t):
            wf[w] = wf.get(w, 0) + 1
    want = [(a, b) for a, b, _ in _ref_bpe(wf, 10)]
    for thr in (tk.SMALL_VOCAB_THRESHOLD, -1):
        monkeypatch.setattr(tk, "SMALL_VOCAB_THRESHOLD", thr)
        merges_df, vocab = bpe_merges_distributed(
            df, "text", n_merges=10, return_vocab=True, pattern=BPE_PATTERN
        )
        merges = [(r["left"], r["right"]) for r in merges_df.orderBy("rank").collect()]
        assert merges == want, thr
    assert learn_bpe_merges(df, "text", n_merges=10, pattern=BPE_PATTERN) == want

    path = str(tmp_path / "merges.txt")
    save_merges(merges, path)
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", real_bpe_token_count_col("text", path, BPE_PATTERN).alias("n")
        ).collect()
    }
    # vocab-join counts: words pre-tokenized with the SAME pattern
    joined = (
        df.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
            ).alias("w"),
        )
        .join(vocab.select("w", F.size("syms").alias("n")), "w")
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n"))
    )
    want = {r["doc_id"]: r["n"] for r in joined.collect()}
    assert got == want


def test_bpe_merged_string_uniqueness_holds(spark):
    # the t32 equivalence rests on merged-string uniqueness; the trainer
    # now asserts it (round-8 advice) — pin that real training passes the
    # guard and emits distinct merged tokens
    from era_parser_spark.operators.tokenizer import bpe_merges_distributed

    rows = [(i, "aa aab abab the the quick quick brown fox " * 3) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    merged = [
        r["merged"] for r in bpe_merges_distributed(df, "text", n_merges=12).collect()
    ]
    assert len(merged) == len(set(merged))


# --- t36/t37: distributed WordPiece training ---------------------------------


def _wp_python_reference(rows, n_merges, min_pair_count=1):
    """Pure-python WordPiece loop over the whitespace/lowercase word
    table, written apart from the trainer: each round counts unigrams and
    adjacent pairs, scores a pair (c * 10**18) // (u_left * u_right),
    takes the max score, then the max count, then the smallest (left,
    right), and rewrites every word greedily left to right.  Returns one
    tuple per merge: (left, right, pair_count, left_count, right_count,
    score_q)."""
    freq: dict[str, int] = {}
    for _, t in rows:
        for w in (t or "").lower().split():
            freq[w] = freq.get(w, 0) + 1
    segs = {w: list(w) for w in freq}
    out = []
    for _ in range(n_merges):
        uni: dict[str, int] = {}
        pairs: dict[tuple[str, str], int] = {}
        for w, s in segs.items():
            for x in s:
                uni[x] = uni.get(x, 0) + freq[w]
            for p in zip(s, s[1:]):
                pairs[p] = pairs.get(p, 0) + freq[w]
        scored = sorted(
            (-(c * 10**18 // (uni[a] * uni[b])), -c, a, b)
            for (a, b), c in pairs.items()
            if c >= min_pair_count
        )
        if not scored:
            break
        neg_q, neg_c, a, b = scored[0]
        out.append((a, b, -neg_c, uni[a], uni[b], -neg_q))
        for w, s in segs.items():
            merged, i = [], 0
            while i < len(s):
                if s[i : i + 2] == [a, b]:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(s[i])
                    i += 1
            segs[w] = merged
    return out


@pytest.mark.parametrize("seed", [11, 12])
def test_wordpiece_distributed_matches_python(spark, monkeypatch, seed):
    import era_parser_spark.operators.tokenizer as tk

    rows = _rand_corpus(seed, n_docs=30, vocab=40, max_len=12)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _wp_python_reference(rows, 6)
    # the driver merge loop, then the Spark rounds
    for thr in (tk.SMALL_VOCAB_THRESHOLD, -1):
        monkeypatch.setattr(tk, "SMALL_VOCAB_THRESHOLD", thr)
        got = [
            (r["left"], r["right"], r["pair_count"], r["left_count"],
             r["right_count"], r["score_q"])
            for r in tk.wordpiece_merges_distributed(df, "text", n_merges=6)
            .orderBy("rank").collect()
        ]
        assert got == want, thr


def test_wordpiece_prefers_cohesive_over_frequent(spark):
    """The likelihood rule's defining property: a rare pair whose symbols
    ONLY occur together beats a frequent pair of independently frequent
    symbols — the opposite of BPE's choice on the same corpus."""
    from era_parser_spark.operators.tokenizer import (
        bpe_merges_distributed,
        wordpiece_merges_distributed,
    )

    # "ab" appears 6x but a/b also appear apart (a c / c b lines);
    # "qz" appears twice and q/z never appear otherwise.
    rows = [
        (1, "ab ab ab ab ab ab"),
        (2, "ac ac ac cb cb cb"),
        (3, "qz qz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wp = wordpiece_merges_distributed(df, "text", n_merges=1).collect()[0]
    assert (wp["left"], wp["right"]) == ("q", "z")
    # score = 2*10^18 / (2*2): q/z occur only in qz
    assert wp["score_q"] == 2 * 10**18 // 4
    bpe = bpe_merges_distributed(df, "text", n_merges=1).collect()[0]
    assert (bpe["left"], bpe["right"]) == ("a", "b")  # raw count rule


def test_wordpiece_min_pair_count_cutoff(spark):
    """min_pair_count excludes the perfect-scoring singleton pair; the
    loop stops cleanly when no pair qualifies."""
    from era_parser_spark.operators.tokenizer import wordpiece_merges_distributed

    rows = [(1, "xy"), (2, "ab ab ab")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # without a cutoff the singleton xy wins (score 10^18)
    m1 = wordpiece_merges_distributed(df, "text", n_merges=1).collect()[0]
    assert (m1["left"], m1["right"]) == ("x", "y")
    assert m1["score_q"] == 10**18
    # with the cutoff, (a, b) wins; round 2 has no >= 2 pair left
    m2 = wordpiece_merges_distributed(
        df, "text", n_merges=3, min_pair_count=2
    ).collect()
    assert [(r["left"], r["right"]) for r in m2] == [("a", "b")]


def test_wordpiece_vocab_counts_hand_corpus(spark):
    """t37's counting artifact: the trainer's final word table yields the
    per-doc subword counts."""
    from era_parser_spark.operators.dedup import tokens_col
    from era_parser_spark.operators.tokenizer import wordpiece_merges_distributed

    rows = [(1, "qz qz abc"), (2, "qz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = wordpiece_merges_distributed(
        df, "text", n_merges=1, return_vocab=True, min_pair_count=2
    )
    assert [(r["left"], r["right"]) for r in merges.collect()] == [("q", "z")]
    segs = {r["w"]: list(r["syms"]) for r in vocab.collect()}
    assert segs["qz"] == ["qz"] and segs["abc"] == ["a", "b", "c"]
    words = (
        df.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
    )
    counts = {
        r["doc_id"]: r["n"]
        for r in words.join(
            vocab.select("w", F.size("syms").alias("c")), "w"
        ).groupBy("doc_id").agg(F.sum("c").alias("n")).collect()
    }
    assert counts == {1: 1 + 1 + 3, 2: 1}


# --- x39: k-core decomposition ------------------------------------------------


def _py_kcore(edges, k):
    """Reference fixpoint peel over an undirected simple graph."""
    es = set()
    for a, b in edges:
        if a != b:
            es.add((min(a, b), max(a, b)))
    while True:
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        drop = {n for n, c in deg.items() if c < k}
        if not drop:
            break
        es = {(u, v) for u, v in es if u not in drop and v not in drop}
    deg = {}
    for u, v in es:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return deg


def test_kcore_hand_graph(spark):
    """4-clique with a pendant path: the path peels away wave by wave,
    the clique survives as the 3-core with degree 3 everywhere."""
    from era_parser_spark.operators.graph import kcore

    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    path = [("d", "p1"), ("p1", "p2"), ("p2", "p3")]
    df = spark.createDataFrame(clique + path, "src string, dst string")
    got = {r["node"]: r["core_degree"] for r in kcore(df, k=3).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}


@pytest.mark.parametrize("seed,k", [(21, 3), (22, 4)])
def test_kcore_matches_python_fixpoint(spark, seed, k):
    from era_parser_spark.operators.graph import kcore

    rng = random.Random(seed)
    edges = [
        (f"n{rng.randrange(30)}", f"n{rng.randrange(30)}") for _ in range(120)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["core_degree"] for r in kcore(df, k=k).collect()}
    assert got == _py_kcore(edges, k)


def test_kcore_bounded_rounds_reach_fixpoint_on_entry_graph(spark):
    """x39's rounds=6 covers the sf0.01 peel depth (3 waves at k=21):
    bounded == fixpoint, the oracle-sufficiency pin."""
    from era_parser_spark.operators.graph import kcore

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    mk = lambda mult, add, mod: F.concat(  # noqa: E731
        F.lit("h"), ((F.col("doc_id") * mult + add) % mod).cast("string")
    )
    e1 = docs.select(mk(1, 0, 40).alias("src"), mk(7, 3, 53).alias("dst"))
    e2 = docs.select(mk(1, 0, 40).alias("src"), mk(13, 5, 53).alias("dst"))
    edges = e1.unionByName(e2)
    bounded = sorted(
        map(tuple, kcore(edges, k=21, rounds=6).collect())
    )
    fixpoint = sorted(map(tuple, kcore(edges, k=21).collect()))
    assert bounded == fixpoint and len(fixpoint) > 0


def test_kcore_max_iter_guard_raises_on_deep_peel(spark):
    """A path at k=2 sheds two endpoints per wave — max_iter below the
    peel depth must raise, not silently return a non-core."""
    from era_parser_spark.operators.graph import kcore

    path = [(f"p{i}", f"p{i + 1}") for i in range(12)]
    df = spark.createDataFrame(path, "src string, dst string")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        kcore(df, k=2, max_iter=2)
    assert kcore(df, k=2).count() == 0  # the true 2-core of a path


# --- x40: median + MAD robust outliers ----------------------------------------


def test_mad_outliers_semantics(spark):
    """x40: lower-median order statistic, exact integer MAD fence,
    MAD=0 degenerate flags every deviating row, negatives exact."""
    import era_parser_spark.queries.extended as X
    from era_parser_spark.queries.registry import QUERIES

    rows = [
        # type a: median 2, MAD 1 -> only the 100 is outside 3*MAD
        (1, "a", 0.0), (2, "a", 1.0), (3, "a", 2.0), (4, "a", 3.0),
        (5, "a", 100.0),
        # type b: even count, lower median 5, MAD 0 -> any deviation flags
        (6, "b", 5.0), (7, "b", 5.0), (8, "b", 5.0), (9, "b", 9.0),
        # type c: negatives quantize exactly
        (10, "c", -10.0), (11, "c", -10.5), (12, "c", 0.0),
        (13, "a", None),
    ]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    orig = X.table
    try:
        X.table = lambda spark, sf_dir, name: ev
        out = {
            r["event_id"]: (r["med"], r["dev"], r["mad"])
            for r in QUERIES["x40_mad_outliers"](spark, "ignored").collect()
        }
    finally:
        X.table = orig
    assert set(out) == {5, 9, 12}
    assert out[5] == (2_000_000, 98_000_000, 1_000_000)
    assert out[9] == (5_000_000, 4_000_000, 0)
    assert out[12] == (-10_000_000, 10_000_000, 500_000)


# --- st15: streaming MAD outlier counts ---------------------------------------


def test_st15_stream_equals_batch_fence(spark):
    """Stream-serve == batch: st15's windowed outlier counts over one
    AvailableNow batch equal the batch x40 fence grouped by hour — the
    in-Spark twin of its DuckDB oracle."""
    from era_parser_spark.queries import load_all
    from era_parser_spark.queries.extended import mad_medians, mad_quantized
    from era_parser_spark.queries.registry import table

    QUERIES, _ = load_all()
    sf = "/root/testdata/sf0.01"
    got = {
        (r["window_start"], r["event_type"]): r["n_outliers"]
        for r in QUERIES["st15_stream_mad_outlier_counts"](spark, sf).collect()
    }
    ev = table(spark, sf, "events")
    e = mad_quantized(ev, keep_cols=("ts",))
    med, mad = mad_medians(e)
    batch = (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("v_us") - F.col("med")) > 3 * F.col("mad"))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("window.start").alias("w"), "event_type", "n")
    )
    want = {(r["w"], r["event_type"]): r["n"] for r in batch.collect()}
    assert got == want and len(got) > 0


# --- x41: state durations (state_agg) ----------------------------------------


def test_state_durations_semantics(spark):
    """x41: holds-until-next semantics per user, (ts, event_id) tiebreak,
    open final interval excluded."""
    import datetime as dt

    import era_parser_spark.queries.extended as X
    from era_parser_spark.queries import load_all

    QUERIES, _ = load_all()
    t0 = dt.datetime(2024, 5, 1)
    mk = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    rows = [
        # user 1: view holds 10 s, click holds 20 s, purchase open-ended
        (1, 1, "view", mk(0)),
        (2, 1, "click", mk(10)),
        (3, 1, "purchase", mk(30)),
        # user 2: two simultaneous events — event_id breaks the tie, so
        # the id-2 view holds 0 s and the id-5 click holds 5 s
        (4, 2, "view", mk(0)),
        (5, 2, "click", mk(0)),
        (6, 2, "view", mk(5)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    orig = X.table
    try:
        X.table = lambda spark, sf_dir, name: ev
        out = {
            r["state"]: (r["n_intervals"], r["total_us"])
            for r in QUERIES["x41_state_durations"](spark, "ignored").collect()
        }
    finally:
        X.table = orig
    assert out == {
        "view": (2, 10_000_000),   # u1 10 s + u2 0 s
        "click": (2, 25_000_000),  # u1 20 s + u2 5 s
    }
