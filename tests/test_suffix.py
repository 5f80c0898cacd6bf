"""Suffix tier (`operators/suffix.py`): prefix-doubling construction,
per-doc and global, and the LCP walks on top of it.

Brute-force pins run over corpora whose longest document makes the last
prefix-doubling round one, two or three levels wide (`_doubling_round`
takes f = min(3, doublings still needed)).  Every corpus holds one
all-same-token document of the maximal length: no suffix of it separates
before the prefix length reaches the document length, so neither early
stop fires and every round runs.  The forced-bound differentials set
COMPOSITE_BOUND to 0, which makes every round one level wide and drops
the terminal composite — the >3e9-position path, on a small fixture.
"""

from __future__ import annotations

import random

import pytest

from tests.conftest import SF_SMALL

# longest document -> levels per round, the last round 1, 2 or 3 wide
ROUND_SHAPES = {4: [2], 12: [3, 1], 24: [3, 2], 40: [3, 3]}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _spans(df) -> dict:
    return {r["doc_id"]: r["longest_shared"] for r in df.collect()}


def _corpus(n: int) -> list[tuple[int, str]]:
    """Seeded 3-token-vocabulary docs up to n tokens, a verbatim twin and
    a shared prefix (identical cross-doc suffixes), a single-token doc,
    and the all-same-token doc of exactly n tokens."""
    rng = random.Random(n)
    rows = [
        (i, " ".join(rng.choice("abc") for _ in range(rng.randint(2, n))))
        for i in range(1, 6)
    ]
    rows.append((6, rows[0][1]))
    rows.append((7, " ".join(rows[1][1].split()[: max(1, n // 2)]) + " c"))
    rows.append((8, "solo"))
    rows.append((9, " ".join(["a"] * n)))
    return rows


def _toks(rows):
    return {i: t.lower().split() for i, t in rows}


def _spy_rounds(monkeypatch, sfx) -> list[int]:
    """Record how many history levels each `_doubling_round` call adds."""
    widths: list[int] = []
    real = sfx._doubling_round

    def spy(*args):
        levels, n_classes = real(*args)
        widths.append(len(levels))
        return levels, n_classes

    monkeypatch.setattr(sfx, "_doubling_round", spy)
    return widths


def _check_levels(history, toks, per_doc: bool):
    """Every history level L ranks exactly the L-token prefixes: equal r
    <=> equal token slices (a slice cut short by the suffix end differs
    from any longer one, the -1 sentinel); per-doc ranks compare within
    a document only."""
    ls = [L for L, _ in history]
    assert ls == [1 << k for k in range(len(ls))]
    for L, frame in history:
        seen: dict = {}
        for r in frame.collect():
            d, p, rank = r[0], r["pos"], r["r"]
            key = (d if per_doc else None, tuple(toks[d][p - 1 : p - 1 + L]))
            seen.setdefault(key, set()).add((d if per_doc else None, rank))
        ranks = [rk for s in seen.values() for rk in s]
        assert all(len(s) == 1 for s in seen.values()), L
        assert len(set(ranks)) == len(ranks), L


@pytest.mark.parametrize("n", sorted(ROUND_SHAPES))
def test_suffix_ranks_dense_and_history_match_bruteforce(spark, monkeypatch, n):
    import era_parser_spark.operators.suffix as sfx

    rows = _corpus(n)
    toks = _toks(rows)
    want = {}
    for d, tk in toks.items():
        order = sorted(range(1, len(tk) + 1), key=lambda p: tk[p - 1 :])
        want.update({(d, p): k for k, p in enumerate(order, start=1)})
    widths = _spy_rounds(monkeypatch, sfx)
    dense = sfx.suffix_ranks(_docs(spark, rows), "doc_id", "text").collect()
    assert {(r.doc_id, r.pos): r.suffix_rank for r in dense} == want
    assert widths == ROUND_SHAPES[n]

    widths.clear()
    out, history, n_rows = sfx.suffix_ranks(
        _docs(spark, rows), "doc_id", "text", return_history=True
    )
    assert widths == ROUND_SHAPES[n]
    assert n_rows == sum(len(tk) for tk in toks.values())
    # history mode: the suffix order, not necessarily dense ranks
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, []).append((r.suffix_rank, r.pos))
    for d, pairs in got.items():
        ranked = [p for _, p in sorted(pairs)]
        assert [want[(d, p)] for p in ranked] == list(range(1, len(ranked) + 1))
    _check_levels(history, toks, per_doc=True)


@pytest.mark.parametrize("n", sorted(ROUND_SHAPES))
def test_global_suffix_ranks_match_bruteforce(spark, monkeypatch, n):
    import era_parser_spark.operators.suffix as sfx

    rows = _corpus(n)
    toks = _toks(rows)
    sufs = {
        (d, p): tuple(tk[p - 1 :])
        for d, tk in toks.items()
        for p in range(1, len(tk) + 1)
    }
    rank = {s: k for k, s in enumerate(sorted(set(sufs.values())), start=1)}
    widths = _spy_rounds(monkeypatch, sfx)
    got = {
        (r["doc_id"], r["pos"]): (r["suffix_rank"], r["doc_tokens"])
        for r in sfx.global_suffix_ranks(_docs(spark, rows), "doc_id", "text").collect()
    }
    assert got == {k: (rank[s], len(toks[k[0]])) for k, s in sufs.items()}
    assert widths == ROUND_SHAPES[n]

    _, history, n_rows = sfx.global_suffix_ranks(
        _docs(spark, rows), "doc_id", "text", return_history=True
    )
    assert n_rows == len(sufs)
    _check_levels(history, toks, per_doc=False)


@pytest.mark.parametrize("n", sorted(ROUND_SHAPES))
def test_longest_spans_match_bruteforce(spark, n):
    from era_parser_spark.operators.suffix import (
        longest_cross_doc_span,
        longest_repeated_span,
    )

    rows = _corpus(n)
    toks = _toks(rows)

    def grams(tk):
        m = len(tk)
        return {tuple(tk[a:b]) for a in range(m) for b in range(a + 1, m + 1)}

    def repeat(tk):
        best = 0
        for i in range(len(tk)):
            for j in range(i + 1, len(tk)):
                k = 0
                while j + k < len(tk) and tk[i + k] == tk[j + k]:
                    k += 1
                best = max(best, k)
        return best

    g = {d: grams(tk) for d, tk in toks.items()}
    shared = {
        d: max((len(s) for e in g if e != d for s in g[d] & g[e]), default=0)
        for d in g
    }
    docs = _docs(spark, rows)
    got_rep = {
        r.doc_id: r.longest_repeat
        for r in longest_repeated_span(docs, "doc_id", "text").collect()
    }
    assert got_rep == {d: repeat(tk) for d, tk in toks.items()}
    assert _spans(longest_cross_doc_span(docs, "doc_id", "text")) == shared


# --- forced-bound differentials: every round one level wide -------------------


def test_suffix_fuse_differential_per_doc(spark, monkeypatch):
    import era_parser_spark.operators.suffix as sfx
    from era_parser_spark.operators.suffix import suffix_ranks

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(40)
    fused = {
        (r["doc_id"], r["pos"]): r["suffix_rank"]
        for r in suffix_ranks(docs, "doc_id", "text").collect()
    }
    monkeypatch.setattr(sfx, "COMPOSITE_BOUND", 0)
    classic = {
        (r["doc_id"], r["pos"]): r["suffix_rank"]
        for r in suffix_ranks(docs, "doc_id", "text").collect()
    }
    assert fused == classic and len(fused) > 0


def test_suffix_fuse_differential_global_and_cross_doc(spark, monkeypatch):
    import era_parser_spark.operators.suffix as sfx
    from era_parser_spark.operators.suffix import (
        global_suffix_ranks,
        longest_cross_doc_span,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox ran far away from the dog"),
        (3, "the quick brown fox jumps over the lazy dog again and again"),
        (4, "zeta eta theta iota kappa"),
        (5, "single"),
    ]
    docs = _docs(spark, rows)
    g_fused = {
        (r["doc_id"], r["pos"]): r["suffix_rank"]
        for r in global_suffix_ranks(docs, "doc_id", "text").collect()
    }
    spans_fused = _spans(longest_cross_doc_span(docs, "doc_id", "text"))
    monkeypatch.setattr(sfx, "COMPOSITE_BOUND", 0)
    g_classic = {
        (r["doc_id"], r["pos"]): r["suffix_rank"]
        for r in global_suffix_ranks(docs, "doc_id", "text").collect()
    }
    assert g_fused == g_classic and len(g_fused) > 0
    assert spans_fused == _spans(longest_cross_doc_span(docs, "doc_id", "text"))
