"""Pluggable real BPE tokenizer behind the regex token-count stand-in.

The engine's oracle path counts subword tokens with a lookahead-free regex
(`operators/text.py::BPE_PATTERN`) because that is exactly reproducible in
DuckDB.  Production data budgeting wants counts from the *actual* model
tokenizer; this module runs a real byte-pair-encoding merge loop from a
standard ``merges.txt``-style file (one merge per line, ``"left right"``,
rank = line order — the public GPT-2/HuggingFace format) behind the same
operator signatures, as an Arrow-batched pandas UDF.

Scale notes: the merges file is loaded ONCE per executor process (module
cache keyed by path+mtime) and never rides the closure; ship it to
executors with ``spark-submit --files`` on a real cluster.  The merge loop
is the genuinely imperative per-word kernel Python UDFs exist for, and a
per-batch word-level memo dedupes repeated words (natural text repeats
most words), so the loop runs once per distinct word per batch.
"""

from __future__ import annotations

import os
import re
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

# Merge loop operates on the pre-token pieces of the SAME regex the
# stand-in counts with, so swapping the tokenizer never changes what a
# "word" is — only how words split into subwords.
from era_parser_spark.operators.text import BPE_PATTERN
from era_parser_spark.session import rows_frame

_RANKS_CACHE: dict[tuple[str, float], dict[tuple[str, str], int]] = {}


def load_merges(path: str) -> dict[tuple[str, str], int]:
    """Parse a merges.txt-style file -> {(left, right): rank}.

    Only a FIRST-line ``#version`` header and blank lines are skipped —
    never every ``#``-initial line: the pre-tokenizer emits punctuation
    runs like ``##`` as symbols, so a learned merge ('#', '#') writes the
    line ``# #`` and a blanket comment rule would silently drop it (and
    would corrupt real GPT-2 merges.txt files the same way).  Rank is the
    surviving line index (lower merges first).
    """
    key = (os.path.abspath(path), os.path.getmtime(path))
    if key not in _RANKS_CACHE:
        ranks: dict[tuple[str, str], int] = {}
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f):
                line = line.rstrip("\n")
                if not line or (lineno == 0 and line.startswith("#version")):
                    continue
                parts = line.split(" ")
                if len(parts) != 2:
                    continue
                ranks[(parts[0], parts[1])] = len(ranks)
        _RANKS_CACHE[key] = ranks
    return _RANKS_CACHE[key]


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE: repeatedly merge the lowest-rank adjacent pair."""
    symbols = list(word)
    while len(symbols) > 1:
        best_rank, best_i = None, -1
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_encode_text(
    text: str,
    ranks: dict[tuple[str, str], int],
    pattern: str = BPE_PATTERN,
    _memo: dict[str, int] | None = None,
) -> int:
    """Token count of `text` under the merge table (pre-tokenize, then
    merge within each piece).  `_memo` caches per-word subword counts."""
    n = 0
    for word in re.findall(pattern, text):
        if _memo is not None and word in _memo:
            n += _memo[word]
            continue
        c = len(bpe_encode_word(word, ranks))
        if _memo is not None:
            _memo[word] = c
        n += c
    return n


@lru_cache(maxsize=8)
def bpe_token_count_udf(merges_path: str, pattern: str = BPE_PATTERN):
    """Pandas UDF: text column -> real-BPE token count (int).

    The merges file is read lazily inside the task (first batch on each
    executor), so only the path string ships with the closure.  `pattern`
    is the pre-tokenizer regex — it must match the one the merges were
    LEARNED with (pass the same value given to `bpe_merges_distributed`
    / `learn_bpe_merges`), or "what a word is" differs between train and
    apply.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def count(texts):
        import pandas as pd

        ranks = load_merges(merges_path)
        memo: dict[str, int] = {}
        return pd.Series(
            [
                bpe_encode_text(str(t), ranks, pattern=pattern, _memo=memo)
                for t in texts
            ],
            dtype="int32",
        )

    return count


def real_bpe_token_count_col(
    text_col: str | Column, merges_path: str, pattern: str = BPE_PATTERN
) -> Column:
    """Drop-in for `text.bpe_token_count_col` backed by the real tokenizer."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return bpe_token_count_udf(merges_path, pattern)(c)


# --- Learning a merge table from the corpus ---------------------------------


def _merge_word(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """One left-to-right, non-overlapping merge pass (standard BPE)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def learn_bpe_merges(
    df,
    text_col: str,
    n_merges: int = 100,
    pattern: str = BPE_PATTERN,
    max_vocab: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from the corpus itself.

    The only corpus-size pass is distributed: one regexp pre-token explode
    + word groupBy (map-side combined).  The merge loop then runs on the
    collected (word, freq) table — which is how BPE is actually trained
    (Sennrich et al. 2016 operate on the word-frequency dictionary, never
    the raw stream), and the vocabulary is corpus-sublinear (Heaps' law):
    a 100 TB web corpus has ~10^7 distinct pre-tokens, a driver-sized
    table.  `max_vocab` bounds it hard (top frequency, ties on word).

    Deterministic: pair ties break lexicographically smallest-first, so
    the same corpus always yields the same merges.  Feed the result to
    `save_merges` + `real_bpe_token_count_col` (same pre-token pattern,
    so "what a word is" never changes between learn and apply).
    """
    rows = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(max_vocab)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(str(r.w))
        vocab[syms] = vocab.get(syms, 0) + int(r.freq)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, fq in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + fq
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, fq in vocab.items():
            m = _merge_word(syms, best)
            new_vocab[m] = new_vocab.get(m, 0) + fq
        vocab = new_vocab
    return merges


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Write merges in the merges.txt format `load_merges` reads back."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("#version: learned\n")
        for a, b in merges:
            f.write(f"{a} {b}\n")


# WordPiece likelihood scores are fixed-point integers at this scale:
# score_q = (pair_count * WP_SCALE) intdiv (count(left) * count(right)).
# 10^18 keeps score_q <= WP_SCALE (pair_count <= min of the unigram
# counts) so it always fits a BIGINT, while the numerator/denominator
# products run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) / Python
# bigints — exact for corpora up to ~10^19 tokens.
WP_SCALE = 10**18


def _wp_best_pair(
    vocab: dict[tuple[str, ...], int], min_pair_count: int = 1
) -> tuple[str, str, int, int, int, int] | None:
    """Exact-bigint WordPiece argmax over a word-frequency dict: the pair
    maximizing the quantized likelihood score, ties broken by pair count
    DESC then (left, right) UTF-8 bytes ASC — the same total order the
    distributed trainer and the DuckDB oracle sort by."""
    pc: dict[tuple[str, str], int] = {}
    u: dict[str, int] = {}
    for syms, fq in vocab.items():
        for s in syms:
            u[s] = u.get(s, 0) + fq
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pc[p] = pc.get(p, 0) + fq
    best = None
    for (a, b), c in pc.items():
        if c < min_pair_count:
            continue
        q = (c * WP_SCALE) // (u[a] * u[b])
        key = (-q, -c, a.encode("utf-8"), b.encode("utf-8"))
        if best is None or key < best[0]:
            best = (key, (a, b, c, u[a], u[b], q))
    return None if best is None else best[1]


def learn_wordpiece_merges(
    df,
    text_col: str,
    n_merges: int = 8,
    pattern: str = BPE_PATTERN,
    max_vocab: int = 1_000_000,
    min_pair_count: int = 1,
) -> list[tuple[str, str]]:
    """WordPiece merge training (Schuster & Nakajima 2012; the BERT
    tokenizer's rule), driver-loop twin of `wordpiece_merges_distributed`
    the way `learn_bpe_merges` twins `bpe_merges_distributed`: same
    distributed word-count pass, then the merge loop on the collected
    frequency table.  Differs from BPE ONLY in the selection rule — the
    pair maximizing likelihood gain count(ab)/(count(a)*count(b)) instead
    of raw count(ab) — computed as the exact fixed-point integer
    (c*WP_SCALE)//(u_a*u_b) in Python bigints (never floats), ties on
    count DESC then pair bytes ASC.  No ## continuation markers: symbols
    are plain characters, the repo's no-marker convention, so merges feed
    `save_merges`/`bpe_encode_word` directly."""
    rows = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(max_vocab)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(str(r.w))
        vocab[syms] = vocab.get(syms, 0) + int(r.freq)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        info = _wp_best_pair(vocab, min_pair_count)
        if info is None:
            break
        a, b = info[0], info[1]
        merges.append((a, b))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, fq in vocab.items():
            m = _merge_word(syms, (a, b))
            new_vocab[m] = new_vocab.get(m, 0) + fq
        vocab = new_vocab
    return merges


# Word tables at or below this row count take the exact driver merge
# loop inside the distributed trainers (round 12): 8 merge rounds were
# paying 2 Spark jobs each (argmax collect + Arrow rewrite checkpoint)
# for a table the driver folds in milliseconds, with bit-identical
# results — the driver-loop twins (learn_bpe_merges /
# learn_wordpiece_merges) are already differentially pinned against the
# distributed rounds (tests/test_round9_ops.py).  Same adaptive
# convention as graph.SMALL_GRAPH_EDGE_THRESHOLD: the gate is the count
# of the already-checkpointed word table — the quantity whose
# corpus-sublinearity (Heaps' law) the trainer design itself argues —
# never a core count; byte-noise corpora past the gate keep the
# distributed rounds unchanged.  50k (word, freq) rows keeps the Python
# pair-count fold well under a second per round.
SMALL_VOCAB_THRESHOLD = 50_000


def _driver_merge_loop(
    spark,
    words_ckpt,
    n_merges: int,
    return_vocab: bool,
    wordpiece: bool,
    min_pair_count: int = 1,
):
    """The distributed trainers' small-vocab fast path: collect the
    (w, freq) table once, run the merge loop on the driver with EXACTLY
    the distributed argmax semantics (BPE: max pair count, ties on
    UTF-8 bytes of (left, right) ASC; WordPiece: the exact fixed-point
    likelihood argmax of `_wp_best_pair`), and rebuild the same output
    frames — including the re-minted-token ValueError the distributed
    rounds raise."""
    rows = words_ckpt.select("w", "freq").collect()
    vocab: dict[tuple[str, ...], int] = {
        tuple(str(r["w"])): int(r["freq"]) for r in rows
    }
    out_rows: list[tuple] = []
    seen_merged: set[str] = set()
    for rank in range(1, n_merges + 1):
        if wordpiece:
            info = _wp_best_pair(vocab, min_pair_count)
            if info is None:
                break
            a, b, c, lu, ru, q = info
        else:
            counts: dict[tuple[str, str], int] = {}
            for syms, fq in vocab.items():
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + fq
            if not counts:
                break
            (a, b), c = min(
                counts.items(),
                key=lambda kv: (
                    -kv[1],
                    kv[0][0].encode("utf-8"),
                    kv[0][1].encode("utf-8"),
                ),
            )
        if a + b in seen_merged:
            raise ValueError(
                f"{'WordPiece' if wordpiece else 'BPE'} merge round {rank} "
                f"re-mints merged token {a + b!r} (two distinct merges "
                "produce the same string); the word-table segmentation "
                "would diverge from bpe_encode_word on this corpus — "
                "reduce n_merges or encode with the vocab table "
                "(return_vocab=True) instead"
            )
        seen_merged.add(a + b)
        if wordpiece:
            out_rows.append((rank, a, b, a + b, c, lu, ru, q))
        else:
            out_rows.append((rank, a, b, a + b, c))
        # greedy left-to-right rewrite, the _merge_word semantics
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, fq in vocab.items():
            m = _merge_word(syms, (a, b))
            new_vocab[m] = new_vocab.get(m, 0) + fq
        vocab = new_vocab
    schema = (
        "rank int, left string, right string, merged string,"
        " pair_count long, left_count long, right_count long, score_q long"
        if wordpiece
        else "rank int, left string, right string, merged string,"
        " pair_count long"
    )
    merges_df = rows_frame(spark, out_rows, schema)
    if return_vocab:
        # the final per-word segmentation, same (w, freq, syms) shape as
        # the distributed word table after all merges.  Words are
        # distinct, so the syms key maps back to exactly one word.
        vocab_df = rows_frame(
            spark,
            [("".join(syms), fq, list(syms)) for syms, fq in vocab.items()],
            "w string, freq long, syms array<string>",
        )
        return merges_df, vocab_df
    return merges_df


def _apply_merge_kernel(a: str, b: str):
    """Arrow-batched greedy left-to-right merge pass for (a, b) — the
    exact `_merge_word` semantics applied to a syms array column."""

    def fn(it):
        for pdf in it:
            merged = []
            for syms in pdf["syms"]:
                out, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                merged.append(out)
            pdf = pdf.copy()
            pdf["syms"] = merged
            yield pdf

    return fn


def bpe_merges_distributed(
    df,
    text_col: str,
    n_merges: int = 8,
    return_vocab: bool = False,
    pattern: str | None = None,
):
    """BPE merge training with the merge LOOP distributed — the exact
    upgrade of `learn_bpe_merges` for corpora whose pre-token vocabulary
    does not fit a driver (byte-noise multilingual web text at 100 TB can
    reach 1e8-1e9 distinct words; Heaps' law only bounds CLEAN corpora).

    One corpus-size pass builds the distinct-word frequency table
    (explode + map-side-combined groupBy — the only stage that sees
    corpus volume); each of the n_merges rounds then runs ON the word
    table: an adjacent-pair count (integer sum of word freqs), a
    deterministic argmax (max count, then lexicographically smallest
    (left, right) — UTF-8 binary order, identical in Spark / DuckDB /
    Python), and an Arrow-batched greedy left-to-right rewrite.  Only the
    single winning pair is ever collected per round (the s16
    tiny-artifact convention); the word table is localCheckpoint'ed per
    round so round r+1 does not recompute rounds 1..r (the CC-edges
    precedent).

    Tokenization defaults to the suite's whitespace/lowercase convention
    (`tokens_col`, the oracle path); pass ``pattern=`` (e.g.
    `text.BPE_PATTERN`, the GPT-2-style byte-level pre-tokenizer) to
    pre-tokenize with the SAME regex the encoder applies — learned merges
    then feed `save_merges` + `real_bpe_token_count_col(pattern=...)`
    with "what a word is" identical between train and apply (pinned
    differentially in tests/test_round9_ops.py).  Symbols are the word's
    characters with NO end-of-word marker — the same convention as
    `bpe_encode_word`/`load_merges` either way.

    Greedy-overlap semantics ("aaa" under (a,a) -> ["aa","a"]) are pinned
    against a pure-python reference; the DuckDB oracle re-derives every
    round exactly (island/parity rewrite, unrolled per round — the x25
    unrolled-PageRank pattern).

    Returns (rank, left, right, merged, pair_count) — one row per learned
    merge, fewer than n_merges only if the vocabulary fully merges first.
    With ``return_vocab=True``, returns (merges_df, vocab_df) where
    vocab_df = (w, freq, syms) is the word table AFTER all merges — the
    per-word subword segmentation, which equals what the encoder produces
    under the learned ranks (applying merges in rank order can never
    create an instance of an earlier-rank pair, since every pair created
    by merge r involves the symbol merge r minted; pinned differentially
    against bpe_encode_word in tests/test_round8_ops.py).
    """
    from pyspark.sql import functions as F

    from era_parser_spark.operators.dedup import tokens_col

    spark = df.sparkSession
    pre_tok = (
        tokens_col(F.col(text_col))
        if pattern is None
        else F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
    )
    words = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.explode(pre_tok).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
    )
    cur = words.localCheckpoint(eager=True)
    if cur.count() <= SMALL_VOCAB_THRESHOLD:
        # small-vocab fast path: identical merges/vocab off the driver
        # loop (see SMALL_VOCAB_THRESHOLD); the distributed rounds below
        # remain the byte-noise-corpus path the 100 TB argument is about
        return _driver_merge_loop(
            spark, cur, n_merges, return_vocab, wordpiece=False
        )
    out_rows: list[tuple] = []
    seen_merged: set[str] = set()
    for rank in range(1, n_merges + 1):
        best = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.expr(
                    "explode(transform(sequence(0, size(syms)-2),"
                    " i -> struct(syms[i] AS l, syms[i+1] AS r)))"
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
            # tie-break on the UTF-8 BYTES of (l, r): Spark compares
            # strings by UTF-16 code units, DuckDB/Python by code point /
            # UTF-8 binary — these diverge for supplementary-plane
            # characters (emoji), so the argmax must order on a
            # binary-stable key to keep trainer / oracle / pure-python
            # reference identical on any corpus (round-8 advice).  The
            # oracle's `ORDER BY l ASC, r ASC` IS UTF-8 binary order
            # (DuckDB's default collation), so only this side changes.
            .orderBy(
                F.desc("c"),
                F.asc(F.encode("l", "utf-8")),
                F.asc(F.encode("r", "utf-8")),
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        # The t32 relational-encode equivalence ("rank-order application
        # never creates an earlier-rank pair") argues by symbol IDENTITY,
        # but bpe_encode_word keys ranks by symbol STRINGS: if two
        # different merges mint the same merged string (e.g. 'abc' via
        # (ab,c) and via (a,bc)), the encoder can see an "earlier-rank"
        # string pair the trainer's argument excludes and silently
        # diverge.  Refuse such corpora loudly (round-8 advice).
        if a + b in seen_merged:
            raise ValueError(
                f"BPE merge round {rank} re-mints merged token {a + b!r} "
                "(two distinct merges produce the same string); the "
                "trainer's word-table segmentation would diverge from "
                "bpe_encode_word on this corpus — reduce n_merges or "
                "encode with the vocab table (return_vocab=True) instead"
            )
        seen_merged.add(a + b)
        out_rows.append((rank, a, b, a + b, c))
        cur = cur.mapInPandas(
            _apply_merge_kernel(a, b), cur.schema
        ).localCheckpoint(eager=True)
    merges_df = rows_frame(
        spark,
        out_rows,
        "rank int, left string, right string, merged string, pair_count long",
    )
    if return_vocab:
        return merges_df, cur
    return merges_df


def wordpiece_merges_distributed(
    df,
    text_col: str,
    n_merges: int = 8,
    return_vocab: bool = False,
    pattern: str | None = None,
    min_pair_count: int = 1,
):
    """WordPiece merge training (Schuster & Nakajima 2012, the BERT rule)
    with the merge loop distributed — `bpe_merges_distributed` with the
    likelihood selection rule: each round picks the pair maximizing
    count(ab) / (count(a) * count(b)), the greedy unigram-LM-likelihood
    gain, instead of BPE's raw count(ab).  Rare-but-always-together
    symbol pairs win over frequent-but-independent ones — the property
    that gives BERT-style vocabularies their morpheme bias.

    The score is the exact fixed-point integer
    ``(c * 10^18) intdiv (u_left * u_right)``: numerator and denominator
    products run in DECIMAL(38,0) (Spark's IntegralDivide on decimals is
    exact and returns BIGINT — verified equal to DuckDB's HUGEINT ``//``
    and Python's ``//``), and since c <= min(u_left, u_right) the
    quotient is <= 10^18, always a BIGINT.  No floats anywhere, so
    trainer / DuckDB oracle / `learn_wordpiece_merges` (the driver-loop
    twin) agree bit-for-bit on any corpus up to ~10^19 tokens.  Score
    collisions below the 1e-18 quantum fall to the deterministic
    tie-break (count DESC, then pair UTF-8 bytes ASC) — the documented
    house fixed-point convention (t17/p16), not float argmax.

    Per round the work stays O(word table), never O(corpus): one
    unigram count + one adjacent-pair count over the distinct-word
    frequency table (both map-side combined), two symbol-keyed joins of
    those two SMALL frames, a LIMIT-1 argmax, and the same Arrow-batched
    greedy rewrite as BPE — only the winning row is collected, the word
    table is localCheckpoint'ed per round, and the 8x rehearsal's
    volume-independence argument for t31 carries over unchanged.

    ``min_pair_count`` mirrors production WordPiece frequency cutoffs
    (a pair seen once with singleton symbols would score a perfect
    10^18); rounds where no pair qualifies stop the loop.  Symbols are
    plain characters, no ## continuation markers (the repo convention),
    so merges feed `save_merges` + `real_bpe_token_count_col` directly;
    `pattern=` selects the byte-level pre-tokenizer exactly as in BPE.

    Returns (rank, left, right, merged, pair_count, left_count,
    right_count, score_q); with ``return_vocab=True`` also the final
    word table (w, freq, syms) — the trainer's per-word segmentation,
    the same relational-counting artifact t32 uses.
    """
    from pyspark.sql import functions as F

    from era_parser_spark.operators.dedup import tokens_col

    spark = df.sparkSession
    pre_tok = (
        tokens_col(F.col(text_col))
        if pattern is None
        else F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
    )
    words = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.explode(pre_tok).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
    )
    cur = words.localCheckpoint(eager=True)
    if cur.count() <= SMALL_VOCAB_THRESHOLD:
        # small-vocab fast path, WordPiece flavor — the exact integer
        # likelihood argmax of _wp_best_pair IS the distributed round's
        # (same fixed-point score, same count-then-UTF-8-bytes ties)
        return _driver_merge_loop(
            spark,
            cur,
            n_merges,
            return_vocab,
            wordpiece=True,
            min_pair_count=min_pair_count,
        )
    out_rows: list[tuple] = []
    seen_merged: set[str] = set()
    for rank in range(1, n_merges + 1):
        uni = (
            cur.select("freq", F.explode("syms").alias("s"))
            .groupBy("s")
            .agg(F.sum("freq").alias("u"))
        )
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.expr(
                    "explode(transform(sequence(0, size(syms)-2),"
                    " i -> struct(syms[i] AS l, syms[i+1] AS r)))"
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
        )
        best = (
            pairs.filter(F.col("c") >= int(min_pair_count))
            .join(uni.select(F.col("s").alias("l"), F.col("u").alias("lu")), "l")
            .join(uni.select(F.col("s").alias("r"), F.col("u").alias("ru")), "r")
            .select(
                "l",
                "r",
                "c",
                "lu",
                "ru",
                F.expr(
                    f"CAST(c AS DECIMAL(38,0)) * {WP_SCALE}"
                    " div (CAST(lu AS DECIMAL(38,0)) * ru)"
                ).alias("score_q"),
            )
            # same binary-stable tie order as BPE (UTF-16 vs UTF-8 trap)
            .orderBy(
                F.desc("score_q"),
                F.desc("c"),
                F.asc(F.encode("l", "utf-8")),
                F.asc(F.encode("r", "utf-8")),
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        a, b = row["l"], row["r"]
        if a + b in seen_merged:
            raise ValueError(
                f"WordPiece merge round {rank} re-mints merged token "
                f"{a + b!r} (two distinct merges produce the same string); "
                "the word-table segmentation would diverge from "
                "bpe_encode_word on this corpus — reduce n_merges or "
                "encode with the vocab table (return_vocab=True) instead"
            )
        seen_merged.add(a + b)
        out_rows.append(
            (
                rank, a, b, a + b,
                int(row["c"]), int(row["lu"]), int(row["ru"]),
                int(row["score_q"]),
            )
        )
        cur = cur.mapInPandas(
            _apply_merge_kernel(a, b), cur.schema
        ).localCheckpoint(eager=True)
    merges_df = rows_frame(
        spark,
        out_rows,
        "rank int, left string, right string, merged string,"
        " pair_count long, left_count long, right_count long, score_q long",
    )
    if return_vocab:
        return merges_df, cur
    return merges_df


def wordpiece_greedy_counts(words_df, pieces: list[str]):
    """Greedy longest-match WordPiece INFERENCE over a distinct-word
    frame — the rule BERT's tokenizer actually applies at encode time
    (Schuster & Nakajima 2012 §3; reference implementation
    `WordpieceTokenizer.tokenize` in BERT's public tokenization.py),
    which t37's trainer-segmentation counts explicitly do NOT claim:
    at each cursor take the LONGEST vocabulary piece matching the
    remaining word, else consume one character (single characters pass
    through — the repo's no-##-marker convention makes every char a
    valid piece, so there is no [UNK] state to model).

    ``pieces`` is the trained merge vocabulary (the `merged` column of
    `wordpiece_merges_distributed`, a tiny driver artifact — O(n_merges)
    strings riding the task closure).  Two distinct pieces of equal
    length can never match the same cursor (they would be the same
    string), so longest-first scanning is deterministic without a tie
    rule.  The kernel is Arrow-batched over the DISTINCT-word table, so
    the work is volume-independent like the trainer (t31/t36): the
    corpus is never re-encoded — per-doc counts come from a word join
    downstream (the t32/t37 shape).

    The per-cursor scan is bucketed by FIRST CHARACTER (a piece can only
    match a cursor whose character it starts with), so the inner loop is
    O(pieces sharing w[i]'s first char) — with a realistic 30k-piece
    BERT-style vocabulary that is a few-hundred-entry bucket, not the
    whole vocab; within a bucket longest-first order preserves the
    greedy longest-match rule exactly (equal-length distinct pieces can
    never both match one cursor).

    Returns ``words_df`` + ``n_greedy`` (long): greedy piece count per
    word.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    by_first: dict[str, list[str]] = {}
    for p in sorted(set(pieces), key=lambda p: (-len(p), p)):
        by_first.setdefault(p[0], []).append(p)

    def fn(it):
        for pdf in it:
            counts = []
            for w in pdf["w"]:
                n = 0
                i = 0
                end = len(w)
                while i < end:
                    step = 1
                    for p in by_first.get(w[i], ()):
                        if w.startswith(p, i):
                            step = len(p)
                            break
                    n += 1
                    i += step
                counts.append(n)
            out = pdf.copy()
            out["n_greedy"] = counts
            yield out

    schema = StructType(
        words_df.schema.fields + [StructField("n_greedy", LongType(), False)]
    )
    return words_df.mapInPandas(fn, schema)
