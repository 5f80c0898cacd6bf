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

Training: `bpe_merges_distributed` and `wordpiece_merges_distributed` share
one word-table build and one merge loop (`_train_merges`) and differ only
in the per-round argmax (raw pair count vs the fixed-point likelihood
score).  The loop's argmax and rewrite run on the driver for word tables
up to SMALL_VOCAB_THRESHOLD rows and as Spark rounds above it.
`learn_bpe_merges` is the BPE trainer's merges as a Python list.
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
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from the corpus itself: the (left, right)
    pairs of `bpe_merges_distributed` in rank order, pre-tokenized with
    `pattern` (default `text.BPE_PATTERN`, the encoder's own regex).
    Feed the result to `save_merges` + `real_bpe_token_count_col` (same
    pre-token pattern, so "what a word is" never changes between learn
    and apply)."""
    rows = bpe_merges_distributed(df, text_col, n_merges, pattern=pattern).collect()
    return [(r["left"], r["right"]) for r in sorted(rows, key=lambda r: r["rank"])]


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

# Word tables at or below this row count run the merge loop's argmax and
# rewrite on the driver (round 12): 8 merge rounds were paying 2 Spark
# jobs each (argmax collect + Arrow rewrite checkpoint) for a table the
# driver folds in milliseconds, with bit-identical results (pinned on
# both sides of the gate in tests/test_round8_ops.py,
# tests/test_round9_ops.py and tests/test_round12_ops.py).  Same adaptive
# convention as graph.SMALL_GRAPH_EDGE_THRESHOLD: the gate is the count
# of the already-checkpointed word table — the quantity whose
# corpus-sublinearity (Heaps' law) the trainer design itself argues —
# never a core count; byte-noise corpora past the gate keep the
# distributed rounds.  50k (word, freq) rows keeps the Python pair-count
# fold well under a second per round.
SMALL_VOCAB_THRESHOLD = 50_000

_BPE_MERGES_DDL = "rank int, left string, right string, merged string, pair_count long"
_WP_MERGES_DDL = _BPE_MERGES_DDL + ", left_count long, right_count long, score_q long"


def _bpe_best_pair(vocab: dict[tuple[str, ...], int]) -> tuple[str, str, int] | None:
    """Driver BPE argmax over a word-frequency dict: max pair count, ties
    on the UTF-8 bytes of (left, right) ASC — the distributed round's
    ORDER BY."""
    counts: dict[tuple[str, str], int] = {}
    for syms, fq in vocab.items():
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + fq
    if not counts:
        return None
    (a, b), c = min(
        counts.items(),
        key=lambda kv: (-kv[1], kv[0][0].encode("utf-8"), kv[0][1].encode("utf-8")),
    )
    return a, b, c


def _wp_best_pair(
    vocab: dict[tuple[str, ...], int], min_pair_count: int = 1
) -> tuple[str, str, int, int, int, int] | None:
    """Exact-bigint WordPiece argmax over a word-frequency dict: the pair
    maximizing the quantized likelihood score, ties broken by pair count
    DESC then (left, right) UTF-8 bytes ASC — the same total order the
    distributed round and the DuckDB oracle sort by."""
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


def _pair_counts(cur):
    """(l, r, c): adjacent-pair counts of a (w, freq, syms) word table."""
    return (
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


def _first(ranked) -> tuple | None:
    """The top row of an ordered frame as plain Python values."""
    best = ranked.limit(1).collect()
    return None if not best else tuple(
        v if isinstance(v, str) else int(v) for v in best[0]
    )


def _bpe_best_row(cur) -> tuple[str, str, int] | None:
    """Distributed BPE argmax: max count, then the UTF-8 BYTES of (l, r)
    ASC.  Spark compares strings by UTF-16 code units, DuckDB/Python by
    code point / UTF-8 binary — these diverge for supplementary-plane
    characters (emoji), so the order is on a binary-stable key to keep
    trainer / oracle / pure-python reference identical on any corpus.
    The oracle's `ORDER BY l ASC, r ASC` IS UTF-8 binary order (DuckDB's
    default collation)."""
    return _first(
        _pair_counts(cur).orderBy(
            F.desc("c"), F.asc(F.encode("l", "utf-8")), F.asc(F.encode("r", "utf-8"))
        )
    )


def _wp_best_row(cur, min_pair_count: int) -> tuple[str, str, int, int, int, int] | None:
    """Distributed WordPiece argmax: unigram and pair counts over the word
    table, two symbol-keyed joins of those small frames, the fixed-point
    score, then `_bpe_best_row`'s binary-stable ties behind score and
    count."""
    uni = (
        cur.select("freq", F.explode("syms").alias("s"))
        .groupBy("s")
        .agg(F.sum("freq").alias("u"))
    )
    return _first(
        _pair_counts(cur)
        .filter(F.col("c") >= int(min_pair_count))
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
        .orderBy(
            F.desc("score_q"),
            F.desc("c"),
            F.asc(F.encode("l", "utf-8")),
            F.asc(F.encode("r", "utf-8")),
        )
    )


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


def _train_merges(
    df,
    text_col: str,
    n_merges: int,
    return_vocab: bool,
    pattern: str | None,
    name: str,
    merges_ddl: str,
    driver_best,
    spark_best,
):
    """The merge loop both trainers share; they differ only in the argmax.

    One corpus-size pass builds the distinct-word table (w, freq, syms).
    Each round then picks the winning pair — `driver_best(vocab)` on a
    driver dict when the table is at or below SMALL_VOCAB_THRESHOLD rows,
    else `spark_best(word_table)` as a LIMIT-1 Spark query — and rewrites
    every word greedily left-to-right (`_merge_word` on the driver, the
    Arrow kernel `_apply_merge_kernel` on Spark, checkpointed per round).
    An argmax returns (left, right, *merge-row extras) or None when no
    pair qualifies, which ends the loop."""
    from era_parser_spark.operators.dedup import tokens_col

    spark = df.sparkSession
    pre_tok = (
        tokens_col(F.col(text_col))
        if pattern is None
        else F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)
    )
    cur = (
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
        .localCheckpoint(eager=True)
    )
    vocab = None
    if cur.count() <= SMALL_VOCAB_THRESHOLD:
        vocab = {
            tuple(str(r["w"])): int(r["freq"])
            for r in cur.select("w", "freq").collect()
        }
    out_rows: list[tuple] = []
    seen_merged: set[str] = set()
    for rank in range(1, n_merges + 1):
        best = driver_best(vocab) if vocab is not None else spark_best(cur)
        if best is None:
            break
        a, b = best[0], best[1]
        # The t32 relational-encode equivalence ("rank-order application
        # never creates an earlier-rank pair") argues by symbol IDENTITY,
        # but bpe_encode_word keys ranks by symbol STRINGS: if two
        # different merges mint the same merged string (e.g. 'abc' via
        # (ab,c) and via (a,bc)), the encoder can see an "earlier-rank"
        # string pair the trainer's argument excludes and silently
        # diverge.  Refuse such corpora loudly (round-8 advice).
        if a + b in seen_merged:
            raise ValueError(
                f"{name} merge round {rank} re-mints merged token {a + b!r} "
                "(two distinct merges produce the same string); the "
                "word-table segmentation would diverge from bpe_encode_word "
                "on this corpus — reduce n_merges or encode with the vocab "
                "table (return_vocab=True) instead"
            )
        seen_merged.add(a + b)
        out_rows.append((rank, a, b, a + b, *best[2:]))
        if vocab is not None:
            merged: dict[tuple[str, ...], int] = {}
            for syms, fq in vocab.items():
                m = _merge_word(syms, (a, b))
                merged[m] = merged.get(m, 0) + fq
            vocab = merged
        else:
            cur = cur.mapInPandas(
                _apply_merge_kernel(a, b), cur.schema
            ).localCheckpoint(eager=True)
    merges_df = rows_frame(spark, out_rows, merges_ddl)
    if not return_vocab:
        return merges_df
    if vocab is not None:
        # words are distinct, so each syms key maps back to one word
        cur = rows_frame(
            spark,
            [("".join(syms), fq, list(syms)) for syms, fq in vocab.items()],
            "w string, freq long, syms array<string>",
        )
    return merges_df, cur


def bpe_merges_distributed(
    df,
    text_col: str,
    n_merges: int = 8,
    return_vocab: bool = False,
    pattern: str | None = None,
):
    """BPE merge training (Sennrich et al. 2016) with the merge LOOP able
    to run distributed, for corpora whose pre-token vocabulary does not
    fit a driver (byte-noise multilingual web text at 100 TB can reach
    1e8-1e9 distinct words; Heaps' law only bounds CLEAN corpora).

    One corpus-size pass builds the distinct-word frequency table
    (explode + map-side-combined groupBy — the only stage that sees
    corpus volume); each of the n_merges rounds then runs ON the word
    table: an adjacent-pair count (integer sum of word freqs), a
    deterministic argmax (max count, then lexicographically smallest
    (left, right) — UTF-8 binary order, identical in Spark / DuckDB /
    Python), and a greedy left-to-right rewrite.  Past
    SMALL_VOCAB_THRESHOLD words only the single winning pair is ever
    collected per round (the s16 tiny-artifact convention) and the word
    table is localCheckpoint'ed per round so round r+1 does not recompute
    rounds 1..r; at or below it the rounds run on the collected table
    (`_train_merges`).

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
    against bpe_encode_word in tests/test_round8_ops.py).  A corpus on
    which two merges mint the same string raises ValueError.
    """
    return _train_merges(
        df, text_col, n_merges, return_vocab, pattern,
        "BPE", _BPE_MERGES_DDL, _bpe_best_pair, _bpe_best_row,
    )


def wordpiece_merges_distributed(
    df,
    text_col: str,
    n_merges: int = 8,
    return_vocab: bool = False,
    pattern: str | None = None,
    min_pair_count: int = 1,
):
    """WordPiece merge training (Schuster & Nakajima 2012, the BERT rule):
    `bpe_merges_distributed` with the likelihood selection rule — each
    round picks the pair maximizing count(ab) / (count(a) * count(b)),
    the greedy unigram-LM-likelihood gain, instead of BPE's raw
    count(ab).  Rare-but-always-together symbol pairs win over
    frequent-but-independent ones — the property that gives BERT-style
    vocabularies their morpheme bias.

    The score is the exact fixed-point integer
    ``(c * 10^18) intdiv (u_left * u_right)``: numerator and denominator
    products run in DECIMAL(38,0) (Spark's IntegralDivide on decimals is
    exact and returns BIGINT — verified equal to DuckDB's HUGEINT ``//``
    and Python's ``//``), and since c <= min(u_left, u_right) the
    quotient is <= 10^18, always a BIGINT.  No floats anywhere, so the
    distributed round, the driver argmax `_wp_best_pair` and the DuckDB
    oracle agree bit-for-bit on any corpus up to ~10^19 tokens.  Score
    collisions below the 1e-18 quantum fall to the deterministic
    tie-break (count DESC, then pair UTF-8 bytes ASC) — the documented
    house fixed-point convention (t17/p16), not float argmax.

    Per distributed round the work stays O(word table), never O(corpus):
    one unigram count + one adjacent-pair count over the distinct-word
    frequency table (both map-side combined), two symbol-keyed joins of
    those two SMALL frames, a LIMIT-1 argmax, and the same greedy rewrite
    as BPE — the 8x rehearsal's volume-independence argument for t31
    carries over unchanged.

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
    return _train_merges(
        df, text_col, n_merges, return_vocab, pattern,
        "WordPiece", _WP_MERGES_DDL,
        lambda vocab: _wp_best_pair(vocab, min_pair_count),
        lambda cur: _wp_best_row(cur, min_pair_count),
    )


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
