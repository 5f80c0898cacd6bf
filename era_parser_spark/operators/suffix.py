"""Distributed suffix-array construction — prefix doubling (Manber-Myers
1990, the standard O(n log n) construction; public algorithm re-derived
for DataFrames).

Why it exists: dd10/dd16 approximate substring dedup with fixed-l grams;
a suffix array is the EXACT substring index those methods approximate
(Lee et al.'s deduplication pipeline builds one).  Prefix doubling is
the construction that survives distribution: every round is one
position-arithmetic lead window plus one rank — no suffix strings are
ever materialized or compared, only integer rank tuples, so a round's
shuffle carries (doc, pos, rank) longs regardless of token sizes.

A round upgrades ranks from off-token prefixes to 2^f * off: each
position pairs its rank with the ranks off, 2*off, ... ahead — `lead(r,
k*off)` over the document's position order, NOT a self-join: the lead
shares the document window's partitioning, so it costs one in-partition
sort and zero extra exchanges.  A missing lead (suffix end) becomes -1,
which orders a shorter suffix before any extension — exactly
lexicographic suffix order.  After ceil(log2(max doc tokens)) levels
every rank is distinct; the result is the suffix array as (doc, pos,
suffix_rank) with suffix_rank = 1..n_tokens per doc.

Both loops — `suffix_ranks` (ranks per document) and
`global_suffix_ranks` (ranks over the corpus) — run ONE round body,
`_doubling_round`: f = min(3, doublings still needed) levels off one lead
window pass, the intermediate levels as lazy int64 composites, the last
one ranked once.  The rank frame of every round is localCheckpoint'ed, or
projects a checkpointed lead frame (the CC-edges precedent), so round k+1
does not recompute rounds 1..k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from era_parser_spark.operators.dedup import tokens_col
from era_parser_spark.session import rows_frame

# Pair count above which the LCP walks switch from the lazy single-job
# chain to the level-skip + per-level-checkpoint strategy (see
# `_lcp_walk`).  Module-level so tests can force the big walk on a small
# fixture and pin strategy equivalence (tests/test_round11_ops.py
# monkeypatches it to 0).
BIG_WALK_PAIR_THRESHOLD = 1_000_000

# Exclusive upper bound on the int64 composite rank r*K + (r2+1), K = max
# dense rank + 2: composite levels and the terminal composite are taken
# only while K*K is below it (per-doc K is the longest document; global K
# is the corpus position count, so the bound binds past ~3e9 positions).
# Past it every round is a one-level round.  Module-level so tests can
# force that path on a small fixture (tests/test_suffix.py sets it to 0).
COMPOSITE_BOUND = (1 << 63) - 1


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __t) for every document with at least one token — the suffix
    tier's one document filter (`tokens_col` tokenization)."""
    return (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.col(id_col), tokens_col(F.col(text_col)).alias("__t"))
        .filter(F.size("__t") >= 1)
    )


def _with_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    per_doc: DataFrame,
    col: str,
    max_doc_tokens: int | None,
    routed: bool = False,
) -> DataFrame:
    """Every tokenizable document of df with its ``col`` value from
    per_doc, 0 where per_doc has none.  Documents over ``max_doc_tokens``
    report NULL (skipped — never a silently-wrong 0), or, with
    ``routed=True``, keep their value and gain a ``routed`` flag (they
    went through chunking)."""
    sizes = _tokenized(df, id_col, text_col).select(
        id_col, F.size("__t").alias("__sz")
    )
    over = (
        F.col("__sz") > max_doc_tokens if max_doc_tokens is not None else F.lit(False)
    )
    value = F.coalesce(col, F.lit(0))
    if not routed:
        value = F.when(over, F.lit(None)).otherwise(value)
    cols = [value.cast("long").alias(col)] + ([over.alias("routed")] if routed else [])
    return sizes.join(per_doc, id_col, "left").select(F.col(id_col), *cols)


def _composite(keys: list[str], comp_k: int):
    """Order-preserving int64 rank of the tuple ``keys`` (dense ranks
    < comp_k - 1, or the -1 sentinel): a pair is r*K + (r2+1), so
    composite equality <=> tuple equality.  A 4-tuple is a STRUCT of two
    pair composites (K^4 overflows one int64; the LCP walk tests
    equality only, and struct equality <=> 4-tuple equality)."""
    pairs = [
        F.col(a) * F.lit(comp_k) + F.col(b) + F.lit(1)
        for a, b in zip(keys[::2], keys[1::2])
    ]
    if len(pairs) == 1:
        return pairs[0]
    return F.struct(*[p.alias(f"c{i}") for i, p in enumerate(pairs)])


def _doubling_round(cur, id_col, off, max_len, comp_k, composite_final, rank):
    """One prefix-doubling round over ``cur`` = (id, pos, r), ranks of
    off-token prefixes — the one round body of both loops.

    f = min(3, doublings still needed to reach max_len) levels run off
    ONE lead window pass: leads at off .. (2^f - 1)*off give the rank of
    the 2^j*off-token prefix as the 2^j-tuple (r, r2, ...) (nested
    pairing identities; -1 sentinels compose, a shorter suffix's (-1, ..)
    tail orders before any continuation).  The intermediate levels j < f
    enter the history as lazy `_composite` projections of the lead frame
    (the walks need equality only); the 2^f-tuple is ranked once by
    ``rank(paired, keys, materialized) -> (frame, n_classes)``.  Per
    three levels that is one window sort, one rank and one early-stop
    check instead of three — fused rounds cut t35's construction shuffle
    at 8x from 457 to 313 MB (docs/PLANS.md round 10).  f = 2 only
    replaces a 3-level round that would overshoot max_len, so the round
    count is that of the 3-level loop.

    Terminal composite (``composite_final``, for history-mode callers):
    when one level is left, the composite r*K + (r2+1) is not only
    equality-exact but ORDER-preserving, so it IS the final rank table —
    the last rank (window sort or range shuffle + offsets collect) is
    skipped.  Callers that need dense 1..n ranks (t33's contract) leave
    it off.

    Where K^2 reaches COMPOSITE_BOUND, f is 1 and the terminal composite
    is off.  The lead frame is checkpointed exactly when a lazy projection
    of it enters the history.  Returns (levels, n_classes): the history
    entries [(L, (id, pos, r))] this round adds, the last one the new
    rank frame, and rank's class count (None for a terminal composite)."""
    fits = comp_k * comp_k < COMPOSITE_BOUND
    f = 1
    while fits and f < 3 and off << f < max_len:
        f += 1
    terminal = composite_final and fits and f == 1
    w = Window.partitionBy(id_col).orderBy("pos")
    keys = ["r"] + [f"r{k + 1}" for k in range(1, 1 << f)]
    paired = cur.select(
        id_col,
        "pos",
        "r",
        *[
            F.coalesce(F.lead("r", k * off).over(w), F.lit(-1)).alias(f"r{k + 1}")
            for k in range(1, 1 << f)
        ],
    )
    materialized = f > 1 or terminal
    if materialized:
        paired = paired.localCheckpoint(eager=True)
    levels = [
        (
            off << j,
            paired.select(id_col, "pos", _composite(keys[: 1 << j], comp_k).alias("r")),
        )
        for j in range(1, f + terminal)
    ]
    if terminal:
        return levels, None
    ranked, n_classes = rank(paired, keys, materialized)
    return levels + [(off << f, ranked)], n_classes


def suffix_ranks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    return_history: bool = False,
    max_doc_tokens: int | None = None,
):
    """(id, pos, suffix_rank): rank of the token-level suffix starting at
    1-based position pos within its document, 1 = lexicographically
    smallest.  Whitespace/lowercase tokenization (`tokens_col`); suffix
    order compares TOKEN SEQUENCES element-wise (shorter prefix first) —
    the DuckDB oracle's list-slice ordering, ties impossible (suffixes
    of one document have distinct lengths).

    ``return_history=True`` returns (out, history, n_rows): history is
    [(L, (id, pos, r))], ranks of exactly L-token prefixes for L = 1, 2,
    4, ... — the binary-decomposition tables the LCP walk consumes — and
    n_rows the position count.  A last round with one level left is then
    a terminal composite (see `_doubling_round`), so suffix_rank orders
    suffixes but need not be dense.

    Scale guard: `Window.partitionBy(id_col)` serializes each document
    into ONE task — a pathological 10M-token document stalls the stage
    and can OOM the per-task sort.  Pass ``max_doc_tokens`` to SKIP (not
    fail) documents over the cap, the mm3 codec-gate pattern: skipped
    docs simply emit no rows here, and `longest_repeated_span` flags them
    with ``longest_repeat = NULL`` so a caller can route them to a
    chunked / l-gram fallback (dd10, t29) instead.  Web-scale corpora
    should set this (e.g. 1_000_000); the registry entries leave it off
    because the testdata is bounded."""
    toks = _tokenized(df, id_col, text_col)
    if max_doc_tokens is not None:
        toks = toks.filter(F.size("__t") <= max_doc_tokens)
    pos = toks.select(
        id_col,
        F.posexplode("__t").alias("__i0", "__tok"),
    ).select(id_col, (F.col("__i0") + 1).alias("pos"), "__tok")
    w = Window.partitionBy(id_col)
    # no doc length rides a loop frame: both loop bounds come from one
    # tiny aggregate, and the early stop compares max(r) to max(pos)
    cur = pos.select(
        id_col,
        "pos",
        F.dense_rank().over(w.orderBy("__tok")).alias("r"),
    ).localCheckpoint(eager=True)
    agg = toks.agg(
        F.sum(F.size("__t")).alias("__s"), F.max(F.size("__t")).alias("__m")
    ).first()
    n_rows = int(agg["__s"] or 0)
    max_len = int(agg["__m"] or 1)

    def rank(paired, keys, _materialized):
        ranked = paired.select(
            id_col, "pos", F.dense_rank().over(w.orderBy(*keys)).alias("r")
        ).localCheckpoint(eager=True)
        return ranked, None

    history = [(1, cur)]
    off = 1
    while off < max_len:
        # early stop: when every document's ranks are already distinct
        # (dense-rank max == n), the suffix order is fully determined and
        # no later level could separate anything — in real text this
        # triggers once 2^k exceeds the longest repeated span (typically
        # k ~ 3-4), not at log2(max doc length).  Sound for the LCP walk
        # too: all-distinct at prefix length `off` means every LCP is
        # < off, and levels 1..off are already in the history.
        all_distinct = (
            cur.groupBy(id_col)
            .agg((F.max("r") == F.max("pos")).alias("__ok"))
            .agg(F.min(F.col("__ok").cast("int")))
            .first()[0]
        )
        if all_distinct == 1:
            break
        levels, _ = _doubling_round(
            cur, id_col, off, max_len, max_len + 2, return_history, rank
        )
        history += levels
        off, cur = levels[-1]
    out = cur.select(
        F.col(id_col),
        F.col("pos").cast("long").alias("pos"),
        F.col("r").cast("long").alias("suffix_rank"),
    )
    if return_history:
        return out, history, n_rows
    return out


def longest_repeated_span(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_tokens: int | None = None,
) -> DataFrame:
    """EXACT longest repeated token span per document — the quantity
    t29's Gopher repetition ratios and dd10's fixed-l spans approximate.

    Suffix-array theory: the longest repeated substring is the maximum
    LCP over RANK-ADJACENT suffix pairs (any repeated span is a common
    prefix of two suffixes, and the closest pair in suffix order
    maximizes it).  The LCP of each adjacent pair comes from `_lcp_walk`
    over the prefix-doubling rank tables, with the document id as both
    sides' rank-table key.  Token text never rides any shuffle, same as
    the construction.  Same-doc suffixes have distinct lengths and
    distinct final ranks, so every pair is one the walk handles exactly.

    Output: (id, longest_repeat) for every tokenizable document, 0 when
    nothing repeats (incl. single-token docs); NULL for documents skipped
    by ``max_doc_tokens`` (see `suffix_ranks` — route those to dd10/t29's
    l-gram approximations instead).
    """
    ranks, history, n_rows = suffix_ranks(
        df, id_col, text_col, return_history=True, max_doc_tokens=max_doc_tokens
    )
    w = Window.partitionBy(id_col)
    # rank-adjacent pairs (i, j) of consecutive suffixes; remaining
    # lengths ride along for the big walk's level skip (max pos over the
    # same partition shares the lead's exchange)
    pairs = ranks.select(
        id_col,
        F.col("pos").alias("i"),
        F.lead("pos").over(w.orderBy("suffix_rank")).alias("j"),
        F.max("pos").over(w).alias("__n"),
    ).filter(F.col("j").isNotNull())
    pairs = pairs.select(
        id_col,
        "i",
        "j",
        (F.col("__n") - F.col("i") + 1).alias("rem_a"),
        (F.col("__n") - F.col("j") + 1).alias("rem_b"),
        F.lit(0).cast("long").alias("lcp"),
    )
    cols = [id_col, "i", "j", "rem_a", "rem_b", "lcp"]
    pairs = _lcp_walk(pairs, cols, history, id_col, id_col, id_col, n_rows)
    per_doc = pairs.groupBy(id_col).agg(F.max("lcp").alias("longest_repeat"))
    # single-token docs have no adjacent pair; they still report 0
    return _with_docs(df, id_col, text_col, per_doc, "longest_repeat", max_doc_tokens)


# --- Cross-document (global) suffix machinery --------------------------------
#
# The per-doc functions above rank suffixes WITHIN a document — their window
# partitions by doc id, which is also what bounds their parallelism.  The
# cross-doc operators below need ONE suffix order over the whole corpus; a
# naive `Window.orderBy(...)` (no partition key) moves the corpus to a single
# task, so global ranks are built with a range-partitioned two-phase rank:
# equal keys co-locate under a RangePartitioner, a vectorized Arrow pass
# assigns partition-local dense ranks, and a tiny per-partition max-rank
# artifact (n_parts rows, the s16 tiny-collect convention) turns them global.
# ONE long-only shuffle per call, any number of executors.


def _shuffle_parts(df: DataFrame, n_parts: int | None) -> int:
    if n_parts is not None:
        return n_parts
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _local_dense_rank_fn(key_cols: list[str]):
    """mapInPandas kernel: partition-local dense rank over key_cols.

    Input is sorted by key_cols within the partition (sortWithinPartitions
    ran before the frozen localCheckpoint); batches stream in partition
    order, so a (last key, running rank) carry across batches is exact.
    Vectorized: shift-compare + cumsum, never per-row Python.
    """

    def fn(it):
        carry_key: tuple | None = None
        carry_rank = 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            change = None
            for c in key_cols:
                ch = pdf[c].ne(pdf[c].shift())
                change = ch if change is None else (change | ch)
            first_key = tuple(pdf[c].iloc[0] for c in key_cols)
            change.iloc[0] = carry_key is None or first_key != carry_key
            lr = change.cumsum().astype("int64") + carry_rank
            carry_rank = int(lr.iloc[-1])
            carry_key = tuple(pdf[c].iloc[-1] for c in key_cols)
            out = pdf.copy()
            out["__lr"] = lr
            yield out

    return fn


def global_dense_rank(
    df: DataFrame,
    key_cols: list[str],
    n_parts: int | None = None,
    input_materialized: bool = False,
) -> tuple[DataFrame, int]:
    """(df + '__gr' long, n_classes): global dense_rank over key_cols with
    NO single-partition stage.  Range-partition by the keys (equal keys
    land in one partition, so rank classes never straddle partitions),
    sort within partitions, localCheckpoint (freezes partition identity
    for spark_partition_id AND feeds the two branches below once), one
    Arrow pass for local dense ranks, then global = local + cumulative
    per-partition class-count offset (a collected n_parts-row artifact,
    applied via a broadcast join).

    ``input_materialized=True`` (round 12): when the CALLER's df is
    already an eager checkpoint (the fused construction rounds hand in
    the materialized lead frame), the post-shuffle checkpoint here is a
    redundant materialize+read round trip — the RangePartitioner's
    sampling pass scans the caller's checkpoint cheaply either way, and
    the Arrow pass fuses into the shuffle's single job (partition
    identity is stable within that one job; `loc` is checkpointed
    before the offsets collect and the join branch consume it).  With a
    LAZY input the round-9 measurement stands (sampling re-executes the
    window subtree; t35 31.2 -> ~39 s) — keep the default."""
    n_parts = _shuffle_parts(df, n_parts)
    part = df.repartitionByRange(n_parts, *key_cols).sortWithinPartitions(
        *key_cols
    )
    if not input_materialized:
        part = part.localCheckpoint(eager=True)
    pidd = part.withColumn("__pid", F.spark_partition_id())
    out_schema = StructType(
        pidd.schema.fields + [StructField("__lr", LongType(), False)]
    )
    loc = pidd.mapInPandas(
        _local_dense_rank_fn(key_cols), out_schema
    ).localCheckpoint(eager=True)
    offs_rows = sorted(
        loc.groupBy("__pid").agg(F.max("__lr").alias("__m")).collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc = [], 0
    for r in offs_rows:
        offsets.append((int(r["__pid"]), acc))
        acc += int(r["__m"])
    spark = df.sparkSession
    offs_df = rows_frame(spark, offsets, "__pid int, __off long")
    ranked = (
        loc.join(F.broadcast(offs_df), "__pid")
        .withColumn("__gr", F.col("__lr") + F.col("__off"))
        .drop("__pid", "__lr", "__off")
    )
    return ranked, acc


def _adjacent_pairs(
    df: DataFrame, key_cols: list[str], n_parts: int | None = None
) -> DataFrame:
    """Consecutive-row pairs of df in global key_cols order (keys must be
    UNIQUE per row), as (a_<col>..., b_<col>...) — WITHOUT global row
    numbers or a self-join: one range shuffle + sort, an Arrow pass emits
    within-partition consecutive pairs, and the n_parts-1 cross-partition
    boundary pairs are stitched from a collected per-partition first/last
    row artifact (min_by/max_by over the key struct, tiny)."""
    n_parts = _shuffle_parts(df, n_parts)
    cols = df.columns
    part = (
        df.repartitionByRange(n_parts, *key_cols)
        .sortWithinPartitions(*key_cols)
        .localCheckpoint(eager=True)
    )
    pidd = part.withColumn("__pid", F.spark_partition_id())
    pair_schema = StructType(
        [StructField(f"a_{f.name}", f.dataType, f.nullable) for f in df.schema.fields]
        + [StructField(f"b_{f.name}", f.dataType, f.nullable) for f in df.schema.fields]
    )

    def fn(it):
        import pandas as pd

        carry = None
        for pdf in it:
            pdf = pdf.drop(columns=["__pid"])
            if len(pdf) == 0:
                continue
            cur = (
                pd.concat([carry, pdf], ignore_index=True)
                if carry is not None
                else pdf
            )
            if len(cur) >= 2:
                a = cur.iloc[:-1].reset_index(drop=True).add_prefix("a_")
                b = cur.iloc[1:].reset_index(drop=True).add_prefix("b_")
                yield pd.concat([a, b], axis=1)
            carry = cur.iloc[[-1]]

    within = pidd.mapInPandas(fn, pair_schema)
    fl = sorted(
        pidd.groupBy("__pid")
        .agg(
            F.min_by(F.struct(*cols), F.struct(*key_cols)).alias("__first"),
            F.max_by(F.struct(*cols), F.struct(*key_cols)).alias("__last"),
        )
        .collect(),
        key=lambda r: r["__pid"],
    )
    boundary_rows = [
        tuple(fl[i]["__last"][c] for c in cols)
        + tuple(fl[i + 1]["__first"][c] for c in cols)
        for i in range(len(fl) - 1)
    ]
    boundary = rows_frame(df.sparkSession, boundary_rows, pair_schema)
    return within.unionByName(boundary)


def global_suffix_ranks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_parts: int | None = None,
    max_doc_tokens: int | None = None,
    return_history: bool = False,
):
    """(id, pos, r, __n): GLOBAL suffix ranks over the whole corpus — the
    rank compares token suffixes ACROSS documents (each document's suffix
    ends at its own end; a shorter suffix orders before any extension,
    the -1 sentinel, exactly the per-doc semantics).  Unlike the per-doc
    `suffix_ranks`, ranks are dense over the corpus and TIE exactly when
    two (necessarily cross-doc, equal-length) suffixes are identical.

    Same prefix doubling and the same round body (`_doubling_round`) as
    `suffix_ranks`, with the per-doc dense-rank window replaced by
    `global_dense_rank` — per round: one doc-window lead (shuffle on doc
    id) + one range shuffle, both carrying (doc, pos, rank) longs only;
    token text rides exactly one shuffle total (the initial token
    ranking).  The composite base K is n_rows + 2 (dense ranks are <=
    n_rows), so fused and terminal-composite rounds stop past ~3e9
    positions per call (COMPOSITE_BOUND) and the loop degrades to
    one-level rounds instead of overflowing.  Checkpointing the lead
    frame before a fused round's range shuffle also stops the
    RangePartitioner's sampling pass from re-executing the window
    subtree.

    Early stop at the CLASS FIXED POINT (the class count stops growing):
    per-doc all-distinct never happens when identical cross-doc suffixes
    exist, but once no class splits, no later level can split one either
    (rank refinement is monotone), and at the fixed point rank-equal <=>
    suffixes identical — which is what `longest_cross_doc_span`'s
    equal-rank shortcut relies on.  A fixed-point round adds nothing to
    the history (a fixed point at 2^f*off implies it at every level in
    between) and the previous rank frame stays final.

    ``return_history=True`` returns (out, history, n_rows) and takes a
    last one-level round as a terminal composite: the walks and the adjacency
    need order + equality only, and composite equality at a level >=
    max_len <=> identical suffixes, the eq-pair contract.  The default
    output keeps dense suffix_rank values (pinned in
    tests/test_round9_ops.py).
    """
    toks = _tokenized(df, id_col, text_col)
    if max_doc_tokens is not None:
        toks = toks.filter(F.size("__t") <= max_doc_tokens)
    # doc lengths ride no loop frame: they re-attach at the end via a
    # join (AQE broadcasts the tiny per-doc frame when it fits)
    doc_lens = toks.select(
        F.col(id_col), F.size("__t").cast("long").alias("__n")
    )
    pos = toks.select(
        F.col(id_col),
        F.posexplode("__t").alias("__i0", "__tok"),
    ).select(id_col, (F.col("__i0") + 1).cast("long").alias("pos"), "__tok")
    # ONE action for both loop bounds: total positions and max_len
    agg = doc_lens.agg(
        F.sum("__n").alias("__s"), F.max("__n").alias("__m")
    ).first()
    n_rows = int(agg["__s"] or 0)
    max_len = int(agg["__m"] or 1)
    ranked, n_classes = global_dense_rank(pos, ["__tok"], n_parts)
    cur = ranked.select(id_col, "pos", F.col("__gr").alias("r"))

    def rank(paired, keys, materialized):
        gr, n = global_dense_rank(
            paired, keys, n_parts, input_materialized=materialized
        )
        return gr.select(id_col, "pos", F.col("__gr").alias("r")), n

    history = [(1, cur)]
    off = 1
    # a terminal composite ends the loop: it is taken only when one
    # doubling is left, so off >= max_len after it
    while off < max_len and n_classes < n_rows:
        levels, new_classes = _doubling_round(
            cur, id_col, off, max_len, n_rows + 2, return_history, rank
        )
        if new_classes == n_classes:
            break
        history += levels
        off, cur = levels[-1]
        n_classes = new_classes
    out = cur.join(doc_lens, id_col)
    if return_history:
        # n_rows (total positions == rank-table rows) lets the LCP walks
        # decide broadcast safety without re-counting
        return out, history, n_rows
    return out.select(
        F.col(id_col),
        F.col("pos"),
        F.col("r").alias("suffix_rank"),
        F.col("__n").alias("doc_tokens"),
    )


def longest_cross_doc_span(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_parts: int | None = None,
    max_doc_tokens: int | None = None,
) -> DataFrame:
    """EXACT longest token span each document shares VERBATIM with any
    OTHER document — the quantity dd10/dd16's fixed-l grams approximate
    from below (every detected l-gram span is a lower bound; pinned in
    tests) and the decision quantity for ExactSubstr-style cross-doc
    deduplication (Lee et al. 2021 build exactly this suffix structure).

    Suffix-array theory: the max cross-doc LCP is achieved at a pair of
    suffixes ADJACENT in global suffix order with different doc ids —
    between any cross-doc pair (p, q) there is an adjacent doc-boundary
    pair inside [p, q] whose LCP is >= LCP(p, q) (LCP(p, q) is the min of
    the adjacent LCPs between them), and one can always pick a boundary
    involving p's own document (take the LAST suffix of p's doc before
    q), so even the PER-DOC max over adjacent cross-doc pairs is exact.

    Adjacent-pair LCPs come from `_lcp_walk` over the prefix-doubling
    rank history, as in `longest_repeated_span` — except suffixes
    from DIFFERENT docs can be fully identical (equal final rank at the
    class fixed point), where the level walk under-counts (the history
    stops at the fixed point, below the true common length): those pairs
    short-circuit to min(remaining lengths), which IS their LCP.  For
    rank-distinct pairs the walk is exact: every level match is a true
    L-prefix match (an identical-remainder match would force identical
    full suffixes, i.e. equal final ranks).

    Output: (id, longest_shared) for every tokenizable document, 0 when
    nothing is shared (incl. a single-document corpus), NULL for docs
    skipped by ``max_doc_tokens`` (route those through
    `longest_cross_doc_span_chunked` to keep them in the tier).
    """
    per_doc = _cross_group_spans(
        df, id_col, text_col, n_parts=n_parts, max_doc_tokens=max_doc_tokens
    )
    return _with_docs(df, id_col, text_col, per_doc, "longest_shared", max_doc_tokens)


def _lcp_walk(
    ne: DataFrame,
    ne_cols: list[str],
    history,
    rank_id_col: str,
    a_id: str,
    b_id: str,
    rank_rows: int,
) -> DataFrame:
    """Binary-decomposition LCP walk over rank-DISTINCT suffix pairs —
    the one walk of the per-doc (t34), cross-group (t35/t39) and
    chunked-repeat (t40) paths: for L = 2^k descending, if the L-prefix
    ranks at the pair's current offsets are equal, add L — O(log n)
    levels, each ONE equi-join per side against the L-rank table on
    (id, pos = start + lcp), shuffling (id, pos, rank) longs only.

    ``ne`` carries (a_id, i, b_id, j, rem_a, rem_b, lcp=0, *extras) with
    (a_id, i) / (b_id, j) the unit-local (rank-table id, position) of
    each suffix; extras ride untouched.  Same-document pairs pass the
    one id column as both a_id and b_id.  ``history`` is the
    prefix-doubling rank-table list [(L, (rank_id_col, pos, r))].

    Walk strategy (round 10), picked by ``rank_rows``, the position
    count: it is the size of every history rank table AND bounds the
    pair count (adjacent pairs over n positions are < n + n_parts), so
    no caller runs a counting job:
    * SMALL (bench-scale) corpora: the round-9 lazy single-job chain —
      per-level materializations are pure fixed overhead there
      (measured 13 vs 25 s at sf0.1).
    * LARGE corpora: per-level LEVEL SKIP + checkpoint.  For RANK-
      DISTINCT pairs, level-L equality is impossible unless
      lcp + L <= min(remaining lengths) — an asymmetric-length pair
      mismatches on the -1 sentinel components, and a both-short equal
      pair would mean identical full suffixes, contradicting distinct
      final ranks.  Pairs that can't match skip the probe (lcp
      unchanged); the checkpoint both bounds the probe/rest two-branch
      plan (2^levels subtree explosion otherwise — it OOMed the driver)
      and lets AQE see the true shrunken probe sizes and broadcast
      them instead of shuffling the full rank table: total t35 shuffle
      measured 2261 -> 1064 MB on the 2.4M-position 8x clone corpus.
    """
    fixed = {a_id, "i", b_id, "j", "rem_a", "rem_b", "lcp"}
    extras = [c for c in ne_cols if c not in fixed]
    # the small walk broadcasts the rank tables: ~1M (id, pos, r) long
    # rows is a few MB serialized
    big_walk = rank_rows > BIG_WALK_PAIR_THRESHOLD
    # The TOP history level is a GUARANTEED no-op for rank-distinct
    # pairs and is skipped outright (round 12): its rank table is the
    # FINAL table (every construction path's last history entry is the
    # exit-round `cur`), the walk runs levels in descending order so
    # lcp == 0 when the top level would probe, and the probe at
    # (i + 0, j + 0) then compares the pair's own final ranks — unequal
    # by the very definition of the `ne` frame (a_r != b_r).  Lower
    # levels still reach any true LCP: for an ne pair lcp is at most
    # min(rem) - [shorter-is-prefix] < top L, and the remaining levels
    # sum to top L - 1.  Saves two joins + two broadcast builds per
    # walk at identical results.
    for L, rk in sorted(history, key=lambda t: -t[0])[1:]:
        if big_walk:
            can = F.col("lcp") + F.lit(L) <= F.least(
                F.col("rem_a"), F.col("rem_b")
            )
            probe = ne.filter(can)
            rest = ne.filter(~can).select(*ne_cols)
        else:
            probe = ne
            rest = None
        ra = rk.select(
            F.col(rank_id_col).alias("__ida"),
            F.col("pos").alias("__pa"),
            F.col("r").alias("__ra"),
        )
        rb = rk.select(
            F.col(rank_id_col).alias("__idb"),
            F.col("pos").alias("__pb"),
            F.col("r").alias("__rb"),
        )
        if not big_walk:
            # Small walk over small rank tables: broadcast the build
            # sides.  Size estimates on the lazy history projections run
            # past the 10 MB auto threshold, so without the hint each
            # level plans TWO shuffle joins of the pair frame — 2 x
            # levels exchanges for a walk whose build sides are a few
            # MB.  With it the whole lazy walk chain compiles to
            # broadcast-hash probes of the (never re-shuffled) pair
            # frame.  The big walk keeps AQE's choice: its level-skip
            # checkpoints give AQE true sizes, and its rank tables can
            # be arbitrarily large.
            ra, rb = F.broadcast(ra), F.broadcast(rb)
        probed = (
            probe.join(
                ra,
                (F.col(a_id) == F.col("__ida"))
                & (F.col("__pa") == F.col("i") + F.col("lcp")),
                "left",
            )
            .join(
                rb,
                (F.col(b_id) == F.col("__idb"))
                & (F.col("__pb") == F.col("j") + F.col("lcp")),
                "left",
            )
            .select(
                # dict.fromkeys: a_id == b_id for same-document pairs
                *dict.fromkeys([a_id, "i", b_id, "j"]),
                "rem_a",
                "rem_b",
                F.when(
                    F.col("__ra").isNotNull() & (F.col("__ra") == F.col("__rb")),
                    F.col("lcp") + L,
                )
                .otherwise(F.col("lcp"))
                .alias("lcp"),
                *[F.col(c) for c in extras],
            )
            # NO per-level checkpoint in the small walk: the history
            # frames are materialized (or lazy projections of
            # checkpoints) and the pair chain has a single consumer, so
            # the whole walk is ONE job instead of one per level (t35
            # at sf0.1: 49.6 -> 31.2 s)
        )
        # the probe/rest split references ne twice, so the big walk MUST
        # materialize per level (multi-branch plan-explosion trap); the
        # small walk stays the round-9 lazy single-consumer chain
        if big_walk:
            ne = probed.unionByName(rest).localCheckpoint(eager=True)
        else:
            ne = probed
    return ne


def _cross_group_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_parts: int | None = None,
    max_doc_tokens: int | None = None,
    group_map: DataFrame | None = None,
) -> DataFrame:
    """Core of the cross-doc span machinery: per-GROUP max LCP over
    adjacent cross-group suffix pairs.  With ``group_map=None`` every
    row of df is its own group (the classic per-document semantics);
    with a ``group_map`` frame (id_col -> ``__g``, one row per unit —
    the chunked routing path) rows are UNITS and "cross-doc" means
    different group values: same-group adjacent pairs (e.g. the
    identical suffixes two overlapping chunks of one document share)
    are excluded, and the output is keyed by group.  The group attaches
    to the rank frame via ONE equi-join on the unit id (AQE broadcasts
    the unit map when it fits) so only the group column — the original
    doc id — rides the walk shuffles, never a composite key.

    The suffix-adjacency exactness argument survives grouping verbatim:
    between any cross-GROUP pair (p, q) take the last suffix of p's
    group before q — its successor belongs to another group, the
    adjacent LCP is >= LCP(p, q), and it involves p's group, so the
    per-group max over adjacent cross-group pairs equals the max over
    all cross-group pairs.  Equal-final-rank suffixes are identical
    token sequences (same length), so any one adjacent cross-group pair
    inside an equal-rank run carries the run's full shared length.

    Returns (group_key, longest_shared) for groups with at least one
    cross-group pair; the group key column is named ``__g`` when
    group_map is given, else ``id_col``."""
    ranks, history, rank_rows = global_suffix_ranks(
        df,
        id_col,
        text_col,
        n_parts=n_parts,
        max_doc_tokens=max_doc_tokens,
        return_history=True,
    )
    grouped = group_map is not None
    if grouped:
        ranks = ranks.join(group_map, id_col)
    a_id, b_id = f"a_{id_col}", f"b_{id_col}"
    a_g, b_g = ("a___g", "b___g") if grouped else (a_id, b_id)
    out_key = "__g" if grouped else id_col
    pairs = _adjacent_pairs(ranks, ["r", id_col, "pos"], n_parts)
    cross = pairs.filter(F.col(a_g) != F.col(b_g)).localCheckpoint(eager=True)
    rem_a = F.col("a___n") - F.col("a_pos") + 1
    rem_b = F.col("b___n") - F.col("b_pos") + 1
    eq = cross.filter(F.col("a_r") == F.col("b_r")).select(
        F.col(a_g),
        F.col(b_g),
        F.least(rem_a, rem_b).cast("long").alias("lcp"),
    )
    grp_extra = [a_g, b_g] if grouped else []
    ne = cross.filter(F.col("a_r") != F.col("b_r")).select(
        F.col(a_id),
        F.col("a_pos").alias("i"),
        F.col(b_id),
        F.col("b_pos").alias("j"),
        rem_a.alias("rem_a"),
        rem_b.alias("rem_b"),
        F.lit(0).cast("long").alias("lcp"),
        *[F.col(c) for c in grp_extra],
    )
    ne_cols = [a_id, "i", b_id, "j", "rem_a", "rem_b", "lcp", *grp_extra]
    ne = _lcp_walk(ne, ne_cols, history, id_col, a_id, b_id, rank_rows)
    ne_final = ne.select(
        a_g,
        b_g,
        F.least("lcp", "rem_a", "rem_b").cast("long").alias("lcp"),
    )
    contrib = (
        eq.select(F.col(a_g).alias(out_key), "lcp")
        .unionByName(eq.select(F.col(b_g).alias(out_key), "lcp"))
        .unionByName(ne_final.select(F.col(a_g).alias(out_key), "lcp"))
        .unionByName(ne_final.select(F.col(b_g).alias(out_key), "lcp"))
    )
    return contrib.groupBy(out_key).agg(F.max("lcp").alias("longest_shared"))


def longest_cross_doc_span_chunked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_tokens: int,
    chunk_overlap: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """`longest_cross_doc_span` with CHUNKED ROUTING for oversized
    documents — the scale path where `max_doc_tokens` alone would SKIP a
    document (the per-doc lead window puts each unit in one task, so a
    pathological 5M-token document stalls the stage): documents over the
    cap are split into overlapping token chunks of size C =
    ``max_doc_tokens`` with overlap V = ``chunk_overlap`` (default C//2,
    stride S = C - V), every chunk becomes a suffix UNIT, and
    "cross-doc" is evaluated on the ORIGINAL document id (derived from
    the unit key, so two overlapping chunks of one document never count
    as sharing with each other).  Parallelism is now bounded by the
    CHUNK size, never the document size — the longest document in the
    corpus costs one C-token task per chunk.

    Correctness contract (the chunk-boundary argument, also in
    docs/PLANS.md round 11):

    * any token window of length L <= V is fully contained in some
      chunk (chunks start every S = C - V positions, so a start exists
      in [p+L-C, p] whenever C - L >= S), hence every true shared span
      of length <= V is detected EXACTLY — reported values below V are
      exact;
    * a true span longer than V still has its length-V prefix contained
      in chunks on both sides, so the report is >= V — values >= V are
      LOWER BOUNDS (read them as "at least V");
    * every reported span is a real substring of both documents (chunks
      are verbatim document substrings), so values never over-report.

    For threshold-style ExactSubstr dedup ("remove docs sharing >= T
    tokens", Lee et al. 2021) choose V >= T and the routed decision is
    EXACT.  Tail chunks that a predecessor already covers to end-of-doc
    are dropped (start == 0 or start + V < n_tokens keeps every
    containment witness: a dropped chunk's predecessor reaches the
    document end).

    Unit identity is a fresh LONG id minted on the materialized unit
    frame (monotonically_increasing_id over a localCheckpoint — stable
    for every downstream consumer), with a (unit -> original id) map
    joined back for the cross-group filter — so the walk shuffles stay
    longs-only, the construction invariant the whole suffix family is
    built on, and the original id type is never restricted.  Output:
    (id, longest_shared, routed) for every tokenizable document —
    routed marks documents that went through chunking; a routed 0/low
    value still means "nothing shared up to V"."""
    units = _chunk_units(df, id_col, text_col, max_doc_tokens, chunk_overlap)
    per_grp = _cross_group_spans(
        units.select("__uid", "__text"),
        "__uid",
        "__text",
        n_parts=n_parts,
        group_map=units.select("__uid", "__g"),
    )
    per_doc = per_grp.select(F.col("__g").alias(id_col), "longest_shared")
    return _with_docs(
        df, id_col, text_col, per_doc, "longest_shared", max_doc_tokens, routed=True
    )


def longest_cross_doc_span_refined(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_tokens: int,
    chunk_overlap: int | None = None,
    n_parts: int | None = None,
    max_rounds: int = 40,
) -> DataFrame:
    """FULLY EXACT cross-doc spans at ANY span length through the chunked
    tier — `longest_cross_doc_span_chunked` + iterative-doubling
    refinement of the docs that hit the overlap clamp (round-12 verdict
    #2): a chunked value >= V is only a lower bound, so those documents
    re-route with DOUBLED chunk size and overlap until their value drops
    below the current overlap (exact by the containment argument) or
    nothing in the refine set needs chunking at all (then the pass IS the
    unchunked exact computation on the subset).  Work is bounded by the
    clamped set, which only ever shrinks:

    * soundness of the refine set: values never over-report, so a
      reported value >= V implies the TRUE value >= V — and then the
      span's partner document also reports >= V (its length-V prefix is
      chunk-contained on both sides), so every clamped doc's best
      partner stays in the refine set at every round and the subset max
      equals the global max for those docs;
    * exit exactness: a doc leaving the set at overlap V' has reported
      < V', hence true < V' (true >= V' would force reported >= V'),
      hence reported == true (below-overlap spans are exact);
    * merge by GREATEST(old, new): both are lower bounds of the same
      true value (a subset re-route can legitimately report LESS than a
      lucky chunk alignment did), and at the exit round new == true.

    Each round is one driver-side loop iteration collecting one count —
    the kmeans/kcenter artifact convention; the heavy work stays fully
    distributed and shrinks with the clamped set.  Values below the
    FINAL overlap are exact; with the default doubling this terminates
    once 2^r * V exceeds the longest clamped doc (every unit unchunked),
    so the output is exact at every length.  Output: (id,
    longest_shared) — the `longest_cross_doc_span` contract, now
    computed scalably for any document size.  Thresholded dedup on top
    (dd20) is decision-exact for ANY threshold, not just <= overlap."""
    res = longest_cross_doc_span_chunked(
        df,
        id_col,
        text_col,
        max_doc_tokens=max_doc_tokens,
        chunk_overlap=chunk_overlap,
        n_parts=n_parts,
    ).localCheckpoint(eager=True)
    c_sz = max_doc_tokens
    v_sz = chunk_overlap if chunk_overlap is not None else max_doc_tokens // 2
    for _ in range(max_rounds):
        clamped = res.filter(F.col("longest_shared") >= v_sz)
        if clamped.isEmpty():
            break
        sub = df.join(clamped.select(id_col), id_col, "semi")
        c_sz, v_sz = 2 * c_sz, 2 * v_sz
        sub_res = longest_cross_doc_span_chunked(
            sub,
            id_col,
            text_col,
            max_doc_tokens=c_sz,
            chunk_overlap=v_sz,
            n_parts=n_parts,
            ).localCheckpoint(eager=True)
        new = sub_res.select(
            F.col(id_col),
            F.col("longest_shared").alias("__new"),
            F.col("routed").alias("__routed"),
        )
        res = (
            res.drop("routed")
            .join(new, id_col, "left")
            .select(
                F.col(id_col),
                F.greatest(
                    "longest_shared", F.coalesce("__new", F.lit(0))
                ).alias("longest_shared"),
                F.coalesce("__routed", F.lit(False)).alias("routed"),
            )
            .localCheckpoint(eager=True)
        )
        if sub_res.filter(F.col("routed")).isEmpty():
            # nothing in the refine set was chunked: that pass was the
            # unchunked exact computation on the subset — done
            break
    return res.select(id_col, "longest_shared")


def _chunk_units(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_tokens: int,
    chunk_overlap: int | None,
) -> DataFrame:
    """Materialized unit frame for the chunked-routing paths: one row per
    SUFFIX UNIT — small documents verbatim, oversized ones as
    overlapping token chunks of size C = max_doc_tokens, overlap V =
    chunk_overlap (default C//2), stride S = C - V.  Columns:
    ``__uid`` (fresh long id, minted AFTER the checkpoint materializes
    partition identity — stable for every consumer), ``__g`` (original
    id), ``__start`` (0-based token offset of the unit in its document —
    0 for unchunked docs; unit-local pos + __start = original doc
    position), ``__text`` (space-rejoined lowercase tokens; tokens_col
    round-trips exactly).  Tail chunks a predecessor already covers to
    end-of-doc are pruned (keep start == 0 or start + V < n) — safe by
    induction, the predecessor reaches the document end."""
    if chunk_overlap is None:
        chunk_overlap = max_doc_tokens // 2
    if not (1 <= chunk_overlap < max_doc_tokens):
        raise ValueError("need 1 <= chunk_overlap < max_doc_tokens")
    c_sz, v_sz = max_doc_tokens, chunk_overlap
    stride = c_sz - v_sz
    base = _tokenized(df, id_col, text_col).select(
        id_col, "__t", F.size("__t").alias("__sz")
    )
    small = base.filter(F.col("__sz") <= c_sz).select(
        F.col(id_col).alias("__g"),
        F.lit(0).cast("long").alias("__start"),
        F.array_join("__t", " ").alias("__text"),
    )
    big = (
        base.filter(F.col("__sz") > c_sz)
        .select(
            F.col(id_col).alias("__g"),
            "__t",
            "__sz",
            F.posexplode(
                F.sequence(F.lit(0), F.col("__sz") - 1, F.lit(stride))
            ).alias("__k", "__start"),
        )
        .filter((F.col("__start") == 0) | (F.col("__start") + v_sz < F.col("__sz")))
        .select(
            "__g",
            F.col("__start").cast("long").alias("__start"),
            F.array_join(
                F.slice("__t", F.col("__start") + 1, F.lit(c_sz)), " "
            ).alias("__text"),
        )
    )
    return (
        small.unionByName(big)
        .withColumn("__uid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )


def longest_repeated_span_chunked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_tokens: int,
    chunk_overlap: int | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """`longest_repeated_span` with CHUNKED ROUTING — the within-doc twin
    of `longest_cross_doc_span_chunked`, closing the suffix family's
    last per-document serialization: `suffix_ranks`' per-doc window sorts
    each document's TOKEN STRINGS in one task, so `max_doc_tokens` used
    to SKIP oversized docs from the repeat detector too.  Here every
    document's chunks are suffix UNITS in ONE global prefix-doubling
    computation (range-partitioned, longs-only after the first token
    shuffle), and a repeat is any pair of suffixes from the SAME
    original document at DIFFERENT original positions (unit-local pos +
    chunk start).

    Pair generation is the orig-restricted adjacency — consecutive pairs
    in (orig, rank, uid, pos) order restricted to equal orig.  Exactness
    (up to the overlap V): a true repeat of length L <= V has both
    occurrences whole inside chunks, so two unit suffixes share an
    L-prefix; every adjacent pair between them in the orig-restricted
    order also shares >= L (LCP is the min over adjacent LCPs,
    restriction preserves this); and between two suffixes at distinct
    original positions the position must CHANGE at some adjacent step —
    that adjacent pair has distinct positions and LCP >= L.
    Overlap-duplicate pairs (same original position seen through two
    chunks — identical content, or truncated prefixes of each other,
    either way NOT a repeat) are excluded by the ``orig_pos_a !=
    orig_pos_b`` filter, and dropping them never loses the witness
    above.  Values > V are lower bounds (">= V"), values <= V exact,
    never over-reported — every reported match is a verbatim repeat at
    two distinct document positions.

    Scale note (two-phase since round 12): the orig-restricted adjacency
    is `_adjacent_pairs` on keys (orig, rank, uid, pos) — range
    partitioning keeps each document's positions CONTIGUOUS across the
    partition order, so within-group consecutive pairs restricted to
    equal orig ARE the per-document adjacency, group boundaries fall out
    of the same-orig filter, and cross-partition boundary pairs stitch
    from the collected per-partition first/last artifact.  NO stage
    anywhere scales with single-document size any more (the round-11
    formulation's per-orig lead window sorted each document's positions
    in one task — the last such stage in the suffix tier); a document
    larger than a range partition simply spans several partitions.
    Plan-pinned (no Window in the pair frame) in
    tests/test_plan_audit.py; a repeat straddling the partition boundary
    is pinned at n_parts=2..4 in tests/test_round12_ops.py.

    Output: (id, longest_repeat, routed) for every tokenizable doc."""
    units = _chunk_units(df, id_col, text_col, max_doc_tokens, chunk_overlap)
    ranks, history, rank_rows = global_suffix_ranks(
        units.select("__uid", "__text"),
        "__uid",
        "__text",
        n_parts=n_parts,
        return_history=True,
    )
    rk = ranks.join(units.select("__uid", "__g", "__start"), "__uid").select(
        "__uid",
        "__g",
        "pos",
        "r",
        "__n",
        (F.col("__start") + F.col("pos")).alias("__opos"),
    )
    adj = _adjacent_pairs(rk, ["__g", "r", "__uid", "pos"], n_parts)
    pairs = (
        adj.filter(
            (F.col("a___g") == F.col("b___g"))
            & (F.col("a___opos") != F.col("b___opos"))
        )
        .select(
            F.col("a___g").alias("__g"),
            F.col("a___uid").alias("__ua"),
            F.col("a_pos").alias("i"),
            F.col("a_r"),
            (F.col("a___n") - F.col("a_pos") + 1).alias("rem_a"),
            F.col("b___uid").alias("__ub"),
            F.col("b_pos").alias("j"),
            F.col("b_r"),
            (F.col("b___n") - F.col("b_pos") + 1).alias("rem_b"),
        )
        .localCheckpoint(eager=True)
    )
    eq = pairs.filter(F.col("a_r") == F.col("b_r")).select(
        "__g", F.least("rem_a", "rem_b").cast("long").alias("lcp")
    )
    ne = pairs.filter(F.col("a_r") != F.col("b_r")).select(
        "__ua",
        "i",
        "__ub",
        "j",
        "rem_a",
        "rem_b",
        F.lit(0).cast("long").alias("lcp"),
        "__g",
    )
    ne_cols = ["__ua", "i", "__ub", "j", "rem_a", "rem_b", "lcp", "__g"]
    ne = _lcp_walk(ne, ne_cols, history, "__uid", "__ua", "__ub", rank_rows)
    contrib = eq.unionByName(
        ne.select(
            "__g", F.least("lcp", "rem_a", "rem_b").cast("long").alias("lcp")
        )
    )
    per_doc = contrib.groupBy("__g").agg(F.max("lcp").alias("longest_repeat"))
    per_doc = per_doc.select(F.col("__g").alias(id_col), "longest_repeat")
    return _with_docs(
        df, id_col, text_col, per_doc, "longest_repeat", max_doc_tokens, routed=True
    )
