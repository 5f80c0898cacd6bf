"""Training-data curation operators: sequence packing and quota sampling.

``pack_token_windows`` is the standard LLM-pretraining "concat and chunk"
step: documents are laid end-to-end in a deterministic order and cut into
fixed-size token windows; the output says which docs (and how many of their
tokens) land in each window, which is exactly the shuffle-free metadata a
downstream tokenizer job needs to build batches.

The global token offset is an exclusive prefix sum — the one genuinely
sequential dependency — computed with the same two-phase trick as
``operators/sequence.py::distributed_lag``:

1. bucket docs by ``floor(id / bucket_width)`` and run the running sum
   *within* buckets (hash-partitioned window, parallel);
2. per-bucket totals (one row per bucket, map-side combined) get their own
   exclusive cumsum — a single-partition window over only ~n/bucket_width
   rows — and broadcast back as each bucket's base offset.

Everything after the offset is per-row arithmetic plus a local explode of
each doc's window span: no further shuffle, and a doc only produces more
than one output row when it actually straddles a window boundary.

``quota_per_group`` caps rows per group (docs per source/domain) keeping
the top-N by an explicit order — the standard per-domain cap in curation
pipelines.  One hash shuffle on the group key; row_number, not rank, so
the cap is exact.  Pathologically hot groups are bounded by the cap
itself; AQE's skew handling (on by default in session.py) splits oversized
partitions at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from era_parser_spark.session import rows_frame

_BUCKET = "__pack_bucket"
_BASE = "__pack_base"


def pack_token_windows(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    window: int,
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Assign docs to fixed-size token windows (concat-and-chunk packing).

    Input: one row per doc with a unique orderable ``id_col`` and its token
    count.  Docs are packed in ``id_col`` order.  Output (one row per
    (window, doc) overlap): window_id, id, tok_start (global offset),
    n_tokens, n_in_window.  Zero-token docs occupy no window and are
    dropped.  Deterministic given the ids — the oracle is plain SQL.
    """
    if window <= 0 or bucket_width <= 0:
        raise ValueError("window and bucket_width must be positive")
    toks = F.col(n_tokens_col).cast("long")
    # cached: the (id, count, bucket) projection feeds both the bucketed
    # cumsum and the per-bucket totals; without it Catalyst recomputes the
    # upstream token counting (a full corpus scan) once per branch.  The
    # cache holds ~16 bytes/row — the payloads never enter it.
    bucketed = df.select(
        F.col(id_col), toks.alias("n_tokens"),
        F.floor(F.col(id_col) / F.lit(bucket_width)).alias(_BUCKET),
    ).cache()
    # running sum within each bucket (parallel across buckets)
    local = bucketed.withColumn(
        "__cum",
        F.sum("n_tokens").over(
            W.partitionBy(_BUCKET).orderBy(id_col).rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    # per-bucket totals -> exclusive cumsum over the tiny bucket table
    bounds = bucketed.groupBy(_BUCKET).agg(F.sum("n_tokens").alias("__bsum"))
    base = bounds.select(
        F.col(_BUCKET),
        F.coalesce(
            F.sum("__bsum").over(W.orderBy(_BUCKET).rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias(_BASE),
    )
    spans = (
        local.join(F.broadcast(base), _BUCKET)
        .withColumn("tok_start", F.col(_BASE) + F.col("__cum") - F.col("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    wlit = F.lit(int(window)).cast("long")
    w0 = F.floor(F.col("tok_start") / wlit)
    w1 = F.floor((F.col("tok_start") + F.col("n_tokens") - 1) / wlit)
    return spans.select(
        F.explode(F.sequence(w0, w1)).alias("window_id"),
        F.col(id_col),
        F.col("tok_start"),
        F.col("n_tokens"),
    ).withColumn(
        "n_in_window",
        F.least(F.col("tok_start") + F.col("n_tokens"), (F.col("window_id") + 1) * wlit)
        - F.greatest(F.col("tok_start"), F.col("window_id") * wlit),
    )


def quota_per_group(
    df: DataFrame, group_col: str, order_by: list[Column], n: int, rank_col: str = "rn"
) -> DataFrame:
    """Keep at most ``n`` rows per group, best-first by ``order_by``.

    The order must be total within a group (include a unique tiebreaker)
    or the survivors are nondeterministic.
    """
    w = W.partitionBy(group_col).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n)
    )


_POW60 = 1 << 60


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
    salt: str = "mix",
) -> DataFrame:
    """Temperature-based source re-weighting (the GPT-3/Pile mixing rule):
    sample stratum s at rate (min_count / count_s)^(1-alpha), so the
    post-sample distribution is proportional to count_s^alpha — alpha=1
    keeps the natural mix, alpha=0 equalizes strata, alpha=0.5 is the
    customary compromise.  The smallest stratum always keeps everything.

    Unlike p4's stratified_sample the rates are DERIVED FROM THE DATA
    (two-pass): a tiny per-stratum count aggregate + scalar min, then a
    broadcast join of the (stratum, threshold) table back onto the corpus
    — the corpus itself never shuffles, the keep decision is a codegen'd
    filter at the scan.

    Determinism contract (alpha=0.5 path): rate = sqrt(m/n) — IEEE sqrt is
    correctly rounded so the double is bit-identical in any engine; the
    keep rule compares a 60-bit md5 draw against floor(rate * 2^60)
    (multiplying by a power of two is exact), so the kept set is a pure
    function of (id, stratum counts) — reproducible across engines,
    partitionings, and incremental re-runs.  Other alphas go through pow(),
    which libms don't guarantee to the last ulp — fine operationally,
    excluded from the oracle path.

    Output: kept rows as (id, stratum, keep_rate).
    """
    # min-over-strata comes from a single-partition window over the TINY
    # counts table (|strata| rows), not a second agg subtree: a separate
    # counts.agg(min) branch makes Catalyst re-run the corpus count scan
    # per branch (the multi-branch recompute trap — docs/PLANS.md)
    n = F.col("__n").cast("double")
    m = F.min("__n").over(W.partitionBy()).cast("double")
    ratio = m / n
    rate = (
        F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    )
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    rates = counts.select(
        F.col(strata_col),
        rate.alias("keep_rate"),
        F.floor(rate * F.lit(float(_POW60))).cast("long").alias("__thr"),
    )
    from era_parser_spark.operators.dedup import md5_60bit

    draw = md5_60bit(
        F.concat(F.lit(salt + "_"), F.col(id_col).cast("string"))
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .where(draw < F.col("__thr"))
        .select(F.col(id_col), F.col(strata_col), F.col("keep_rate"))
    )


# Knuth's multiplicative hash constant (2^32 / phi); the product stays
# below 2^63 for any id < ~3.5e9 — use a pre-hashed 32-bit id column for
# wider key spaces.
_KNUTH = 2654435761
_HASH_MOD = 1 << 32



def knuth_bucket(id_col: str) -> Column:
    """(id * 2654435761) mod 2^32 without BIGINT overflow: the id reduces
    mod 2^32 FIRST (pmod, so negative ids land in [0, 2^32)), and the
    multiply runs in DECIMAL — a raw ``id * K`` wraps for ids beyond
    ~3.47e9 (2^63 / K), which at the corpus sizes this engine targets
    would silently dump every overflowing row into the first bucket.
    Congruent to the naive product for all ids; bit-identical to the old
    expression on non-negative ids below the wrap point, so existing
    oracles are unchanged.  SQL twin: reduce, then multiply as HUGEINT.
    """
    r = F.pmod(F.col(id_col), F.lit(_HASH_MOD))
    return ((r.cast("decimal(20,0)") * F.lit(_KNUTH)) % F.lit(_HASH_MOD)).cast(
        "bigint"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum subsampling: row kept iff
    (id * 2654435761) mod 2^32 < fraction[stratum] * 2^32.

    Unlike sampleBy(), the decision is a pure function of the row id —
    reproducible across engines, partitionings, retries and incremental
    re-runs (a row's fate never changes, so a resumed pipeline keeps
    exactly the rows it kept before), and exactly expressible in plain
    SQL for the oracle.  The multiplicative hash decorrelates the keep
    set from id order, so range-clustered ids don't bias the sample.

    Scale shape: a per-row filter evaluated in codegen against a
    broadcast literal map — no shuffle, no sort, prunes at the scan.
    """
    bounds = F.create_map(
        *[
            F.lit(x)
            for kv in fractions.items()
            for x in (kv[0], int(kv[1] * _HASH_MOD))
        ]
    )
    bound = F.coalesce(
        F.element_at(bounds, F.col(strata_col)),
        F.lit(int(default_fraction * _HASH_MOD)),
    )
    return df.filter(knuth_bucket(id_col) < bound)


def domain_reputation_filter(
    df: DataFrame,
    domain_col: str,
    chars_col: str,
    min_avg_chars: int,
    blocked: tuple[str, ...] = (),
) -> DataFrame:
    """Domain-level curation (the RefinedWeb/CCNet URL-filtering step):
    drop whole domains by policy.  A domain survives when it is not on the
    explicit blocklist AND its mean document length (an aggregate
    reputation proxy — swap in any per-domain score) clears
    ``min_avg_chars``.  Documents inherit their domain's verdict.

    avg chars uses INTEGER division (sum div count) so the threshold
    compare is exact in any engine (the float-quotient-rounds-across-the-
    boundary trap, docs/PLANS.md).

    Scale shape: one tiny per-domain aggregate (map-side combinable,
    |domains| rows), then a broadcast join back — corpus rows never
    hash-exchange, the verdict is a codegen'd filter at the scan.  The
    blocklist is a literal isin() (no join at all).

    Output: surviving rows plus (domain_n_docs, domain_avg_chars).
    """
    stats = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("domain_n_docs"),
        F.expr(f"sum({chars_col}) div count(*)").alias("domain_avg_chars"),
    )
    kept = stats.filter(F.col("domain_avg_chars") >= min_avg_chars)
    out = df.join(F.broadcast(kept), domain_col)
    if blocked:
        out = out.filter(~F.col(domain_col).isin(*blocked))
    return out


def global_order(
    df: DataFrame,
    order_col: str,
    id_col: str,
    n_buckets: int = 64,
    sample_error: float = 0.001,
) -> DataFrame:
    """Global 1-based position of every row under the total order
    (order_col DESC, id_col ASC) — WITHOUT the single-partition window a
    naive row_number() OVER (ORDER BY ...) plans, which serializes the
    whole corpus through one task.

    The curriculum-ordering primitive (hardest/longest examples first) and
    the general scalable global-row-number pattern: rows bucket by sampled
    range cut points of the sort key (one approxQuantile pass — the same
    sampling repartitionByRange uses; equal keys always share a bucket, so
    bucket boundaries can never split a tie), rank locally per bucket in
    parallel, then add each bucket's exclusive offset — a window over the
    TINY per-bucket count table (<= n_buckets rows), broadcast back.
    Positions are exact and independent of where the sampled cut points
    landed.  The sort key must be non-null (engines disagree on NULL
    placement under DESC).

    Output: (id_col, order_col, pos).
    """
    nq = n_buckets
    cuts = df.stat.approxQuantile(
        order_col, [k / nq for k in range(1, nq)], sample_error
    )
    bexpr = F.lit(0)
    for cut in sorted(set(cuts)):
        bexpr = bexpr + (F.col(order_col) > F.lit(cut)).cast("int")
    # cached: the (id, key, bucket) projection feeds the local-rank window
    # AND the per-bucket counts (p2's shared-branch lesson); ~20 bytes/row.
    # A null sort key would get a null bucket and silently vanish at the
    # offsets join — fail loudly instead (one codegen null-check per row).
    bucketed = df.select(
        F.col(id_col),
        F.col(order_col),
        F.when(
            F.assert_true(
                F.col(order_col).isNotNull(),
                F.lit(f"global_order: null in sort key {order_col}"),
            ).isNull(),
            bexpr,
        ).alias("__gbucket"),
    ).cache()
    local = bucketed.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("__gbucket").orderBy(F.desc(order_col), F.asc(id_col))
        ),
    )
    counts = bucketed.groupBy("__gbucket").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__gbucket",
        F.coalesce(
            F.sum("__n").over(
                W.orderBy(F.desc("__gbucket")).rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__gbucket")
        .select(
            F.col(id_col),
            F.col(order_col),
            (F.col("__off") + F.col("__rn")).cast("long").alias("pos"),
        )
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    splits: list[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
) -> DataFrame:
    """Deterministic train/val/test split assignment — every row gets a
    split label via the same Knuth multiplicative hash `stratified_sample`
    uses: bucket = (id * 2654435761) mod 2^32, labels claim cumulative
    bucket ranges in `splits` order (fractions must sum to <= 1; any
    remainder falls to the LAST label, so nothing is ever unassigned).

    The properties a training pipeline needs and random splits don't give:
    a row's split never changes across re-runs, retries, engines, or
    incremental appends (no train/test leakage when the corpus grows), and
    the assignment is plain-SQL expressible for the oracle.  Per-stratum
    proportions hold in expectation automatically because the hash is
    independent of any feature.

    Scale shape: one codegen CASE per row at the scan — no shuffle.
    """
    splits = list(splits)
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(f for _, f in splits)
    if total > 1.0 + 1e-9:
        raise ValueError(f"split fractions sum to {total} > 1")
    bucket = knuth_bucket(id_col)
    expr = None
    cum = 0.0
    for name, frac in splits[:-1]:
        cum += frac
        cond = bucket < F.lit(int(cum * 2**32))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(splits[-1][0])
    label = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", label)


def token_budget_cap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    bucket_width: int = 1 << 20,
) -> DataFrame:
    """Cap each group (source/domain/language) at a token budget: docs are
    taken in ``id_col`` order until the group's cumulative token count
    would exceed ``budget`` — the "N billion tokens per source" recipe a
    training-mix spec actually states (the absolute-count sibling of p3's
    row quota and p5's proportional temperature mix).  A doc is kept only
    if it fits ENTIRELY within the remaining budget.

    Output: one row per input doc — (group, id, n_tokens, cum_tokens,
    kept); filtering on `kept` yields the capped corpus, the full frame
    is the audit trail.

    Scale shape: the per-group running sum is the p2 two-phase prefix
    sum, partitioned by (group, id-bucket) — no group ever serializes
    through a single task, the per-bucket carry table is tiny and
    broadcast.  Deterministic given ids; exactly SQL-expressible.
    """
    if budget < 0 or bucket_width <= 0:
        raise ValueError("budget must be >= 0 and bucket_width positive")
    toks = F.col(n_tokens_col).cast("long")
    bucketed = df.select(
        F.col(group_col), F.col(id_col), toks.alias("n_tokens"),
        F.floor(F.col(id_col) / F.lit(bucket_width)).alias(_BUCKET),
    ).cache()
    local = bucketed.withColumn(
        "__cum",
        F.sum("n_tokens").over(
            W.partitionBy(group_col, _BUCKET)
            .orderBy(id_col)
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    bounds = bucketed.groupBy(group_col, _BUCKET).agg(
        F.sum("n_tokens").alias("__bsum")
    )
    base = bounds.select(
        F.col(group_col),
        F.col(_BUCKET),
        F.coalesce(
            F.sum("__bsum").over(
                W.partitionBy(group_col).orderBy(_BUCKET)
                .rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias(_BASE),
    )
    return (
        local.join(F.broadcast(base), [group_col, _BUCKET])
        .select(
            F.col(group_col),
            F.col(id_col),
            F.col("n_tokens"),
            (F.col(_BASE) + F.col("__cum")).cast("long").alias("cum_tokens"),
            ((F.col(_BASE) + F.col("__cum")) <= F.lit(int(budget))).alias("kept"),
        )
    )


def _repeated_sqrt(c: Column, times: int) -> Column:
    for _ in range(times):
        c = F.sqrt(c)
    return c


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "wsamp",
    max_class: int = 20,
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis 2006
    A-ES: key_i = u_i^(1/w_i), take the n largest keys) with weights
    rounded down to POWER-OF-TWO CLASSES so the key is computable with
    only correctly-rounded IEEE operations: u^(1/2^k) is sqrt applied k
    times, and sqrt — unlike pow()/ln(), which libms don't guarantee to
    the last ulp — is exact-rounded everywhere, so the selected set is a
    pure function of (id, weight) reproducible across engines, runs, and
    partitionings (the temperature_mix determinism argument, extended
    from one sqrt to a chain).

    u_i = (md5_60(salt || id) + 1) / 2^60 in (0, 1]: the +1 happens in
    INTEGER math (adding 1 after the int->double conversion would be
    inexact above 2^53), the one int->double conversion is
    correctly rounded, and /2^60 is an exact exponent shift.  Weight
    class k = floor(log2(w)) is derived from the BINARY STRING length
    (bit-exact; floor(log2()) itself misrounds near powers of two), and
    clamps at `max_class`.  Rows with weight < 1 can never be drawn
    (true A-ES semantics for w=0) and are filtered out.

    Scale shape: zero-shuffle scoring (per-row codegen) + a global top-n
    = TakeOrderedAndProject — per-partition partial top-n, only n rows
    per partition reach the driver-side merge; the corpus never
    exchanges.

    Output: (id, weight, weight_class, sample_key DECIMAL(10,6)-quantized)
    — the n rows with the largest keys, ties on id.
    """
    w = F.col(weight_col).cast("long")
    from era_parser_spark.operators.dedup import md5_60bit

    u = (
        (md5_60bit(F.concat(F.lit(salt + "_"), F.col(id_col).cast("string"))) + 1)
        .cast("double")
        / F.lit(float(1 << 60))
    )
    kcls = F.least(F.length(F.bin(w)) - 1, F.lit(max_class))
    key = F.when(kcls == 0, u)
    for k in range(1, max_class + 1):
        key = key.when(kcls == k, _repeated_sqrt(u, k))
    scored = (
        df.filter(w >= 1)
        .select(
            F.col(id_col),
            w.alias("weight"),
            kcls.cast("long").alias("weight_class"),
            key.alias("__key"),
        )
    )
    return (
        scored.orderBy(F.desc("__key"), id_col)
        .limit(n)
        .select(
            id_col,
            "weight",
            "weight_class",
            F.col("__key").cast("decimal(10,6)").cast("double").alias("sample_key"),
        )
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning audit every
    reproducible training run needs (what changed between crawl v1 and
    v2?): per-document status ``added`` (id only in new), ``removed``
    (only in old), ``changed`` (both, content digest differs),
    ``unchanged``.

    Content identity is md5(text) computed BEFORE the join, so the full
    outer join shuffles (id, 32-hex digest) — never document bodies;
    at 100 TB the diff costs two digest scans + one id-keyed exchange
    per side.  Null text and empty text digest differently on purpose
    (absence vs emptiness is a real change); the null sentinel is the
    string '\x00null', so a document whose REAL text equals that
    6-char string aliases null — the accepted-collision class.

    Returns (id, status, old_digest, new_digest).
    """
    o = old_df.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit("\x00null"))).alias("old_digest"),
    )
    n = new_df.select(
        F.col(id_col),
        F.md5(F.coalesce(F.col(text_col), F.lit("\x00null"))).alias("new_digest"),
    )
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"), "old_digest", "new_digest")


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    m: int = 256,
    scale: int = 10_000,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169): score
    every raw-corpus document by how much more likely its hashed-unigram
    features are under the TARGET distribution than under the raw one —
    the published recipe for steering a CommonCrawl-scale corpus toward
    a quality/domain target before training.

    Model: tokens hash into ``m`` buckets (the shared 60-bit md5 — the
    whole model is reproducible in SQL); bucket unigram distributions
    are Laplace-smoothed, p(b) = (c_b + 1) / (C + m).  Per-token score
    is the EXACT scaled probability ratio
        r(b) = (scale * (ct_b+1) * (Cr+m)) // ((cr_b+1) * (Ct+m))
    computed with arbitrary-precision Python integers on the tiny m-row
    bucket table (exact at ANY corpus size — no int64 product of two
    corpus-sized counts ever happens engine-side; the SQL twin uses
    HUGEINT).  A document's weight is the sum of its tokens' ratios —
    the t17 convention: summed exact rationals instead of summed float
    logs, so the surface is bit-checkable; the ordering differs from
    the paper's log-sum only where arithmetic-vs-geometric mean ratios
    disagree.  w_mean = w_sum / (scale * n_tokens) is ~1.0 for
    target-neutral text.

    Scale shape: two corpus scans (raw tokens, and raw+target once for
    the bucket counts); the per-doc pass shuffles only (id, bucket, tf)
    longs with map-side combine; the m-entry ratio table rides the plan
    as a literal array (task-closure broadcast, the dd14 Bloom-words
    assumption); the id join-back joins bare ids.  Selection composes
    downstream: feed w_mean to p11 weighted_sample / p4-style top-k.

    Returns one row per raw doc: (id, n_tokens, w_sum, w_mean).
    """
    from era_parser_spark.operators.dedup import md5_60bit, tokens_col

    def bucketize(df: DataFrame) -> DataFrame:
        ex = df.select(
            F.col(id_col), F.explode(tokens_col(text_col)).alias("__t")
        ).filter(F.col("__t") != "")
        return ex.select(
            F.col(id_col), F.pmod(md5_60bit(F.col("__t")), F.lit(m)).alias("__b")
        )

    rawb = bucketize(raw)
    rc = {
        int(r["__b"]): int(r["n"])
        for r in rawb.groupBy("__b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tc = {
        int(r["__b"]): int(r["n"])
        for r in bucketize(target)
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    cr, ct = sum(rc.values()), sum(tc.values())
    ratio = [
        (scale * (tc.get(b, 0) + 1) * (cr + m)) // ((rc.get(b, 0) + 1) * (ct + m))
        for b in range(m)
    ]
    if max(ratio, default=0) >= (1 << 62):
        raise ValueError(
            "dsir_importance: a bucket ratio overflows int64 — the target "
            "slice is pathologically concentrated; raise m or rescale"
        )
    ratio_arr = F.array(*[F.lit(r).cast("long") for r in ratio])

    per = (
        rawb.groupBy(id_col, "__b")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .withColumn("__r", F.element_at(ratio_arr, F.col("__b").cast("int") + 1))
        .groupBy(id_col)
        .agg(
            F.sum("__tf").alias("__nt"),
            F.sum(F.col("__tf") * F.col("__r")).alias("__ws"),
        )
    )
    ids = raw.select(id_col)
    return (
        ids.join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__nt", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("__ws", F.lit(0)).cast("long").alias("w_sum"),
        )
        .withColumn(
            "w_mean",
            F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                F.col("w_sum").cast("double")
                / (F.lit(float(scale)) * F.col("n_tokens"))
            ),
        )
    )


def token_drift_chi2(
    df: DataFrame,
    group_col: str,
    text_col: str,
    m: int = 256,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group token-distribution drift audit: a two-sample chi-square
    of each group's hashed-unigram distribution against the REST of the
    corpus — the data-validation stage that flags a source/domain whose
    text shifted between crawls (the operational companion to p13's
    volume report and p14's digest diff, which see WHAT changed but not
    HOW MUCH the language moved).

    Statistic (exact rational, the p16 driver-bigint pattern): over m
    md5 buckets, chi2 = sum_b (a_b*R - r_b*A)^2 / (A*R*(a_b+r_b)) with
    a = group counts, r = rest counts, A/R their totals — each bucket
    term floor-scaled to ``scale`` then summed, so both engines agree
    bit-for-bit (the SQL twin sums the same floored HUGEINT terms).
    Groups with an empty complement (single-source corpora) or no
    tokens emit chi2_q = 0.

    Scale shape: ONE map-side-combined (group, bucket) count shuffle —
    the only corpus-sized work; the groups x m count table is tiny and
    collects to the driver where Python bigints compute the statistic
    at any corpus size (no int64/HUGEINT overflow engine-side; the
    ORACLE's HUGEINT bounds it at ~3e9 tokens, documented there).

    Returns (group, n_tokens, chi2_q, chi2) — chi2 = chi2_q / scale.
    """
    from era_parser_spark.operators.dedup import md5_60bit, tokens_col

    spark = df.sparkSession
    ex = df.select(
        F.col(group_col).alias("__g"), F.explode(tokens_col(text_col)).alias("__t")
    ).filter(F.col("__t") != "")
    counts = (
        ex.select("__g", F.pmod(md5_60bit(F.col("__t")), F.lit(m)).alias("__b"))
        .groupBy("__g", "__b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    per: dict = {}
    bucket_tot: dict[int, int] = {}
    for r in counts:
        g, b, c = r["__g"], int(r["__b"]), int(r["c"])
        per.setdefault(g, {})[b] = c
        bucket_tot[b] = bucket_tot.get(b, 0) + c
    grand = sum(bucket_tot.values())

    out = []
    groups = df.select(F.col(group_col).alias("__g")).distinct().collect()
    for row in groups:
        g = row["__g"]
        a = per.get(g, {})
        A = sum(a.values())
        R = grand - A
        chi2_q = 0
        if A > 0 and R > 0:
            for b, cb in bucket_tot.items():
                ab = a.get(b, 0)
                rb = cb - ab
                num = (ab * R - rb * A) ** 2
                chi2_q += (scale * num) // (A * R * cb)
        # float(chi2_q) FIRST (the SQL twin CASTs to DOUBLE before the
        # divide) — a direct int/int true division rounds differently
        # once chi2_q passes 2^53
        out.append((g, A, chi2_q, float(chi2_q) / scale))
    from pyspark.sql import types as T

    gtype = [f for f in df.schema.fields if f.name == group_col][0].dataType
    schema = T.StructType(
        [
            T.StructField(group_col, gtype),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("chi2_q", T.LongType()),
            T.StructField("chi2", T.DoubleType()),
        ]
    )
    return rows_frame(spark, out, schema)


def budget_waterfill(
    df: DataFrame,
    group_col: str,
    n_tokens_col: str,
    budget: int,
) -> DataFrame:
    """Water-filling token-budget allocation: split a GLOBAL budget
    equally across groups, capped by each group's availability, with
    capped groups' surplus redistributed — the allocation solver a
    training-mix spec needs between p5's proportional temperature mix
    and p10's fixed per-group cap ("we have B tokens of compute; no
    source can give more than it has").

    Exact integer solver, no division until the final equal share: sort
    groups by (availability, group) ascending with rank i of m and
    prefix sums; group i is CAPPED iff cap_i * (m - i + 1) <=
    budget - prefix_{i-1} (the cross-multiplied share test, monotone
    along the sort); uncapped groups split the remainder R as
    q = R // n_uncapped each, the first R % n_uncapped of them (in the
    same sort order) getting one extra token.  Every allocation is
    provably <= availability (the first uncapped group's cap strictly
    exceeds its share), sum(allocated) == min(budget, total) exactly.

    The heavy work is ONE map-side-combined (group) token-count shuffle;
    the solver runs as window functions over the tiny m-row group frame
    (a single-partition exchange of m rows — never the corpus).

    Returns (group, available_tokens, allocated_tokens, capped).
    """
    from pyspark.sql import Window as W

    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    caps = df.groupBy(group_col).agg(
        F.sum(F.col(n_tokens_col)).cast("long").alias("available_tokens")
    )
    w_rank = W.orderBy("available_tokens", group_col)
    srt = (
        caps.withColumn("__i", F.row_number().over(w_rank))
        .withColumn("__m", F.count(F.lit(1)).over(W.partitionBy()))
        .withColumn(
            "__prefix",
            F.coalesce(
                F.sum("available_tokens").over(
                    w_rank.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    cond = F.col("available_tokens") * (F.col("__m") - F.col("__i") + 1) <= (
        F.lit(budget) - F.col("__prefix")
    )
    srt = srt.withColumn("__ok", cond)
    # capped = the maximal all-ok PREFIX of the sort (min failing rank wins)
    first_bad = F.min(F.when(~F.col("__ok"), F.col("__i"))).over(W.partitionBy())
    srt = srt.withColumn("__fb", F.coalesce(first_bad, F.col("__m") + 1))
    j = F.col("__fb") - 1  # number of capped groups
    cap_prefix_at_j = F.max(
        F.when(F.col("__i") == j, F.col("__prefix") + F.col("available_tokens"))
    ).over(W.partitionBy())
    remaining = F.lit(budget) - F.coalesce(cap_prefix_at_j, F.lit(0))
    n_unc = F.col("__m") - j
    # greatest(,1): the all-capped case makes n_unc 0 and ANSI mode would
    # raise on the (unused) division; the n_unc > 0 guard below discards it
    n_safe = F.greatest(n_unc, F.lit(1))
    rem = F.pmod(remaining, n_safe)
    # (remaining - rem) is exactly divisible, so the double division is
    # exact while the share stays below 2^53 tokens per group
    share = (remaining - rem) / n_safe
    capped = F.col("__i") < F.col("__fb")
    alloc = F.when(capped, F.col("available_tokens")).otherwise(
        F.when(n_unc > 0,
               share.cast("long")
               + F.when(F.col("__i") - j <= rem, F.lit(1)).otherwise(F.lit(0)))
        .otherwise(F.lit(0))
    )
    return srt.select(
        F.col(group_col),
        F.col("available_tokens"),
        alloc.cast("long").alias("allocated_tokens"),
        capped.alias("capped"),
    )


def curation_v4(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | str = 8,
    iters: int = 1,
    min_cos: float = 0.9,
    max_cell: int | None = None,
    splits: list[tuple[str, float]] | None = None,
) -> DataFrame:
    """The v4 curation composition: DSIR importance gate (keep docs
    strictly above the EXACT median weight vs the %17=0 target slice) ->
    SemDeDup over learned k-means clusters of the survivors' hashed text
    embeddings (quant=1: the features are already integers) ->
    leakage-free Knuth split.  Returns (id, cluster, split).

    SIZE ``k`` TO THE CORPUS.  Cluster populations scale as n/k, and the
    per-cluster Gram kernel is O((n/k)^2) — the 32x rehearsal measured
    the registry's k=8 at 129 s where k=64 took 16.6 s on the same 74k
    survivors (docs/PLANS.md).  ``max_cell`` is the hard memory guard
    when k can't be known in advance.  Fewer, larger clusters find more
    cross-cluster duplicates (k is SemDeDup's recall/cost knob).

    The exact-median gate is the one global sort in the plan (the p7
    global-order precedent); everything else shuffles longs.
    """
    from era_parser_spark.operators.similarity import semdedup_kmeans
    from era_parser_spark.operators.text import hash_embed

    raw = docs.filter(F.col(id_col) % 17 != 0)
    tgt = docs.filter(F.col(id_col) % 17 == 0)
    w = dsir_importance(raw, tgt, id_col, text_col, m=256, scale=10_000)
    win = W.orderBy("w_mean", id_col)
    wm = (
        w.withColumn("__rn", F.row_number().over(win))
        .withColumn("__n", F.count(F.lit(1)).over(W.partitionBy()))
        .withColumn(
            "__med",
            F.max(
                F.when(F.col("__rn") == F.expr("(__n + 1) div 2"), F.col("w_mean"))
            ).over(W.partitionBy()),
        )
    )
    surv = wm.filter(F.col("w_mean") > F.col("__med")).select(id_col)
    surv_docs = docs.join(surv, id_col)
    # persisted: the k-means trainer materializes this frame 3x and each
    # un-cached pass re-runs the whole DSIR gate + join + hash_embed
    # upstream (WARM sf0.1 run 5.5 -> 2.7 s; cold first runs are session/
    # codegen overhead).  Holds id + 64 doubles per survivor — never text.
    emb = (
        hash_embed(surv_docs, id_col, text_col, dim=64)
        .select(id_col, F.col("feat").cast("array<double>").alias("__v"))
        .persist()
    )
    dd = semdedup_kmeans(
        emb, id_col, "__v", k=k, iters=iters, quant=1, min_cos=min_cos,
        dim=64, max_cell=max_cell,
    )
    kept = dd.filter(F.col("kept")).select(id_col, "cluster")
    return split_assign(
        kept, id_col, splits or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    ).select(id_col, "cluster", "split")
