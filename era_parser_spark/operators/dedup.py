"""Deduplication operators.

``dedup_latest`` reproduces the reference's ReplacingMergeTree(insert_version)
semantics (reference sql/001_initial_tables_up.sql:17-18, forced OPTIMIZE in
era_state_manager.py:329-346) as an exact window dedup — unlike ClickHouse's
eventual merge, this is deterministic.

The rest are LLM-training-data dedup primitives (exact, n-gram Jaccard,
MinHash+LSH, SimHash) designed scale-first:

* exact dedup: hash-groupBy on a content digest — one shuffle of (digest, id),
  never the payloads.
* n-gram Jaccard: exact pairwise via a shingle inverted index (explode +
  self-equi-join).  Quadratic in bucket size — the verification step of LSH,
  or a standalone op for small corpora.
* MinHash+LSH: signatures in one pass (k min-aggregates over one explode),
  banding to candidate buckets, verify candidates exactly.  This is the
  100 TB path: cost is O(docs·shingles) + O(candidate pairs), not O(n²).
* SimHash: 64-bit fingerprint via an Arrow-batched pandas UDF (token loop is
  genuinely imperative), Hamming-ball blocking on 16-bit bands.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dedup_latest(df: DataFrame, keys: list[str], order_cols: list[Column]) -> DataFrame:
    """Keep the newest row per key — exact ReplacingMergeTree semantics."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct content digest.

    Shuffles only (digest, id) pairs; survivors re-join to recover payloads,
    so 100 TB of text never moves through the shuffle.
    """
    digests = df.select(
        F.col(id_col), F.md5(F.col(content_col)).alias("__digest")
    )
    survivors = digests.groupBy("__digest").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )
    return survivors.join(df, id_col).drop("__digest")


def tokens_col(text_col: str | Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.lower(c)), r"\s+")


def md5_60bit(c: Column) -> Column:
    """The 60-bit md5 integer every oracle-exact hash path shares:
    int(md5(bytes)[:15 hex]) — positive in a signed BIGINT in both Spark
    and DuckDB (`CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)`).
    ONE definition on purpose: dd4b SimHash, p5 temperature mixing, x12 /
    st5 KMV all depend on this staying byte-identical to the SQL twin."""
    return (
        F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
    )


def shingles_col(tok: Column, n: int = 3) -> Column:
    """Distinct n-token shingles (space-joined) from a token array.

    slice+array_join measures ~3.5x faster than per-token element_at (which
    evaluates an interpreted positional lookup per shingle per position),
    and stays shuffle-free — at scale that beats a window/lead formulation
    that would shuffle the whole token stream.
    """
    idx = F.sequence(F.lit(0), F.size(tok) - n)
    mk = F.transform(idx, lambda i: F.array_join(F.slice(tok, i + 1, n), " "))
    return F.when(F.size(tok) >= n, F.array_distinct(mk)).otherwise(
        F.array().cast("array<string>")
    )


def row_band_buckets(
    text_col: str | Column,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> Column:
    """MinHash LSH band buckets computed ENTIRELY within one row — the
    streaming-safe form of `minhash_signatures` + `lsh_candidate_pairs`'s
    bucketing: h_i = min over the doc's distinct shingles of
    xxhash64(i, xxhash64(shingle)), band bucket = xxhash64 over that
    band's rows.  Bit-identical to the batch aggregate path (same hash
    composition over the same distinct shingle set), but needs no
    groupBy — so it can run in a streaming query ahead of a stateful
    operator, where an aggregation would be a second stateful op.

    Cost note: the per-permutation array passes are interpreted HOFs
    (~num_perm * |shingles| evals per row) — the batch path's
    hash-aggregate form stays the right choice for batch jobs; this is
    the price of row-locality in streams.

    Returns array<struct<band int, bucket long>>; empty for docs with
    fewer than `shingle_n` tokens (they can never be near-dup
    candidates, matching the batch semantics).
    """
    rows_per_band = num_perm // bands
    sh = shingles_col(tokens_col(text_col), shingle_n)
    hsh = F.transform(sh, lambda s: F.xxhash64(s))

    def _perm(i):
        # closure factory: default-arg capture would change lambda arity
        return lambda x: F.xxhash64(F.lit(i), x)

    mins = [F.array_min(F.transform(hsh, _perm(i))) for i in range(num_perm)]
    return F.when(
        F.size(sh) >= 1,
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[mins[b * rows_per_band + r] for r in range(rows_per_band)]
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        ),
    ).otherwise(F.array().cast("array<struct<band:int,bucket:bigint>>"))


def doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, id_type: str = "long"
) -> DataFrame:
    """(id, shingle) exploded inverted index — distinct n-gram shingles.

    Arrow-batched Python (measured ~5x faster than the JVM slice/array_join
    higher-order expression, which Catalyst interprets rather than
    codegens); semantics identical to explode(shingles_col(tokens_col())):
    lowercase, whitespace-split, distinct space-joined n-grams.

    `id_type` parameterizes the key's Spark type (fuzzy_dedup's clone
    collapse keys shingles by the md5 digest STRING so text never rides a
    shuffle).
    """
    from era_parser_spark.shipping import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)

    def gen(it):
        for pdf in it:
            ids: list = []
            shs: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = str(text).lower().split()
                uniq = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
                ids.extend([did] * len(uniq))
                shs.extend(uniq)
            yield pd.DataFrame({id_col: ids, "shingle": shs})

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_type}, shingle string"
    )


def hot_shingles(ex: DataFrame, max_doc_freq: int) -> DataFrame:
    """Diagnostic: shingles appearing in more than `max_doc_freq` documents.

    Columns (shingle, doc_freq) — the boilerplate the frequency guard in
    `_jaccard_from_index` drops.  Tiny by construction: at most
    total_index_rows / max_doc_freq distinct shingles can exceed the cutoff.
    """
    return (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") > max_doc_freq)
    )


def _jaccard_from_index(
    ex: DataFrame, id_col: str, min_inter: int = 1, max_doc_freq: int | None = None
) -> DataFrame:
    """Pair Jaccard from an exploded (id, shingle) inverted index.

    `ex` feeds three plan branches (sizes + both self-join sides); callers
    pass it cached so shingle generation runs once, and the self-join keys
    on xxhash64(shingle) — an 8-byte shuffle key instead of the full text.

    `max_doc_freq` is the hot-shingle guard: a shingle shared by k docs
    emits k^2 join rows, so one viral boilerplate string ("click here to
    subscribe") turns the self-join quadratic at corpus scale.  With the
    guard, shingles in more than `max_doc_freq` docs are anti-joined out of
    BOTH join sides first (an aggregation on the same 8-byte key the join
    shuffles on, so the exchange is reused).  Doc sizes still count ALL
    shingles, so the reported jaccard is a lower bound for pairs that
    shared a dropped shingle — standard bounded-recall-loss practice.
    """
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    hashed = ex.select(F.col(id_col), F.xxhash64("shingle").alias("sh"))
    if max_doc_freq is not None:
        hot = (
            hashed.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
        )
        hashed = hashed.join(hot.select("sh"), "sh", "left_anti")
    a = hashed.alias("a")
    b = hashed.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= min_inter)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("nsh_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nsh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_sz", F.col("nsh_a") + F.col("nsh_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .select("doc_a", "doc_b", "inter", "union_sz", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_inter: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over distinct n-gram shingles.

    Inverted-index self-join: only pairs sharing >=1 shingle are generated.
    Columns: doc_a, doc_b, inter, union_sz, jaccard.

    Pass `max_doc_freq` at corpus scale: it drops shingles shared by more
    than that many docs before the self-join (see `_jaccard_from_index`),
    bounding the quadratic hot-bucket blowup at a small recall cost.
    Inspect what would be dropped with `hot_shingles(doc_shingles(...), N)`.
    """
    ex = doc_shingles(df, id_col, text_col, n).cache()
    return _jaccard_from_index(ex, id_col, min_inter, max_doc_freq)


def ngram_jaccard_with_guard_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_inter: int = 1,
    max_doc_freq: int | None = None,
) -> tuple[DataFrame, dict]:
    """`ngram_jaccard_pairs` plus the guard's measured impact.

    Returns (pairs_df, stats) where stats = {"n_hot_shingles": distinct
    shingles the guard dropped, "dropped_index_rows": inverted-index rows
    removed (sum of their doc frequencies), "max_hot_doc_freq": the most
    viral shingle's doc count}.  The stats aggregate is a driver-side
    scalar over the same cached shingle index the join uses, so the
    mapInPandas shingle generation still runs once.  Use it to monitor the
    guard's recall cost in production: dropped_index_rows / total index
    rows is the fraction of shingle evidence the pair join never sees
    (measured recall-vs-max_doc_freq curve: docs/PLANS.md).
    """
    ex = doc_shingles(df, id_col, text_col, n).cache()
    pairs = _jaccard_from_index(ex, id_col, min_inter, max_doc_freq)
    if max_doc_freq is None:
        return pairs, {"n_hot_shingles": 0, "dropped_index_rows": 0,
                       "max_hot_doc_freq": 0}
    row = (
        hot_shingles(ex, max_doc_freq)
        .agg(
            F.count(F.lit(1)).alias("n_hot"),
            F.coalesce(F.sum("doc_freq"), F.lit(0)).alias("dropped"),
            F.coalesce(F.max("doc_freq"), F.lit(0)).alias("max_df"),
        )
        .first()
    )
    return pairs, {
        "n_hot_shingles": row["n_hot"],
        "dropped_index_rows": int(row["dropped"]),
        "max_hot_doc_freq": int(row["max_df"]),
    }


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 32, shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures: num_perm 64-bit min-hashes per document.

    One explode + num_perm min-aggregates in a single hash-aggregate pass;
    xxhash64(perm_index, xxhash64(shingle)) plays the i-th permutation —
    hashing the 8-byte shingle hash instead of the string halves the
    aggregate stage (measured 2x; one string hash per row instead of
    num_perm of them), with identical min-hash statistics.
    """
    ex = doc_shingles(df, id_col, text_col, shingle_n)
    hashed = ex.select(F.col(id_col), F.xxhash64("shingle").alias("__sh"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("__sh"))).alias(f"h{i}") for i in range(num_perm)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Band hash = xxhash64 over that band's rows; the (band, bucket) self-join
    only materializes colliding docs.  Returns distinct (doc_a, doc_b).
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
                    "bucket"
                ),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select(F.col(id_col), F.explode(band_structs).alias("bb")).select(
        id_col, "bb.band", "bb.bucket"
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.0,
    shingle_n: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates -> exact verification.

    Returns (doc_a, doc_b, inter, union_sz, jaccard) for candidate pairs with
    jaccard >= threshold.  Exact verification happens only on LSH candidates
    (a broadcast-able set), so the quadratic step never touches the corpus.
    """
    ex = doc_shingles(df, id_col, text_col, shingle_n).cache()
    hashed = ex.select(F.col(id_col), F.xxhash64("shingle").alias("__sh"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("__sh"))).alias(f"h{i}") for i in range(num_perm)
    ]
    sigs = hashed.groupBy(id_col).agg(*aggs)
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_perm // bands)
    # verify ONLY the candidate docs: semi-join the inverted index down to
    # them first, so exact Jaccard cost scales with candidates, not corpus
    cand_docs = (
        cands.select(F.col("doc_a").alias(id_col))
        .unionByName(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    ex_cand = ex.join(F.broadcast(cand_docs), id_col, "left_semi").cache()
    exact = _jaccard_from_index(ex_cand, id_col)
    return (
        cands.join(exact, ["doc_a", "doc_b"])
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "union_sz", "jaccard")
    )


def _simhash64(tokens: list[str]) -> int:
    """Deterministic 64-bit SimHash from blake2b token hashes.

    The bit-vote spreading runs vectorized (unpackbits over the
    concatenated digests — verified bit-identical to, and ~9x faster
    than, the per-bit Python loop it replaced); only the per-token
    blake2b stays scalar.
    """
    if not tokens:
        return 0
    import numpy as np

    buf = b"".join(
        hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest() for t in tokens
    )
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), bitorder="little").reshape(-1, 64)
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(tokens)  # ones minus zeros
    out = int.from_bytes(np.packbits(votes > 0, bitorder="little").tobytes(), "little")
    return out - (1 << 64) if out >= (1 << 63) else out  # two's complement -> signed


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched SimHash: token loop is imperative, so it rides a pandas
    UDF rather than a 64x explode (which would be a 64x shuffle blowup)."""
    # null text -> empty-document fingerprint (0), not the hash of 'none'
    return texts.map(
        lambda t: 0 if t is None else _simhash64(str(t).lower().split())
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(F.col(id_col), simhash_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit bands.

    Pigeonhole: hamming <= 16 over 4 bands guarantees at least one identical
    band only for <= 3 differing bands; with max_hamming<=3*16 this blocking
    is a standard recall/cost tradeoff (and exact for hamming < 4).

    The fingerprint frame is cached (16 bytes/row, no text): both self-join
    sides branch from it, and uncached the pandas-UDF SimHash would run
    twice over the corpus.
    """
    fp = simhash_fingerprints(df, id_col, text_col).cache()
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF)).alias(
                    "bucket"
                ),
            )
            for b in range(4)
        ]
    )
    blocked = fp.select(id_col, "simhash", F.explode(bands).alias("bb")).select(
        id_col, "simhash", "bb.band", "bb.bucket"
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def cross_corpus_overlap(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_inter: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Decontamination: training docs sharing n-gram shingles with a
    benchmark/eval corpus.

    The two-corpus variant of the inverted-index join: the train side
    explodes to (id, shingle), the (much smaller) benchmark side likewise,
    and they equi-join on the 8-byte shingle hash — so the full training
    corpus is screened in one shuffle keyed by shingle, never pairwise.
    Returns (train_id, bench_id, inter, train_sz, bench_sz,
    containment) where containment = inter / bench_sz — the fraction of
    the benchmark doc present in the training doc, the decontamination
    decision metric (a benchmark fully quoted inside a big train doc has
    low Jaccard but containment 1.0).

    `max_doc_freq` drops shingles in more than that many TRAIN docs first
    (boilerplate guard, same as `_jaccard_from_index`).
    """
    # cached: each index feeds its size aggregate AND its join side —
    # uncached, the mapInPandas shingle generation runs twice per corpus
    ex_t = doc_shingles(train, id_col, text_col, n).cache()
    ex_b = doc_shingles(bench, id_col, text_col, n).cache()
    sz_t = ex_t.groupBy(id_col).agg(F.count(F.lit(1)).alias("train_sz"))
    sz_b = ex_b.groupBy(id_col).agg(F.count(F.lit(1)).alias("bench_sz"))
    ht = ex_t.select(F.col(id_col).alias("train_id"), F.xxhash64("shingle").alias("sh"))
    if max_doc_freq is not None:
        hot = (
            ht.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
        )
        ht = ht.join(hot.select("sh"), "sh", "left_anti")
    hb = ex_b.select(F.col(id_col).alias("bench_id"), F.xxhash64("shingle").alias("sh"))
    pairs = (
        ht.join(hb, "sh")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= min_inter)
    )
    return (
        pairs.join(sz_t.select(F.col(id_col).alias("train_id"), "train_sz"), "train_id")
        .join(sz_b.select(F.col(id_col).alias("bench_id"), "bench_sz"), "bench_id")
        .withColumn("containment", F.col("inter") / F.col("bench_sz"))
        .select("train_id", "bench_id", "inter", "train_sz", "bench_sz", "containment")
    )


def bloom_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    m_bits: int = 1 << 18,
    k: int = 4,
    min_hits: int = 1,
) -> DataFrame:
    """Broadcast-Bloom decontamination: screen a training corpus against a
    benchmark corpus WITHOUT shuffling the training side at all.

    The 100 TB counterpart to `cross_corpus_overlap` (dd7): dd7's
    shingle-keyed equi-join shuffles every training shingle; here the
    benchmark side (small by definition — it's the eval set) is folded
    into an m_bits Bloom filter (2^18 bits = 32 KB regardless of size),
    broadcast as ONE packed-words row, and every training shingle is
    probed by pure codegen bit math on the scan — the only shuffle left
    is the per-doc count aggregate (map-side combined).  This is the
    Dolma/RefinedWeb-style production shape: corpus-side cost is a scan.

    Probe-true is guaranteed for every genuinely shared shingle (no false
    negatives — a clean screen here needs no second pass); false
    positives are deterministic md5 collisions (all k positions set,
    p ~ (bits_set/m)^k), so flagged docs are candidates to re-check with
    dd7 on the tiny flagged subset.  Returns one row per training doc
    with >= 1 shingle: (id, n_shingles, n_hit, contaminated).

    Oracle-exact: md5-derived positions make the whole decision a pure
    function of the two shingle sets (dd14).
    """
    from era_parser_spark.operators.sketch import (
        bloom_bits,
        bloom_probe_sql,
        bloom_words,
    )

    words = bloom_words(bloom_bits(doc_shingles(bench, id_col, text_col, n), "shingle", m_bits, k), m_bits)
    hit = F.expr(bloom_probe_sql("words", "shingle", m_bits, k))
    return (
        doc_shingles(train, id_col, text_col, n)
        .crossJoin(F.broadcast(words))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit.cast("long")).alias("n_hit"),
        )
        .withColumn("contaminated", F.col("n_hit") >= min_hits)
    )


def simhash_md5_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """SimHash computed entirely JVM-side from a 60-bit md5 token hash —
    the exactly-oracle-able twin of simhash_fingerprints (whose blake2b
    hash has no SQL counterpart, leaving dd4 rows-only).

    Per token: h = int(md5(token)[:15 hex]) (60 bits keeps the value
    positive in a signed BIGINT in both engines).  Per document, bit j of
    the fingerprint is the sign of sum(+-1 over tokens' bit j).  The
    per-bit sums run as 60 parallel agg expressions over ONE token
    explode — shuffle volume is O(docs * 60) map-side-combined partial
    sums, not the 64x-exploded token stream the pandas-UDF docstring
    above warns about, and md5/shift/sum all stay in codegen.
    """
    tok = tokens_col(text_col)
    ex = df.select(F.col(id_col), F.explode(tok).alias("__t")).select(
        F.col(id_col), md5_60bit(F.col("__t")).alias("__h")
    )
    sums = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"__b{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"__b{j}") >= 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.alias("simhash"))


def lsh_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified by SIGNATURE AGREEMENT instead of exact
    Jaccard: jaccard_est = fraction of the num_perm min-hashes the two
    docs share (an unbiased estimator of true Jaccard, stddev
    ~sqrt(J(1-J)/num_perm)).

    Why it exists: exact verification expands the shingle inverted index
    into one row per (candidate pair, shared shingle) — cost
    sum_over_shingles(df^2), which the 8x LLM rehearsal measured at 28x
    the corpus bytes (3.9 GB shuffled for a 138 MB corpus) under a
    clone-heavy duplicate structure (docs/PLANS.md round-6 section).
    The estimate path touches shingles only once (the signature
    aggregate); verification itself joins two 40-byte signature rows per
    candidate pair — shuffle is O(candidates), never O(pair-shingle
    volume).  The price is estimator noise near the threshold: pairs with
    true J within ~2/sqrt(num_perm) of `threshold` can land on either
    side.  Deterministic for a given corpus (xxhash64 permutations).

    Output: (doc_a, doc_b, jaccard_est) for candidate pairs with
    jaccard_est >= threshold.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_n).cache()
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_perm // bands)
    return estimate_pairs_from_sigs(sigs, cands, id_col, num_perm, threshold)


def estimate_pairs_from_sigs(
    sigs: DataFrame,
    cands: DataFrame,
    id_col: str,
    num_perm: int,
    threshold: float,
) -> DataFrame:
    """The O(candidates) signature-agreement scorer behind
    `lsh_estimate_pairs`, factored so any candidate source with matching
    signatures (fuzzy_dedup's digest-keyed collapse, an external blocker)
    reuses it.  `sigs`: (id, h0..h{num_perm-1}); `cands`: (doc_a, doc_b).
    Output: (doc_a, doc_b, jaccard_est) with jaccard_est >= threshold."""
    sa = sigs.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"h{i}").alias(f"__a{i}") for i in range(num_perm)],
    )
    sb = sigs.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"h{i}").alias(f"__b{i}") for i in range(num_perm)],
    )
    matches = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int") for i in range(num_perm)
    )
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(num_perm)).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )


def lsh_exact_pairs_bounded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified by EXACT intersection of the two docs'
    hashed-shingle SETS — pair-bounded shuffle, never sum(df^2).

    Same verification semantics as `minhash_lsh_dedup_pairs` (both count
    the intersection of xxhash64'd distinct shingles; identical inter /
    union_sz / jaccard values), but a different physical shape: instead
    of self-joining the inverted index on the shingle key (one row per
    (co-occurring pair, shared shingle) — cost sum_over_shingles(df^2),
    which clone-heavy duplication turns super-linear: 28x corpus bytes
    measured on the 8x rehearsal, docs/PLANS.md), each candidate doc's
    shingle-hash set is collected ONCE into a sorted int64 array and the
    candidate pairs join the two arrays — `array_intersect` (a native JVM
    expression, not an interpreted HOF lambda) computes the exact
    intersection per pair.  Shuffle: one array per doc per candidate pair
    it participates in — O(sum_over_pairs(|A| + |B|)), budgetable from
    the candidate count alone, with NO term that depends on how many
    OTHER docs share a shingle.  The index plan can beat it only when
    candidates are mostly low-similarity false positives (it ships just
    shared shingles); LSH banding makes that the rare regime, and at
    scale an unbudgetable sum(df^2) is the wrong default risk.

    Output: (doc_a, doc_b, inter, union_sz, jaccard) for candidate pairs
    with inter >= 1 and jaccard >= threshold — same contract as
    `minhash_lsh_dedup_pairs`.
    """
    ex = doc_shingles(df, id_col, text_col, shingle_n).cache()
    hashed = ex.select(F.col(id_col), F.xxhash64("shingle").alias("__sh"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("__sh"))).alias(f"h{i}") for i in range(num_perm)
    ]
    # cached: the banding self-join reads signatures on both sides
    # (round 12, same bound as fuzzy_dedup's signature cache)
    sigs = hashed.groupBy(id_col).agg(*aggs).cache()
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_perm // bands)
    return verify_candidate_pairs(hashed, cands, id_col, threshold)


def verify_candidate_pairs(
    hashed: DataFrame,
    cands: DataFrame,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """The pair-bounded exact verifier behind `lsh_exact_pairs_bounded`,
    factored so any candidate source (batch LSH banding, the streaming
    band monitor st9, an external blocker) gets the same exact-Jaccard
    verification with the same O(sum over pairs of |A|+|B|) shuffle.

    `hashed`: (id, __sh) — one row per (doc, xxhash64'd distinct
    shingle).  `cands`: (doc_a, doc_b).  Output: (doc_a, doc_b, inter,
    union_sz, jaccard) for pairs with inter >= 1, jaccard >= threshold.
    """
    # the pair frame feeds FOUR plan branches below (two cand_docs union
    # arms + the sa/sb join chain); uncached, Catalyst recomputes its
    # whole upstream (banding self-join + signature aggregate) per branch
    # — measured 150 MB shuffle for 241 pairs on the 8x exact-clone
    # rehearsal corpus.  The frame is one row per candidate pair, the
    # quantity this design already budgets, so caching it is safe at any
    # scale.
    cands = cands.cache()
    # collect arrays only for candidate docs (same semi-join the index
    # plan uses), so non-candidate docs never aggregate an array
    cand_docs = (
        cands.select(F.col("doc_a").alias(id_col))
        .unionByName(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # cached: `sets` feeds BOTH join sides below (sa and sb) — uncached,
    # each side re-runs the semi-join + collect_set aggregate over the
    # shingle frame (round 12).  One row per CANDIDATE doc with its
    # sorted hash array — pair-bounded by design, cacheable at any scale.
    sets = (
        hashed.join(F.broadcast(cand_docs), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__sh")).alias("__shs"))
        .cache()
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("__shs").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("__shs").alias("__sb"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("union_sz", F.size("__sa") + F.size("__sb") - F.col("inter"))
        .filter(F.col("inter") >= 1)
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "union_sz", "jaccard")
    )


def fuzzy_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    verify: str = "exact",
    keeper: str | tuple = "min_id",
) -> DataFrame:
    """End-to-end fuzzy deduplication — the composition a production
    curation run actually executes (the SlimPajama/RefinedWeb shape):

        collapse bit-identical texts (md5 -> min id, the dd1 plan)
        -> MinHash signatures -> LSH banding candidates -> Jaccard
        verify -> connected components over the near-dup graph -> keep
        the minimum id of every cluster -> re-attach collapsed clones
        to their representative's cluster.

    Output: one row per input document — (id, cluster_id, cluster_sz,
    kept).  ``kept`` marks the cluster survivor; filtering on it yields
    the deduplicated corpus, while the full frame doubles as the audit
    trail (who was dropped, and with whom it clustered).  The survivor
    policy is ``keeper``: "min_id" (default — the cluster representative
    itself) or ``(score_col, "max"|"min")`` — keep the member with the
    best score under the deterministic total order (score, id ASC); a
    higher-scored bit-identical clone displaces the min-id keeper, since
    the policy is applied AFTER clone re-attachment.

    Clone safety (the round-6 rehearsal finding): exact verification
    expands the shingle index into one row per (pair, shared shingle) —
    sum(df^2) over shingles — which a clone-heavy corpus turns
    super-linear (measured 28x corpus bytes of shuffle at 8x cloning,
    docs/PLANS.md).  The collapse step defuses exactly that mode while
    staying EXACT: identical texts have Jaccard 1 >= any threshold, so a
    clone group is provably one near-dup cluster with its min id as
    representative; running LSH/verify on distinct texts only and
    re-attaching clones afterwards yields the identical output frame
    (pinned by tests/test_round7_ops.py's differential against the
    uncollapsed composition `minhash_lsh_dedup_pairs` ->
    `connected_components` -> `cluster_sizes`).  Clones never reach shingling, the
    signature aggregate, or the pair index, in EITHER verify mode (a
    clone group of size k would otherwise contribute k(k-1)/2 candidate
    pairs even under "estimate").  Cost (round-8 digest-keyed plan): text
    NEVER rides a shuffle — shingles are keyed by the md5 digest itself,
    so clone copies collapse in the signature aggregate's map-side
    combine, and every shuffle carries digests, 8-byte shingle hashes, or
    ids only.  Clones are re-shingled in the scan stage (linear CPU — the
    deliberate trade; round 7's text-collapse variant shuffled one copy
    of every distinct text and measured ~45% over the uncollapsed plan on
    a clone-FREE corpus).

    Scale shape: every stage is the sub-quadratic path proven by its
    standalone operator — candidates via band equi-join (never all
    pairs), exact verify only on broadcast-semi-joined candidates,
    clustering via connected_components (O(log n) star-contraction
    rounds for any graph shape past its driver union-find gate).

    ``verify``: "exact" (default) scores candidate pairs by true hashed-
    shingle Jaccard via the PAIR-BOUNDED plan (`lsh_exact_pairs_bounded`)
    — shuffle O(candidates x doc size), no sum(df^2) term, so near-dup
    clone structure (8 tail-variant replicas per doc, the rehearsal
    corpus) cannot blow it up (the inverted-index verification of
    `minhash_lsh_dedup_pairs` pays sum(df^2): 3.9 GB vs the 138 MB
    corpus at 8x cloning, docs/PLANS.md); "estimate" scores by
    min-hash agreement (`lsh_estimate_pairs`) — O(candidates) shuffle,
    cheapest of all, with estimator noise ~2/sqrt(num_perm) around the
    threshold.
    """
    from era_parser_spark.operators.graph import cluster_sizes, connected_components

    if verify not in ("exact", "estimate"):
        raise ValueError(f"verify must be 'exact' or 'estimate', got {verify!r}")
    if keeper != "min_id" and not (
        isinstance(keeper, tuple)
        and len(keeper) == 2
        and keeper[1] in ("max", "min")
    ):
        raise ValueError(
            f"keeper must be 'min_id' or (score_col, 'max'|'min'), got {keeper!r}"
        )

    def _finish(members: DataFrame) -> DataFrame:
        """(id, cluster_id) -> the output frame, applying the keeper
        policy.  "min_id" keeps the cluster representative itself;
        (score_col, "max"/"min") keeps the best-scored member under the
        deterministic total order (score DESC|ASC, id ASC) — production
        pipelines keep the highest-quality cluster member (longest text,
        best t19/t2 score), not the smallest id.  The score rides a
        (id, score)-only join; cluster_id stays the component min id
        either way, so the audit-trail identity is keeper-independent."""
        out = cluster_sizes(members, id_col=id_col)
        if keeper == "min_id":
            return out.select(
                F.col(id_col),
                "cluster_id",
                "cluster_sz",
                (F.col(id_col) == F.col("cluster_id")).alias("kept"),
            )
        from pyspark.sql import Window as W

        score_col, direction = keeper
        order = (
            F.col(score_col).desc() if direction == "max" else F.col(score_col).asc()
        )
        rn = F.row_number().over(
            W.partitionBy("cluster_id").orderBy(order, F.col(id_col).asc())
        )
        return out.join(df.select(id_col, score_col), id_col).select(
            F.col(id_col),
            "cluster_id",
            "cluster_sz",
            (rn == 1).alias("kept"),
        )

    # -- collapse bit-identical texts to their min id (exact: J(t,t)=1) --
    # Only texts that produce >= 1 shingle collapse; shorter texts have no
    # signature either way and must stay singletons exactly like the
    # uncollapsed plan (two identical 2-token docs do NOT cluster there).
    # The emptiness condition mirrors doc_shingles' Python tokenizer:
    # lowercase whitespace split, shingle count = len(toks) - n + 1.
    toks = tokens_col(F.col(text_col))
    shingleable = (
        F.col(text_col).isNotNull()
        & (F.trim(F.col(text_col)) != "")
        & (F.size(toks) >= shingle_n)
    )
    keyed = df.select(
        F.col(id_col),
        F.col(text_col),
        F.when(shingleable, F.md5(F.col(text_col))).alias("__dig"),
    )
    collapsible = keyed.filter(F.col("__dig").isNotNull())
    passthrough = keyed.filter(F.col("__dig").isNull()).select(id_col)
    # digest -> representative id; ids + digests only (text never rides it).
    # Cached: it feeds FOUR plan branches (mapping, nodes, and the two
    # pair-rekeying joins) and each uncached branch re-runs the corpus
    # scan + the (digest, id) aggregate shuffle; one row per distinct
    # text, 48B ids+digests — cacheable at any scale, spills if not.
    reps = collapsible.groupBy("__dig").agg(F.min(id_col).alias("__rep")).cache()
    mapping = (
        collapsible.select(id_col, "__dig")
        .join(reps, "__dig")
        .select(id_col, "__rep")
        .unionByName(
            passthrough.select(F.col(id_col), F.col(id_col).alias("__rep"))
        )
    )
    nodes = reps.select(F.col("__rep").alias(id_col)).unionByName(
        passthrough.select(id_col)
    )
    # digest-keyed LSH (round-8): shingles are keyed by the md5 digest
    # — computable narrowly per row — so clone copies collapse in the
    # map-side combine of the signature aggregate and raw text NEVER
    # rides a shuffle (the round-7 text collapse cost ~45% extra on a
    # clone-FREE corpus because every distinct text shuffled once for
    # nothing; verdict r7).  Clones are re-shingled (linear CPU, the
    # scan stage) — the deliberate trade: shuffle is the scarce
    # resource at scale, not per-row hashing.  Signatures / candidate
    # pairs / verification are digest-keyed and identical in value to
    # the doc-keyed ones (xxhash64 permutations depend only on the
    # shingle hash); the verified pairs — pairs only, never corpus —
    # map back to representative ids at the end.
    hashed_d = doc_shingles(
        collapsible, "__dig", text_col, shingle_n, id_type="string"
    ).select(F.col("__dig"), F.xxhash64("shingle").alias("__sh"))
    if verify == "exact":
        hashed_d = hashed_d.cache()
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("__sh"))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    # cached in BOTH verify modes (round 12): the banding self-join
    # reads the signature frame on both sides, so uncached the
    # 32-perm aggregate over the shingle frame ran twice.  One row
    # per distinct digest, 32 longs — bounded like the estimate
    # path's existing cache.
    sigs_d = hashed_d.groupBy("__dig").agg(*aggs).cache()
    cands_d = lsh_candidate_pairs(sigs_d, "__dig", bands, num_perm // bands)
    if verify == "exact":
        pairs_d = verify_candidate_pairs(hashed_d, cands_d, "__dig", threshold)
    else:
        pairs_d = estimate_pairs_from_sigs(
            sigs_d, cands_d, "__dig", num_perm, threshold
        )
    ra = reps.select(F.col("__dig").alias("doc_a"), F.col("__rep").alias("__ra"))
    rb = reps.select(F.col("__dig").alias("doc_b"), F.col("__rep").alias("__rb"))
    dedges = (
        pairs_d.select("doc_a", "doc_b")
        .join(ra, "doc_a")
        .join(rb, "doc_b")
        .select(
            F.least("__ra", "__rb").alias("doc_a"),
            F.greatest("__ra", "__rb").alias("doc_b"),
        )
    )
    comps = connected_components(
        nodes, dedges, id_col=id_col, src_col="doc_a", dst_col="doc_b",
    )
    # re-attach clones: every doc takes its representative's cluster.  The
    # expanded cluster's min id equals the min of its reps' ids (each rep
    # is already the min of its digest group), so cluster_id/kept
    # semantics are unchanged; sizes count ALL members.
    expanded = mapping.join(
        comps.withColumnRenamed(id_col, "__rep"), "__rep"
    ).select(F.col(id_col), "cluster_id")
    return _finish(expanded)


def shared_token_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    l: int = 8,
    min_span_tokens: int = 12,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Exact cross-document shared-span detection — the substring-dedup
    semantics of suffix-array methods (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"), re-expressed as a
    relational plan: every maximal run of >= min_span_tokens consecutive
    tokens appearing verbatim in two documents, with its position in
    each.

    Plan: token l-grams with positions (one window of l-1 leads — no
    interpreted HOF slices), a frequency guard dropping grams in more
    than max_doc_freq docs (the boilerplate/quadratic guard, same
    tradeoff as dd2's), an inverted-index equi-join on the 8-byte
    xxhash64 of the gram (strings stay home; hash collisions could in
    principle invent a match — at 64 bits that is ~n²/2⁶⁵, accepted and
    shared with dd2/dd3), then gaps-and-islands per (doc_a, doc_b,
    diagonal): consecutive match positions collapse into maximal spans
    with one row_number window.  Two hash shuffles + two sorts total;
    everything whole-stage codegen.

    Output: (doc_a, doc_b, start_a, start_b, span_tokens), positions
    0-based, spans measured in tokens.
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(id_col), F.posexplode(tokens_col(text_col)).alias("pos", "__tk")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    parts = [F.col("__tk")] + [F.lead("__tk", k).over(w) for k in range(1, l)]
    # the hashed gram index feeds THREE branches (hot-set agg + both
    # self-join sides) — cache it or Catalyst re-runs the tokenize +
    # lead-window subtree per branch (the multi-branch recompute trap,
    # docs/PLANS.md; same fix as dd2/dd3's cached shingle index).  The
    # cached frame carries only (id, pos, 8-byte hash), never the gram
    # string.
    grams = (
        base.select(
            F.col(id_col),
            "pos",
            F.when(parts[-1].isNotNull(), F.concat_ws(" ", *parts)).alias("__gram"),
        )
        .filter(F.col("__gram").isNotNull())
        .select(F.col(id_col), "pos", F.xxhash64("__gram").alias("__gh"))
        .cache()
    )
    hot = (
        grams.groupBy("__gh")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__gh")
    )
    joinable = grams.join(F.broadcast(hot), "__gh", "left_anti")
    a = joinable.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), F.col("__gh")
    )
    b = joinable.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), F.col("__gh")
    )
    matches = a.join(b, "__gh").filter(F.col("doc_a") < F.col("doc_b"))
    diag = (F.col("pa") - F.col("pb")).alias("__diag")
    wi = W.partitionBy("doc_a", "doc_b", "__diag").orderBy("pa")
    islands = matches.select("doc_a", "doc_b", "pa", "pb", diag).withColumn(
        "__grp", F.col("pa") - F.row_number().over(wi)
    )
    return (
        islands.groupBy("doc_a", "doc_b", "__diag", "__grp")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.max("pa") - F.min("pa") + l).cast("long").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span_tokens)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


def incremental_near_dedup(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 100,
) -> DataFrame:
    """Screen an arriving batch against an already-deduplicated corpus —
    the daily-crawl shape of near-dedup, and the asymmetric counterpart
    of s7's incremental top-k: work scales with the BATCH, never the
    corpus's own pair space.

    Emits exact-Jaccard near-dup pairs that involve at least one new
    document: new-vs-old (`pair_kind='new_old'`, doc_a is the new id) and
    new-vs-new (`pair_kind='new_new'`, doc_a < doc_b).  Old-vs-old pairs
    are never recomputed — that corpus was deduped when it was ingested.

    Scale shape: the old side's inverted index is the persisted artifact
    a production pipeline keeps between runs; here both indexes key on
    xxhash64(shingle) (8-byte shuffle keys), the hot-shingle guard is
    computed over the COMBINED corpus (a shingle viral across old docs
    must also be dropped from the new side), and the two joins —
    new x old and the new x new self-join — are both bounded by the
    batch's index size.
    """
    ex_old = doc_shingles(old_df, id_col, text_col, n)
    ex_new = doc_shingles(new_df, id_col, text_col, n)
    sizes = (
        ex_old.unionByName(ex_new)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("nsh"))
    )
    h_old = ex_old.select(F.col(id_col), F.xxhash64("shingle").alias("sh"))
    h_new = ex_new.select(F.col(id_col), F.xxhash64("shingle").alias("sh")).cache()
    if max_doc_freq is not None:
        hot = (
            h_old.unionByName(h_new)
            .groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("sh")
        )
        h_old = h_old.join(hot, "sh", "left_anti")
        h_new = h_new.join(hot, "sh", "left_anti")
    a = h_new.alias("a")
    cross = (
        a.join(h_old.alias("b"), F.col("a.sh") == F.col("b.sh"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn("pair_kind", F.lit("new_old"))
    )
    within = (
        a.join(
            h_new.alias("c"),
            (F.col("a.sh") == F.col("c.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"c.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn("pair_kind", F.lit("new_new"))
    )
    pairs = cross.unionByName(within)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("nsh").alias("nsh_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("nsh").alias("nsh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("union_sz", F.col("nsh_a") + F.col("nsh_b") - F.col("inter"))
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "pair_kind", "inter", "union_sz", "jaccard")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_pairs: int = 50,
    idf_scale: int = 10_000,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Document near-dup / similarity pairs by TF-IDF weighted cosine —
    the classic sparse-vector duplicate detector (complements dd2's set
    Jaccard: term FREQUENCY matters, so a doc that repeats a rare phrase
    matches its source stronger than bag-of-set methods see).

    Exactness contract: weights are integers — w(doc, term) =
    tf * (idf_scale // df) with integer division (the t8 rarity trick),
    so dot products and norms are exact BIGINT math in both engines, and
    only the final dot/sqrt(na*nb) touches floats (quantized
    DECIMAL(10,6) like every cosine in this engine).  idf_scale=10^4
    keeps per-doc norm^2 < 2^53, so the double conversion before sqrt is
    exact.

    Scale shape: one token-count aggregate, a df aggregate on the same
    key, then the pair dot via inverted-index equi-join on the term
    string — the same sum(df^2) expansion as every inverted-index
    verifier, so `max_doc_freq` (the dd2 hot-shingle guard) bounds viral
    terms; norms still count ALL terms, making guarded cosines a strict
    lower bound.  Top pairs with total tie-break ordering.  The guard is
    LOAD-BEARING (8x rehearsal, docs/PLANS.md round 7: on a clone-heavy
    corpus whose vocabulary saturates the cutoff it drops the whole
    index — 0 pairs — while ungated the join is ~sum(df^2) ~ 10^9 rows);
    at scale, if guarded recall is insufficient, compose LSH candidates
    (dd3/s6) with pair-bounded TF-IDF scoring instead (the dd9
    `lsh_exact_pairs_bounded` pattern: ship each candidate doc's weighted
    term vector per pair, never self-join the index).

    Output: (doc_a, doc_b, dot, cosine) — `dot` exposed for exactness
    audits.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("__t")
    )
    tf = toks.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    w = (
        tf.join(dfreq, "__t")
        .select(
            F.col(id_col),
            "__t",
            # integer division via `div` — float division + cast can round
            # across an integer boundary (the CLAUDE.md a-div-b rule)
            (F.col("__tf") * F.expr(f"{idf_scale} div __df")).alias("__w"),
            "__df",
        )
    )
    norms = w.groupBy(id_col).agg(
        F.sum(F.col("__w") * F.col("__w")).alias("__n2")
    )
    idx = w if max_doc_freq is None else w.filter(F.col("__df") <= max_doc_freq)
    a = idx.select(F.col(id_col).alias("doc_a"), F.col("__t"), F.col("__w").alias("__wa"))
    b = idx.select(F.col(id_col).alias("doc_b"), F.col("__t"), F.col("__w").alias("__wb"))
    dots = (
        a.join(b, "__t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("__n2").alias("__na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("__n2").alias("__nb"))
    cos = (
        F.col("dot").cast("double")
        / F.sqrt(F.col("__na").cast("double") * F.col("__nb").cast("double"))
    ).cast("decimal(10,6)").cast("double")
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "dot", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(top_pairs)
    )


def tfidf_pairs_bounded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    idf_scale: int = 10_000,
    max_df_candidates: int = 20,
    top_pairs: int | None = None,
) -> DataFrame:
    """TF-IDF cosine pairs with RARE-TERM BLOCKING + pair-bounded exact
    scoring — the scale-safe composition the dd13 8x rehearsal finding
    calls for (docs/PLANS.md round 7).

    `tfidf_cosine_pairs`' guard faces a dilemma on clone-heavy corpora:
    ungated, the inverted-index self-join pays sum(df^2); gated, dropped
    viral terms are missing from the DOT (guarded cosines are lower
    bounds, and a saturated vocabulary yields zero pairs).  This operator
    splits the two roles the index join was serving:

    - CANDIDATES come from rare terms only (df <= max_df_candidates) —
      classic discriminative-term blocking; the join cost is
      sum_over_rare_terms(df^2) <= max_df_candidates * index rows:
      LINEAR in the corpus for a fixed cutoff.
    - SCORING is the TRUE cosine over ALL terms (viral ones included):
      each candidate doc ships its full (term, weight) vector once per
      pair (the lsh_exact_pairs_bounded shape) and the integer dot is an
      aggregate fold with a native map lookup per term — pair-bounded,
      no df^2 term anywhere in scoring.

    Recall contract: a pair is found iff it shares >= 1 term with df <=
    max_df_candidates; its cosine is then EXACT (unlike the guarded
    lower bound).  Same integer-weight exactness as dd13 (w = tf *
    (idf_scale div df), BIGINT dot/norms, DECIMAL(10,6)-quantized
    cosine).  Output: (doc_a, doc_b, dot, cosine), cosine >= threshold,
    optionally top `top_pairs` by (cosine desc, doc_a, doc_b).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("__t")
    ).filter(F.col("__t") != "")
    tf = toks.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    w = tf.join(dfreq, "__t").select(
        F.col(id_col),
        "__t",
        (F.col("__tf") * F.expr(f"{idf_scale} div __df")).alias("__w"),
        "__df",
    )
    # candidate pairs: equi-join restricted to RARE terms
    rare = w.filter(F.col("__df") <= max_df_candidates).select(id_col, "__t")
    ra = rare.select(F.col(id_col).alias("doc_a"), "__t")
    rb = rare.select(F.col(id_col).alias("doc_b"), "__t")
    cands = (
        ra.join(rb, "__t")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # full weighted vectors, one row per doc (sorted for determinism)
    vecs = w.groupBy(id_col).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("__t", "__w")))
        ).alias("__m"),
        F.sum(F.col("__w") * F.col("__w")).alias("__n2"),
    )
    va = vecs.select(
        F.col(id_col).alias("doc_a"), F.col("__m").alias("__ma"),
        F.col("__n2").alias("__na"),
    )
    vb = vecs.select(
        F.col(id_col).alias("doc_b"), F.col("__m").alias("__mb"),
        F.col("__n2").alias("__nb"),
    )
    dot = F.aggregate(
        F.map_entries("__ma"),
        F.lit(0).cast("bigint"),
        lambda acc, e: acc
        + e.getField("value")
        * F.coalesce(F.element_at("__mb", e.getField("key")), F.lit(0)),
    )
    cos = (
        (
            F.col("dot").cast("double")
            / F.sqrt(F.col("__na").cast("double") * F.col("__nb").cast("double"))
        )
        .cast("decimal(10,6)")
        .cast("double")
    )
    out = (
        cands.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("dot", dot)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "dot", "cosine")
    )
    if top_pairs is not None:
        out = out.orderBy(
            F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b")
        ).limit(top_pairs)
    return out


def remove_shared_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    l: int = 8,
    min_span_tokens: int = 12,
    max_doc_freq: int = 100,
) -> DataFrame:
    """The CUT step of exact substring dedup (Lee et al., ExactSubstr):
    wherever `shared_token_spans` finds a verbatim >= min_span_tokens
    run shared by two documents, keep the lower-id document's copy and
    cut the tokens out of the higher-id one, then reassemble the
    surviving tokens into text.  dd10 is the detector; this is the
    transform a curation run actually applies.

    Plan: spans (doc_a < doc_b) -> masked (doc, pos) positions by
    exploding each doc_b-side span range (rows = tokens REMOVED — the
    removal volume, never the corpus); distinct absorbs overlapping
    spans.  Tokens left-anti join the mask on (id, pos) and re-join
    into text via one sorted collect per doc.  Shuffle = corpus tokens
    once (the rewrite is inherently token-granular) + removal volume;
    no stage is pairwise.

    Output: (id, n_tokens, n_removed, clean_text); fully-masked docs
    come back with clean_text = '' (present, not dropped).
    """
    spans = shared_token_spans(
        df, id_col, text_col, l=l, min_span_tokens=min_span_tokens,
        max_doc_freq=max_doc_freq,
    )
    masked = (
        spans.select(
            F.col("doc_b").alias(id_col),
            F.explode(
                F.sequence(
                    F.col("start_b").cast("long"),
                    F.col("start_b").cast("long") + F.col("span_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )
    toks = df.select(
        F.col(id_col), F.posexplode(tokens_col(text_col)).alias("pos", "__tk")
    ).withColumn("pos", F.col("pos").cast("long"))
    kept = toks.join(masked, [id_col, "pos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__tk"))),
                lambda s: s["__tk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    base = df.select(
        F.col(id_col), F.size(tokens_col(text_col)).cast("long").alias("n_tokens")
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )
