"""End-to-end training-data curation pipeline over `documents`.

This is the composition a real pretraining-data run executes: enrich with
token counts + language ID + content fingerprint, drop low-quality and
unidentifiable docs, exact-dedup on the normalized fingerprint keeping the
lowest doc_id (with the copy count carried along for provenance).

Every step is a pure JVM column expression or a digest-keyed aggregate, so
at 100 TB the only shuffle is (fingerprint, doc_id) pairs — document
payloads never move; near-dup clustering on top of this is dd5_dup_clusters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from era_parser_spark.operators.text import (
    bpe_token_count_col,
    fingerprint_col,
    lang_id_col,
    token_count_col,
)
from era_parser_spark.queries.registry import register, table
from era_parser_spark.queries.text import _lang_case_sql

_TOK = "regexp_split_to_array(trim(lower(text)), '\\s+')"


@register(
    "p1_curation_pipeline",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             len({_TOK}) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+'))
               AS n_bpe_tokens,
             {_lang_case_sql()} AS predicted_lang,
             md5(array_to_string({_TOK}, ' ')) AS fingerprint
      FROM documents
    ),
    filt AS (
      SELECT * FROM enriched
      WHERE n_tokens BETWEEN 10 AND 100000 AND predicted_lang <> 'und'
    ),
    keep AS (
      SELECT fingerprint, min(doc_id) AS doc_id, count(*) AS n_copies
      FROM filt GROUP BY fingerprint
    )
    SELECT f.doc_id, f.predicted_lang, f.n_tokens, f.n_bpe_tokens,
           k.n_copies, f.fingerprint
    FROM keep k JOIN filt f
      ON f.doc_id = k.doc_id AND f.fingerprint = k.fingerprint
    """,
)
def p1_curation_pipeline(spark, sf_dir):
    # quality filter -> language filter -> fingerprint dedup (min-id
    # survivor, copy count kept) in one declarative plan.
    docs = table(spark, sf_dir, "documents", fan_out=True)
    enriched = docs.select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        bpe_token_count_col("text").alias("n_bpe_tokens"),
        lang_id_col("text").alias("predicted_lang"),
        fingerprint_col("text").alias("fingerprint"),
    )
    # cached: filt feeds both the dedup groupBy and the survivor join;
    # uncached, Catalyst re-runs the whole enrichment (lang-id scoring,
    # fingerprint md5, BPE regex) once per branch.  The cache holds only
    # doc_id + 4 derived columns — the text never enters it.
    filt = enriched.filter(
        F.col("n_tokens").between(10, 100000) & (F.col("predicted_lang") != "und")
    ).cache()
    keep = filt.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return keep.join(filt, ["fingerprint", "doc_id"]).select(
        "doc_id", "predicted_lang", "n_tokens", "n_bpe_tokens", "n_copies", "fingerprint"
    )


@register(
    "p2_sequence_packing",
    # DuckDB twin of the two-phase prefix sum is a plain global window
    # cumsum (the oracle doesn't need to scale); CASTs pin BIGINT vs
    # DuckDB's HUGEINT window sums.
    oracle=f"""
    WITH tc AS (SELECT doc_id, len({_TOK}) AS n_tokens FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM tc
    ),
    spans AS (
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(s AS BIGINT) AS tok_start
      FROM cum WHERE n_tokens > 0
    )
    SELECT CAST(u.w AS BIGINT) AS window_id, doc_id, tok_start, n_tokens,
           CAST(least(tok_start + n_tokens, (u.w + 1) * 512)
                - greatest(tok_start, u.w * 512) AS BIGINT) AS n_in_window
    FROM spans,
         unnest(range(tok_start // 512, (tok_start + n_tokens - 1) // 512 + 1))
           AS u(w)
    """,
)
def p2_sequence_packing(spark, sf_dir):
    # Concat-and-chunk pretraining packing: docs laid end-to-end in doc_id
    # order, cut into 512-token windows; one output row per (window, doc)
    # overlap.  Prefix sum is the distributed two-phase scan.
    from era_parser_spark.operators.curation import pack_token_windows

    docs = table(spark, sf_dir, "documents")
    counted = docs.select("doc_id", token_count_col("text").alias("n_toks"))
    return pack_token_windows(counted, "doc_id", "n_toks", window=512, bucket_width=128)


@register(
    "p3_source_quota",
    oracle=f"""
    SELECT doc_id, source, n_tokens, rn FROM (
      SELECT doc_id, source, CAST(len({_TOK}) AS BIGINT) AS n_tokens,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY len({_TOK}) DESC, doc_id) AS INTEGER) AS rn
      FROM documents
    ) WHERE rn <= 15
    """,
)
def p3_source_quota(spark, sf_dir):
    # Per-source document cap (the per-domain quota step of a curation
    # pipeline): keep the 15 longest docs per source, deterministic
    # tiebreak on doc_id.
    from era_parser_spark.operators.curation import quota_per_group

    docs = table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id", "source", token_count_col("text").cast("long").alias("n_tokens")
    )
    return quota_per_group(
        counted, "source", [F.desc("n_tokens"), F.asc("doc_id")], n=15
    )


@register(
    "p4_stratified_sample",
    # knuth_bucket: id reduced mod 2^32 first, multiply in HUGEINT/DECIMAL
    # so ids beyond 2^63/K cannot wrap — exact in both engines,
    # so the keep decision is bit-identical — see
    # operators/curation.py::stratified_sample.
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE (((doc_id % 4294967296 + 4294967296) % 4294967296) * CAST(2654435761 AS HUGEINT)) % 4294967296
          < CASE source
              WHEN 'src0' THEN CAST(floor(0.8 * 4294967296) AS BIGINT)
              WHEN 'src1' THEN CAST(floor(0.5 * 4294967296) AS BIGINT)
              ELSE            CAST(floor(0.2 * 4294967296) AS BIGINT)
            END
    """,
)
def p4_stratified_sample(spark, sf_dir):
    # Deterministic per-source subsampling (source rebalancing before
    # training): pure codegen filter, reproducible across runs/engines —
    # unlike sampleBy's RNG.
    from era_parser_spark.operators.curation import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "source", "doc_id", {"src0": 0.8, "src1": 0.5}, default_fraction=0.2
    ).select("doc_id", "source")


@register(
    "p5_temperature_mix",
    # rate = sqrt(min_n/n) is a correctly-rounded IEEE sqrt, *2^60 is exact,
    # and the draw is the 60-bit md5 int — every step bit-identical in both
    # engines (operators/curation.py::temperature_mix).
    oracle="""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    rates AS (
      SELECT lang,
             sqrt(CAST((SELECT min(n) FROM counts) AS DOUBLE)
                  / CAST(n AS DOUBLE)) AS keep_rate
      FROM counts
    )
    SELECT d.doc_id, d.lang, r.keep_rate
    FROM documents d JOIN rates r USING (lang)
    WHERE CAST(concat('0x',
            substr(md5('mix_' || CAST(d.doc_id AS VARCHAR)), 1, 15))
          AS BIGINT)
          < CAST(floor(r.keep_rate * 1152921504606846976) AS BIGINT)
    """,
)
def p5_temperature_mix(spark, sf_dir):
    # Temperature mixing over the (skewed) lang distribution: post-sample
    # mix proportional to count^0.5, smallest language kept whole.  Rates
    # derived from the data in one tiny aggregate; corpus never shuffles.
    from era_parser_spark.operators.curation import temperature_mix

    docs = table(spark, sf_dir, "documents")
    return temperature_mix(docs, "lang", "doc_id", alpha=0.5)


@register(
    "p6_domain_filter",
    # sum(n_chars) div count(*) is exact integer division in both engines,
    # so the >= 290 verdict can never straddle a float rounding.
    oracle="""
    WITH stats AS (
      SELECT source,
             count(*) AS domain_n_docs,
             CAST(sum(n_chars) // count(*) AS BIGINT) AS domain_avg_chars
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, s.domain_n_docs, s.domain_avg_chars
    FROM documents d JOIN stats s USING (source)
    WHERE s.domain_avg_chars >= 290 AND d.source <> 'src7'
    """,
)
def p6_domain_filter(spark, sf_dir):
    # Domain-level curation: drop whole sources by blocklist + aggregate
    # reputation (mean doc length >= 290 chars).  Both rules are binding on
    # the fixture: ~half the sources miss the threshold and src7 would
    # otherwise survive.  Corpus rows never hash-exchange — tiny stats agg,
    # broadcast verdict join (operators/curation.py::domain_reputation_filter).
    from era_parser_spark.operators.curation import domain_reputation_filter

    docs = table(spark, sf_dir, "documents")
    return domain_reputation_filter(
        docs, "source", "n_chars", min_avg_chars=290, blocked=("src7",)
    ).select("doc_id", "source", "domain_n_docs", "domain_avg_chars")


@register(
    "p7_curriculum_order",
    # Positions are exact whatever the sampled bucket boundaries were —
    # the oracle IS the naive global window the operator refuses to plan.
    oracle="""
    SELECT doc_id, n_chars,
           CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             AS pos
    FROM documents
    """,
)
def p7_curriculum_order(spark, sf_dir):
    # Curriculum ordering: global position under (n_chars DESC, doc_id) via
    # sampled range buckets + parallel local ranks + tiny offset carry —
    # no corpus-wide single-partition window
    # (operators/curation.py::global_order).
    from era_parser_spark.operators.curation import global_order

    docs = table(spark, sf_dir, "documents")
    return global_order(docs, "n_chars", "doc_id", n_buckets=64)


@register(
    "p8_dataset_upsampling",
    # Pure integer explode: each doc emits `repeat` copies with copy_no —
    # deterministic, no RNG anywhere.
    oracle="""
    SELECT doc_id, source, CAST(u.c AS INTEGER) AS copy_no
    FROM documents,
         unnest(range(0, CASE source WHEN 'src0' THEN 3
                                     WHEN 'src1' THEN 2 ELSE 1 END)) AS u(c)
    """,
)
def p8_dataset_upsampling(spark, sf_dir):
    """Repeat-factor dataset mixing (the upsampling complement of p5's
    temperature downsampling — the LLaMA/Pile 'epochs per source' recipe):
    every doc from a high-value source is emitted `repeat` times with a
    copy number for downstream shuffling/packing.  A codegen explode over
    a literal sequence: zero shuffle, output rows = sum of repeats."""
    docs = table(spark, sf_dir, "documents")
    repeat = (
        F.when(F.col("source") == "src0", F.lit(3))
        .when(F.col("source") == "src1", F.lit(2))
        .otherwise(F.lit(1))
    )
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), repeat - 1)).alias("copy_no"),
    )


@register(
    "p9_split_assign",
    # The split label is a pure function of doc_id (same Knuth
    # multiplicative hash as p4), so assignment is reproducible across
    # engines/retries/appends — exact BIGINT math, CASE thresholds are
    # cumulative fractions of 2^32; remainder falls to the last label.
    oracle="""
    SELECT doc_id, source,
           CASE
             WHEN (((doc_id % 4294967296 + 4294967296) % 4294967296) * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.8 * 4294967296) AS BIGINT) THEN 'train'
             WHEN (((doc_id % 4294967296 + 4294967296) % 4294967296) * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.9 * 4294967296) AS BIGINT) THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
)
def p9_split_assign(spark, sf_dir):
    # Deterministic train/val/test assignment
    # (operators/curation.py::split_assign): leakage-free under corpus
    # growth, one codegen CASE per row.
    from era_parser_spark.operators.curation import split_assign

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    return split_assign(
        docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )


@register(
    "p10_token_budget_cap",
    # Per-source token-budget capping: the oracle's plain per-source window
    # cumsum equals the engine's two-phase bucketed prefix sum exactly
    # (integer token counts, id-total order).  A doc is kept only if its
    # whole span fits (cum <= budget).
    oracle=f"""
    WITH tc AS (
      SELECT source, doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT source, doc_id, n_tokens,
           CAST(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens,
           sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) <= 3000 AS kept
    FROM tc
    """,
)
def p10_token_budget_cap(spark, sf_dir):
    # "N tokens per source" capping (operators/curation.py::
    # token_budget_cap), 3000-token budget at the fixture scale so the
    # cut lands mid-source.
    from era_parser_spark.operators.curation import token_budget_cap

    docs = table(spark, sf_dir, "documents")
    counted = docs.select(
        "source", "doc_id", token_count_col("text").alias("n_toks")
    )
    return token_budget_cap(counted, "source", "doc_id", "n_toks", budget=3000)


def _p11_sqrt_chain(k: int) -> str:
    e = "u"
    for _ in range(k):
        e = f"sqrt({e})"
    return e


_P11_KEY = (
    "CASE "
    + " ".join(
        f"WHEN kcls = {k} THEN {_p11_sqrt_chain(k)}" for k in range(0, 21)
    )
    + f" ELSE {_p11_sqrt_chain(20)} END"
)


@register(
    "p11_weighted_sample",
    # A-ES re-derived in SQL: same 60-bit md5 draw (+1 in INTEGER math
    # before the one int->double conversion), same binary-string weight
    # class, and the same repeated-sqrt key chain — every operation
    # correctly rounded, so the selected 100 rows are bit-identical.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST(concat('0x', substr(md5('wsamp_' || CAST(doc_id AS VARCHAR)),
                  1, 15)) AS BIGINT) AS h
      FROM documents WHERE CAST(n_chars AS BIGINT) >= 1
    ),
    scored AS (
      SELECT doc_id, w,
             CAST(least(length(printf('%b', w)) - 1, 20) AS BIGINT) AS kcls,
             CAST(h + 1 AS DOUBLE) / 1152921504606846976.0 AS u
      FROM base
    )
    SELECT doc_id, w AS weight, kcls AS weight_class,
           CAST(CAST({{key}} AS DECIMAL(10,6)) AS DOUBLE) AS sample_key
    FROM scored
    ORDER BY {{key}} DESC, doc_id LIMIT 100
    """.replace("{key}", _P11_KEY),
)
def p11_weighted_sample(spark, sf_dir):
    # Weighted sampling without replacement (Efraimidis-Spirakis A-ES
    # with power-of-two weight classes — operators/curation.py::
    # weighted_sample): length-proportional document sampling, the
    # "sample long documents preferentially" curation stage.  100 of the
    # corpus by n_chars weight; selection is a zero-shuffle top-n.
    from era_parser_spark.operators.curation import weighted_sample

    docs = table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", n=100)


@register(
    "p12_curation_v2",
    # The three stages' oracles composed verbatim: the t20 Gopher rules
    # (relaxed to the corpus profile: min_words=40, >=1 required
    # stopword, no line augmentation) gate the %17<>0 train slice, the
    # dd14 Bloom screen decontaminates survivors against the %17=0 bench
    # slice (md5-derived positions — even false positives are
    # deterministic), and the p9 Knuth-hash CASE assigns the final
    # split.  Every stage is integer/exact math, so the surviving-doc
    # set and labels are oracle-exact end to end.
    oracle=f"""
    WITH train0 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
    ),
    m AS (
      SELECT doc_id, text, coalesce(text, '') AS t,
             regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS tok,
             string_split(coalesce(text, ''), chr(10)) AS ln
      FROM train0
    ),
    g AS (
      SELECT doc_id, text,
        CAST(len(tok) AS BIGINT) AS n_words,
        CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE)
          / len(tok) AS mean_word_len,
        CAST((length(t) - length(replace(t, '#', '')))
             + (length(t) - length(replace(t, '...', ''))) // 3
             + (length(t) - length(replace(t, '…', ''))) AS DOUBLE)
          / len(tok) AS symbol_word_ratio,
        CAST(len(list_filter(ln,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
          / len(ln) AS bullet_line_frac,
        CAST(len(list_filter(ln,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
             AS DOUBLE) / len(ln) AS ellipsis_line_frac,
        CAST(len(list_filter(tok, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(tok) AS alpha_word_frac,
        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
               w -> list_contains(tok, w))) AS BIGINT) AS n_req
      FROM m
    ),
    train AS (
      SELECT doc_id, text FROM g
      WHERE n_words >= 40 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8 AND n_req >= 1
    ),
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
    sh_t AS (SELECT doc_id, unnest({{SH}}) AS shingle FROM train),
    sh_b AS (SELECT doc_id, unnest({{SH}}) AS shingle FROM bench),
    bbits AS (
      SELECT DISTINCT CAST(concat('0x', substr(md5(
               CAST(j AS VARCHAR) || ':' || shingle), 1, 15)) AS BIGINT)
             % 262144 AS bit
      FROM sh_b, unnest(range(0, 4)) AS u(j)
    ),
    tpos AS (
      SELECT doc_id, shingle, j,
             CAST(concat('0x', substr(md5(
               CAST(j AS VARCHAR) || ':' || shingle), 1, 15)) AS BIGINT)
             % 262144 AS bit
      FROM sh_t, unnest(range(0, 4)) AS u(j)
    ),
    hits AS (
      SELECT doc_id, shingle
      FROM tpos JOIN bbits USING (bit)
      GROUP BY doc_id, shingle
      HAVING count(*) = 4
    ),
    nh AS (SELECT doc_id, count(*) AS n_hit FROM hits GROUP BY doc_id),
    ns AS (SELECT doc_id, count(*) AS n_shingles FROM sh_t GROUP BY doc_id),
    clean AS (
      SELECT ns.doc_id, ns.n_shingles
      FROM ns LEFT JOIN nh ON nh.doc_id = ns.doc_id
      WHERE COALESCE(n_hit, 0) < 5
    )
    SELECT doc_id, n_shingles,
           CASE
             WHEN (((doc_id % 4294967296 + 4294967296) % 4294967296)
                   * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.8 * 4294967296) AS BIGINT) THEN 'train'
             WHEN (((doc_id % 4294967296 + 4294967296) % 4294967296)
                   * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.9 * 4294967296) AS BIGINT) THEN 'val'
             ELSE 'test'
           END AS split
    FROM clean
    """.replace("{SH}", (
        "list_distinct(list_transform(range(1, len(regexp_split_to_array("
        "trim(lower(text)), '\\s+')) - 1), i -> "
        "regexp_split_to_array(trim(lower(text)), '\\s+')[i] || ' ' || "
        "regexp_split_to_array(trim(lower(text)), '\\s+')[i+1] || ' ' || "
        "regexp_split_to_array(trim(lower(text)), '\\s+')[i+2]))"
    )),
)
def p12_curation_v2(spark, sf_dir):
    # Curation pipeline v2 — the modern recipe end to end (operators
    # composed inline, no id re-joins between stages): Gopher rules gate
    # (zero-shuffle codegen, keep_cols passthrough keeps the text moving)
    # -> broadcast-Bloom decontamination vs the held-out bench slice
    # (train side never shuffles; only the per-doc hit aggregate does)
    # -> leakage-free Knuth-hash split (codegen CASE).  Output: the
    # surviving corpus with (doc_id, n_shingles, split).
    from era_parser_spark.operators.curation import split_assign
    from era_parser_spark.operators.dedup import bloom_decontaminate
    from era_parser_spark.operators.text import gopher_quality_flags

    docs = table(spark, sf_dir, "documents", fan_out=True)
    flags = gopher_quality_flags(
        docs.filter(F.col("doc_id") % 17 != 0),
        "doc_id",
        "text",
        min_words=40,
        min_required_stopwords=1,
        keep_cols=("text",),
    )
    surv = flags.filter(F.col("gopher_keep")).select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    # min_hits=5: on this small-vocab corpus single-trigram bloom
    # collisions are ambient noise; 5 shared shingles means a real
    # quoted overlap (n_hit distribution measured in the oracle
    # comment above: 164 clean / 125 flagged at sf0.001)
    dec = bloom_decontaminate(surv, bench, "doc_id", "text", n=3, min_hits=5)
    clean = dec.filter(~F.col("contaminated")).select("doc_id", "n_shingles")
    return split_assign(
        clean, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    ).select("doc_id", "n_shingles", "split")


@register(
    "p13_corpus_report",
    # Dataset-card rollup: every figure is exact integer math except the
    # two final divisions (one IEEE each); dup membership via a count
    # window over md5(text).
    oracle=f"""
    WITH d AS (
      SELECT lang, source,
             len({_TOK}) AS n_tokens,
             count(*) OVER (PARTITION BY md5(text)) AS copies
      FROM documents
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens) // count(*) AS BIGINT) AS mean_tokens,
           CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_member_docs,
           CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS dup_frac,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM d GROUP BY lang, source
    """,
)
def p13_corpus_report(spark, sf_dir):
    """Corpus health report — the dataset-card table every corpus release
    ships (per language x source: volume, token mass, length envelope,
    exact-duplicate membership).  The audit you run FIRST at 100 TB to
    decide where dedup/filter effort goes.

    Plan: one md5-keyed count window (the dd1 digest key — the shuffle
    carries digests + longs, never text), then one map-side-combined
    groupBy(lang, source).  Integer everything; the two fractions are
    single IEEE divisions of exact BIGINTs."""
    from pyspark.sql import Window as W

    from era_parser_spark.operators.text import token_count_col

    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        "source",
        token_count_col("text").cast("long").alias("n_tokens"),
        F.count(F.lit(1))
        .over(W.partitionBy(F.md5(F.col("text").cast("binary"))))
        .alias("copies"),
    )
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.expr("sum(n_tokens) div count(1)").alias("mean_tokens"),
        F.sum((F.col("copies") > 1).cast("long")).alias("n_dup_member_docs"),
        (
            F.sum((F.col("copies") > 1).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_frac"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


@register(
    "p14_snapshot_diff",
    # Snapshots derived from the one documents table (t10 injection
    # pattern): old = doc_id % 11 <> 3, new = doc_id % 7 <> 0 with text
    # rewritten for doc_id % 13 = 0 — so all four statuses appear.
    # Digest compare is md5 on both sides.
    oracle="""
    WITH old AS (
      SELECT doc_id, md5(COALESCE(text, chr(0) || 'null')) AS old_digest
      FROM documents WHERE doc_id % 11 <> 3
    ),
    new AS (
      SELECT doc_id,
             md5(COALESCE(CASE WHEN doc_id % 13 = 0
                               THEN text || ' [rev2]' ELSE text END,
                          chr(0) || 'null')) AS new_digest
      FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old_digest IS NULL THEN 'added'
                WHEN new_digest IS NULL THEN 'removed'
                WHEN old_digest = new_digest THEN 'unchanged'
                ELSE 'changed' END AS status,
           old_digest, new_digest
    FROM old FULL OUTER JOIN new USING (doc_id)
    """,
)
def p14_snapshot_diff(spark, sf_dir):
    # Dataset-versioning audit: digest-only full outer join
    # (operators/curation.py::snapshot_diff).
    from era_parser_spark.operators.curation import snapshot_diff

    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, "doc_id", "text")


_P15_H = "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"


def _p15_oracle() -> str:
    """Curation v3 as one SQL program: the dd16, t20(p12), dd17, and p9
    oracle fragments chained — each stage re-tokenizes its predecessor's
    output exactly as the engine does."""
    tok_ctext = "regexp_split_to_array(trim(lower(coalesce(ctext, ''))), '\\s+')"
    tok_text = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    return f"""
    WITH tokd AS (SELECT doc_id, {tok_text} AS tok FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(tok[CAST(i + 1 AS INTEGER) : CAST(i + 8 AS INTEGER)], ' ') AS gram
      FROM tokd, unnest(range(0, len(tok) - 7)) AS u(i)
    ),
    hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 100),
    j AS (SELECT * FROM grams ANTI JOIN hot USING (gram)),
    mm AS (
      SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb,
             a.pos - b.pos AS diag
      FROM j a JOIN j b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa, pb, diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
               AS grp
      FROM mm
    ),
    spans AS (
      SELECT doc_a, doc_b, min(pb) AS start_b,
             CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_a, doc_b, diag, grp
      HAVING span_tokens >= 12
    ),
    masked AS (
      SELECT DISTINCT doc_b AS doc_id, CAST(u.p AS BIGINT) AS pos
      FROM spans, unnest(range(start_b, start_b + span_tokens)) AS u(p)
    ),
    toks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, tok[CAST(i + 1 AS INTEGER)] AS tk
      FROM tokd, unnest(range(0, len(tok))) AS u(i)
    ),
    kept AS (SELECT tx.* FROM toks tx ANTI JOIN masked USING (doc_id, pos)),
    aggk AS (
      SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    cleaned AS (
      SELECT tokd.doc_id,
             CAST(len(tok) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
             COALESCE(clean_text, '') AS ctext
      FROM tokd LEFT JOIN aggk USING (doc_id)
    ),
    m AS (
      SELECT doc_id, n_removed, ctext, coalesce(ctext, '') AS t,
             {tok_ctext} AS tok,
             string_split(coalesce(ctext, ''), chr(10)) AS ln
      FROM cleaned WHERE doc_id % 17 <> 0
    ),
    g AS (
      SELECT doc_id, n_removed, ctext,
        CAST(len(tok) AS BIGINT) AS n_words,
        CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE)
          / len(tok) AS mean_word_len,
        CAST((length(t) - length(replace(t, '#', '')))
             + (length(t) - length(replace(t, '...', ''))) // 3
             + (length(t) - length(replace(t, '…', ''))) AS DOUBLE)
          / len(tok) AS symbol_word_ratio,
        CAST(len(list_filter(ln,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
          / len(ln) AS bullet_line_frac,
        CAST(len(list_filter(ln,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
             AS DOUBLE) / len(ln) AS ellipsis_line_frac,
        CAST(len(list_filter(tok, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(tok) AS alpha_word_frac,
        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
               w -> list_contains(tok, w))) AS BIGINT) AS n_req
      FROM m
    ),
    surv AS (
      SELECT doc_id, n_removed, ctext FROM g
      WHERE n_words >= 40 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8 AND n_req >= 1
    ),
    exs AS (SELECT doc_id, unnest({tok_ctext}) AS t FROM surv),
    exb AS (SELECT doc_id, unnest({tok_text}) AS t FROM documents
            WHERE doc_id % 17 = 0),
    cs AS (SELECT doc_id, CAST({_P15_H} % 64 AS INTEGER) AS b,
                  CAST(SUM(CASE WHEN (({_P15_H} >> 30) % 2) = 0
                                THEN 1 ELSE -1 END) AS BIGINT) AS v
           FROM exs WHERE t <> '' GROUP BY doc_id, b),
    cb AS (SELECT doc_id, CAST({_P15_H} % 64 AS INTEGER) AS b,
                  CAST(SUM(CASE WHEN (({_P15_H} >> 30) % 2) = 0
                                THEN 1 ELSE -1 END) AS BIGINT) AS v
           FROM exb WHERE t <> '' GROUP BY doc_id, b),
    sts AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS n2
            FROM cs GROUP BY doc_id),
    stb AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS n2
            FROM cb GROUP BY doc_id),
    dots AS (
      SELECT x.doc_id AS t_id, y.doc_id AS b_id,
             CAST(SUM(x.v * y.v) AS BIGINT) AS dot
      FROM cs x JOIN cb y ON x.b = y.b GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.t_id, (10000 * d.dot * d.dot) // (st.n2 * sb.n2) AS cq
      FROM dots d JOIN sts st ON st.doc_id = d.t_id
                  JOIN stb sb ON sb.doc_id = d.b_id
      WHERE d.dot > 0 AND st.n2 > 0 AND sb.n2 > 0
    ),
    hits AS (SELECT t_id, count(*) AS n_hits FROM scored
             WHERE cq >= 8100 GROUP BY t_id),
    clean2 AS (
      SELECT s.doc_id, s.n_removed
      FROM surv s LEFT JOIN hits ON hits.t_id = s.doc_id
      WHERE COALESCE(n_hits, 0) = 0
    )
    SELECT doc_id, n_removed,
           CASE
             WHEN (((doc_id % 4294967296 + 4294967296) % 4294967296)
                   * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.8 * 4294967296) AS BIGINT) THEN 'train'
             WHEN (((doc_id % 4294967296 + 4294967296) % 4294967296)
                   * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.9 * 4294967296) AS BIGINT) THEN 'val'
             ELSE 'test'
           END AS split
    FROM clean2
    """


@register("p15_curation_v3", oracle=_p15_oracle())
def p15_curation_v3(spark, sf_dir):
    """Curation pipeline v3 — the session-3 stages composed end to end,
    each stage consuming its predecessor's REWRITTEN text: ExactSubstr
    cut (dd16: keep the min-id copy of every shared >= 12-token run) ->
    Gopher A1.1 gate over the cleaned text (t20, p12's thresholds) ->
    embedding-space decontamination of survivors against the untouched
    %17=0 bench slice (dd17: broadcast bench matrix, join-free screen)
    -> leakage-free Knuth split (p9).  Output: (doc_id, n_removed,
    split) for the surviving corpus — the whole program oracle-exact,
    including the cut text feeding downstream tokenizers."""
    from era_parser_spark.operators.curation import split_assign
    from era_parser_spark.operators.dedup import remove_shared_spans
    from era_parser_spark.operators.similarity import semantic_decontaminate
    from era_parser_spark.operators.text import gopher_quality_flags

    docs = table(spark, sf_dir, "documents")
    cut = remove_shared_spans(docs, "doc_id", "text", l=8, min_span_tokens=12)
    train0 = cut.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id", "n_removed", F.col("clean_text").alias("text")
    )
    flags = gopher_quality_flags(
        train0,
        "doc_id",
        "text",
        min_words=40,
        min_required_stopwords=1,
        keep_cols=("text", "n_removed"),
    )
    # STAGE the survivors (p20's localCheckpoint pattern): `surv` feeds
    # TWO plan branches (the decontaminate screen and the survivor
    # re-join below) and its subtree contains the whole dd16 ExactSubstr
    # cut + Gopher gate — uncached, Catalyst recomputes that ~5 s
    # subtree per branch (the multi-branch trap, CLAUDE.md).
    surv = (
        flags.filter(F.col("gopher_keep"))
        .select("doc_id", "n_removed", "text")
        .localCheckpoint(eager=True)
    )
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    dec = semantic_decontaminate(surv, bench, "doc_id", "text", dim=64, min_cos=0.9)
    clean = surv.join(
        dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    return split_assign(
        clean, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    ).select("doc_id", "n_removed", "split")


_P16_H = "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"


@register(
    "p16_dsir_importance",
    # DSIR with the whole model exact: Laplace-smoothed hashed-unigram
    # bucket distributions, per-token scaled probability ratios as
    # arbitrary-precision integers (HUGEINT here, Python bigints in the
    # engine's tiny m-row driver artifact), per-doc sums bit-identical.
    oracle=f"""
    WITH rawd AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tok
      FROM documents WHERE doc_id % 17 <> 0
    ),
    tgtd AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tok
      FROM documents WHERE doc_id % 17 = 0
    ),
    rex AS (
      SELECT doc_id, {_P16_H} % 256 AS b
      FROM (SELECT doc_id, unnest(tok) AS t FROM rawd) WHERE t <> ''
    ),
    tex AS (
      SELECT {_P16_H} % 256 AS b
      FROM (SELECT unnest(tok) AS t FROM tgtd) WHERE t <> ''
    ),
    rc AS (SELECT b, count(*) AS n FROM rex GROUP BY b),
    tc AS (SELECT b, count(*) AS n FROM tex GROUP BY b),
    ratio AS (
      SELECT g.b,
             (CAST(10000 AS HUGEINT) * (COALESCE(tc.n, 0) + 1)
              * ((SELECT count(*) FROM rex) + 256))
             // ((COALESCE(rc.n, 0) + 1)
                 * ((SELECT count(*) FROM tex) + 256)) AS r
      FROM (SELECT CAST(unnest(range(0, 256)) AS BIGINT) AS b) g
      LEFT JOIN rc ON rc.b = g.b
      LEFT JOIN tc ON tc.b = g.b
    ),
    pf AS (SELECT doc_id, b, count(*) AS tf FROM rex GROUP BY 1, 2),
    agg AS (
      SELECT pf.doc_id, sum(pf.tf) AS n_tokens, sum(pf.tf * ratio.r) AS w_sum
      FROM pf JOIN ratio USING (b) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(w_sum, 0) AS BIGINT) AS w_sum,
           CASE WHEN COALESCE(n_tokens, 0) > 0
                THEN CAST(w_sum AS DOUBLE) / (10000.0 * n_tokens)
                ELSE CAST(0.0 AS DOUBLE) END AS w_mean
    FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
    LEFT JOIN agg USING (doc_id)
    """,
)
def p16_dsir_importance(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023) of the raw slice
    against the %17=0 target slice (the dd7/dd17 bench convention) —
    the importance-resampling stage a production pretraining pipeline
    runs between dedup and selection; composes with p11
    weighted_sample for the actual draw."""
    from era_parser_spark.operators.curation import dsir_importance

    docs = table(spark, sf_dir, "documents")
    raw = docs.filter(F.col("doc_id") % 17 != 0)
    tgt = docs.filter(F.col("doc_id") % 17 == 0)
    return dsir_importance(raw, tgt, "doc_id", "text", m=256, scale=10_000)


@register(
    "p17_source_drift_chi2",
    # Two-sample chi-square per source vs the rest over m=256 hashed
    # buckets, every bucket term floor-scaled to 1e6 then summed — the
    # engine computes the identical rationals with Python bigints; this
    # HUGEINT twin is exact up to ~3e9 corpus tokens ((a*R - r*A)^2 must
    # fit 128 bits), far past any test scale.
    oracle=f"""
    WITH tokd AS (
      SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS tok
      FROM documents
    ),
    ex AS (
      SELECT source, {_P16_H} % 256 AS b
      FROM (SELECT source, unnest(tok) AS t FROM tokd) WHERE t <> ''
    ),
    cnt AS (SELECT source, b, count(*) AS c FROM ex GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY 1),
    tb AS (SELECT b, sum(c) AS cb FROM cnt GROUP BY 1),
    grand AS (SELECT sum(c) AS g FROM cnt),
    nums AS (
      -- num stays HUGEINT and is squared by explicit multiplication:
      -- DuckDB's ** operator computes in DOUBLE and loses exactness
      SELECT t.source, t.n, grand.g, tb.cb,
             CAST(COALESCE(cnt.c, 0) * (grand.g - t.n)
                  - (tb.cb - COALESCE(cnt.c, 0)) * t.n AS HUGEINT) AS num
      FROM tot t
      CROSS JOIN tb
      CROSS JOIN grand
      LEFT JOIN cnt ON cnt.source = t.source AND cnt.b = tb.b
      WHERE t.n > 0 AND (grand.g - t.n) > 0
    ),
    terms AS (
      SELECT source,
             (CAST(1000000 AS HUGEINT) * num * num)
             // (n * (g - n) * cb) AS term
      FROM nums
    ),
    agg AS (SELECT source, sum(term) AS chi2_q FROM terms GROUP BY 1)
    SELECT s.source,
           CAST(COALESCE(t.n, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.chi2_q, 0) AS BIGINT) AS chi2_q,
           CAST(COALESCE(a.chi2_q, 0) AS DOUBLE) / 1000000.0 AS chi2
    FROM (SELECT DISTINCT source FROM documents) s
    LEFT JOIN tot t USING (source)
    LEFT JOIN agg a USING (source)
    """,
)
def p17_source_drift_chi2(spark, sf_dir):
    """Token-distribution drift per source vs the rest of the corpus
    (exact two-sample chi-square over hashed buckets) — flags the
    source whose language actually MOVED, where p13 sees volumes and
    p14 sees digests."""
    from era_parser_spark.operators.curation import token_drift_chi2

    docs = table(spark, sf_dir, "documents")
    return token_drift_chi2(docs, "source", "text", m=256, scale=1_000_000)


@register(
    "p18_budget_waterfill",
    # Water-filling over the tiny per-source cap table, replayed with the
    # same window logic: rank by (cap, source), cross-multiplied share
    # test (no division), equal split of the remainder with the first
    # R % n_uncapped groups (same order) getting one extra token.
    oracle="""
    WITH caps AS (
      SELECT source,
             CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
                  AS BIGINT) AS available_tokens
      FROM documents GROUP BY 1
    ),
    srt AS (
      SELECT caps.*,
             row_number() OVER (ORDER BY available_tokens, source) AS i,
             count(*) OVER () AS m,
             COALESCE(sum(available_tokens) OVER (
               ORDER BY available_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM caps
    ),
    flagged AS (
      SELECT srt.*,
             available_tokens * (m - i + 1) <= 26000 - prefix AS ok
      FROM srt
    ),
    cut AS (
      SELECT flagged.*,
             COALESCE(min(CASE WHEN NOT ok THEN i END) OVER (), m + 1) AS fb
      FROM flagged
    ),
    solved AS (
      SELECT cut.*,
             COALESCE(max(CASE WHEN i = fb - 1
                               THEN prefix + available_tokens END) OVER (), 0)
               AS cap_prefix,
             m - (fb - 1) AS n_unc
      FROM cut
    )
    SELECT source, available_tokens,
           CAST(CASE WHEN i < fb THEN available_tokens
                ELSE ((26000 - cap_prefix)
                      - ((((26000 - cap_prefix) % greatest(n_unc, 1))
                          + greatest(n_unc, 1)) % greatest(n_unc, 1)))
                     // greatest(n_unc, 1)
                     + (CASE WHEN i - (fb - 1)
                               <= ((((26000 - cap_prefix) % greatest(n_unc, 1))
                                    + greatest(n_unc, 1)) % greatest(n_unc, 1))
                             THEN 1 ELSE 0 END)
                END AS BIGINT) AS allocated_tokens,
           i < fb AS capped
    FROM solved
    """,
)
def p18_budget_waterfill(spark, sf_dir):
    """Global 26k-token budget water-filled across sources under
    availability caps — the allocation solver between p5's proportional
    mix and p10's fixed per-group cap; exact integers throughout,
    sum(allocated) == min(budget, total)."""
    from era_parser_spark.operators.curation import budget_waterfill
    from era_parser_spark.operators.text import token_count_col

    docs = table(spark, sf_dir, "documents")
    counted = docs.select("source", token_count_col("text").alias("n_tokens"))
    return budget_waterfill(counted, "source", "n_tokens", budget=26_000)


def _p19_oracle() -> str:
    from era_parser_spark.queries.similarity import kmeans_lloyd_ctes

    tok = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    ex_sql = f"""
      SELECT s.doc_id AS vec_id, g.b AS dim, COALESCE(cs.v, 0) AS v
      FROM surv s
      CROSS JOIN (SELECT CAST(unnest(range(0, 64)) AS INTEGER) AS b) g
      LEFT JOIN cs ON cs.doc_id = s.doc_id AND cs.b = g.b
    """
    pre = f"""rawd AS (
      SELECT doc_id, {tok} AS tok FROM documents WHERE doc_id % 17 <> 0
    ),
    tgtd AS (
      SELECT doc_id, {tok} AS tok FROM documents WHERE doc_id % 17 = 0
    ),
    rex AS (
      SELECT doc_id, {_P16_H} % 256 AS b
      FROM (SELECT doc_id, unnest(tok) AS t FROM rawd) WHERE t <> ''
    ),
    tex AS (
      SELECT {_P16_H} % 256 AS b
      FROM (SELECT unnest(tok) AS t FROM tgtd) WHERE t <> ''
    ),
    rc AS (SELECT b, count(*) AS n FROM rex GROUP BY b),
    tc AS (SELECT b, count(*) AS n FROM tex GROUP BY b),
    ratio AS (
      SELECT g.b,
             (CAST(10000 AS HUGEINT) * (COALESCE(tc.n, 0) + 1)
              * ((SELECT count(*) FROM rex) + 256))
             // ((COALESCE(rc.n, 0) + 1)
                 * ((SELECT count(*) FROM tex) + 256)) AS r
      FROM (SELECT CAST(unnest(range(0, 256)) AS BIGINT) AS b) g
      LEFT JOIN rc ON rc.b = g.b
      LEFT JOIN tc ON tc.b = g.b
    ),
    pf AS (SELECT doc_id, b, count(*) AS tf FROM rex GROUP BY 1, 2),
    agg AS (
      SELECT pf.doc_id, sum(pf.tf) AS n_tokens, sum(pf.tf * ratio.r) AS w_sum
      FROM pf JOIN ratio USING (b) GROUP BY 1
    ),
    w AS (
      SELECT d.doc_id,
             CASE WHEN COALESCE(n_tokens, 0) > 0
                  THEN CAST(w_sum AS DOUBLE) / (10000.0 * n_tokens)
                  ELSE CAST(0.0 AS DOUBLE) END AS w_mean
      FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
      LEFT JOIN agg USING (doc_id)
    ),
    medv AS (
      SELECT w_mean AS mv FROM (
        SELECT w.*, row_number() OVER (ORDER BY w_mean, doc_id) AS rn,
               count(*) OVER () AS n
        FROM w
      ) WHERE rn = (n + 1) // 2
    ),
    -- MATERIALIZED: the Lloyd chain reads ex (hence surv) once per CTE
    surv AS MATERIALIZED (SELECT w.doc_id FROM w, medv WHERE w.w_mean > medv.mv),
    sex AS (
      SELECT doc_id, t
      FROM (SELECT d.doc_id, unnest({tok}) AS t
            FROM documents d JOIN surv USING (doc_id))
      WHERE t <> ''
    ),
    cs AS (
      SELECT doc_id, CAST({_P16_H} % 64 AS INTEGER) AS b,
             CAST(SUM(CASE WHEN (({_P16_H} >> 30) % 2) = 0
                           THEN 1 ELSE -1 END) AS BIGINT) AS v
      FROM sex GROUP BY doc_id, b
    )"""
    post = f""",
    nrm AS (SELECT vec_id, sum(v * v) AS n2 FROM ex GROUP BY 1),
    pr AS (
      SELECT x.vec_id AS ia, y.vec_id AS ib, sum(ea.v * eb.v) AS dot
      FROM a_fin x
      JOIN a_fin y ON y.cid = x.cid AND y.vec_id > x.vec_id
      JOIN ex ea ON ea.vec_id = x.vec_id
      JOIN ex eb ON eb.vec_id = y.vec_id AND eb.dim = ea.dim
      GROUP BY 1, 2
    ),
    dup AS (
      SELECT ia, ib FROM pr
      JOIN nrm na ON na.vec_id = ia
      JOIN nrm nb ON nb.vec_id = ib
      WHERE dot > 0 AND 10000 * dot * dot >= 8100 * na.n2 * nb.n2
    ),
    edges AS (SELECT ia AS a, ib AS b FROM dup
              UNION ALL SELECT ib, ia FROM dup),
    rm AS (
      SELECT DISTINCT e.a AS vec_id
      FROM edges e
      JOIN a_fin x ON x.vec_id = e.a
      JOIN a_fin y ON y.vec_id = e.b
      WHERE y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id)
    )
    SELECT f.vec_id AS doc_id, f.cid AS cluster,
           CASE
             WHEN (((f.vec_id % 4294967296 + 4294967296) % 4294967296)
                   * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.8 * 4294967296) AS BIGINT) THEN 'train'
             WHEN (((f.vec_id % 4294967296 + 4294967296) % 4294967296)
                   * CAST(2654435761 AS HUGEINT)) % 4294967296
                  < CAST(floor(0.9 * 4294967296) AS BIGINT) THEN 'val'
             ELSE 'test'
           END AS split
    FROM a_fin f LEFT JOIN rm USING (vec_id)
    WHERE rm.vec_id IS NULL
    """
    chain = kmeans_lloyd_ctes(k=8, iters=1, quant=1, ex_sql=ex_sql)
    return f"""
    WITH {pre},
    {chain}{post}"""


@register("p19_curation_v4", oracle=_p19_oracle())
def p19_curation_v4(spark, sf_dir):
    """Curation pipeline v4 (operators/curation.py::curation_v4): DSIR
    importance gate -> SemDeDup over learned k-means clusters of hashed
    text embeddings -> leakage-free Knuth split.  k=8 matches this
    oracle at sf0.01 — PRODUCTION CALLERS MUST SIZE k TO THE CORPUS (the
    32x rehearsal measured k=8 at 129 s vs k=64 at 16.6 s on the same
    74k survivors: cluster populations scale as n/k and the Gram kernel
    is quadratic in them; docs/PLANS.md)."""
    from era_parser_spark.operators.curation import curation_v4

    docs = table(spark, sf_dir, "documents")
    return curation_v4(docs, "doc_id", "text", k=8, iters=1, min_cos=0.9)


def _p20_oracle() -> str:
    # Gopher relaxed-rules gate (t20/p12's proven SQL block, applied to the
    # WHOLE corpus) -> dd9's brute-force near-dup clusters over the
    # survivors (queries/dedup.py::_dd9_ctes parameterized on the filtered
    # CTE) -> dd9c's quality keeper (longest text, ties -> min doc_id).
    from era_parser_spark.queries.dedup import _dd9_ctes

    return f"""
    WITH RECURSIVE
    m20 AS (
      SELECT doc_id, text, coalesce(text, '') AS t,
             regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS tok,
             string_split(coalesce(text, ''), chr(10)) AS ln
      FROM documents
    ),
    g20 AS (
      SELECT doc_id, text,
        CAST(len(tok) AS BIGINT) AS n_words,
        CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE)
          / len(tok) AS mean_word_len,
        CAST((length(t) - length(replace(t, '#', '')))
             + (length(t) - length(replace(t, '...', ''))) // 3
             + (length(t) - length(replace(t, '…', ''))) AS DOUBLE)
          / len(tok) AS symbol_word_ratio,
        CAST(len(list_filter(ln,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
          / len(ln) AS bullet_line_frac,
        CAST(len(list_filter(ln,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
             AS DOUBLE) / len(ln) AS ellipsis_line_frac,
        CAST(len(list_filter(tok, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(tok) AS alpha_word_frac,
        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
               w -> list_contains(tok, w))) AS BIGINT) AS n_req
      FROM m20
    ),
    gsurv AS (
      SELECT doc_id, text FROM g20
      WHERE n_words >= 40 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8 AND n_req >= 1
    ),{_dd9_ctes("gsurv")}
    SELECT l.doc_id, l.cluster_id, cluster_sz,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY length(d.text) DESC, l.doc_id ASC) = 1
             AS kept
    FROM labels l
    JOIN csz ON l.cluster_id = csz.cluster_id
    JOIN gsurv d ON d.doc_id = l.doc_id
    """


@register("p20_curation_v5", oracle=_p20_oracle())
def p20_curation_v5(spark, sf_dir):
    """Curation v5 — the round-8 production shape: Gopher relaxed-rules
    gate (zero-shuffle codegen) -> clone-safe fuzzy dedup with the
    QUALITY keeper (keep the longest member of every near-dup cluster,
    not the min id — the SlimPajama/RefinedWeb survivor policy).  Output
    is the survivors' audit frame (doc_id, cluster_id, cluster_sz, kept);
    filtering kept gives the curated corpus.

    Cost note: fuzzy_dedup consumes its input from several plan branches
    (digest mapping, shingles, passthrough, keeper score), so the gated
    survivor projection is STAGED (localCheckpoint) between the gate and
    the dedup — the gopher codegen gate runs ONCE instead of once per
    branch (~6x at sf0.1; pinned by test_plan_audit's single-FileScan
    check).  This is the in-session twin of the production recipe (stage
    the filtered corpus to parquet between the two operators, the
    process_eras_batch staging pattern, docs/PLANS.md); at true batch
    scale prefer the parquet stage — a checkpoint pins executor storage
    for the corpus' lifetime."""
    from era_parser_spark.operators.dedup import fuzzy_dedup
    from era_parser_spark.operators.text import gopher_quality_flags

    docs = table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(
        docs, "doc_id", "text",
        min_words=40, min_required_stopwords=1, keep_cols=("text",),
    )
    surv = (
        flags.filter(F.col("gopher_keep"))
        .select("doc_id", "text", F.length("text").cast("long").alias("__q"))
        .localCheckpoint(eager=True)
    )
    return fuzzy_dedup(surv, "doc_id", "text", threshold=0.5, keeper=("__q", "max"))


def _p21_oracle(budget: int) -> str:
    # Gopher relaxed-rules gate (p20's proven SQL block + source carried
    # through) -> t31's 8 BPE merge rounds TRAINED ON THE GATED CORPUS
    # (_bpe_ctes parameterized: prefix = the gate CTEs, src = gsurv21) ->
    # t32's relational per-doc count -> p10's per-source budget cumsum.
    from era_parser_spark.queries.text import _TOK, _bpe_ctes

    gate = f"""m21 AS (
      SELECT doc_id, source, text, coalesce(text, '') AS t,
             regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS tok,
             string_split(coalesce(text, ''), chr(10)) AS ln
      FROM documents
    ),
    g21 AS (
      SELECT doc_id, source, text,
        CAST(len(tok) AS BIGINT) AS n_words,
        CAST(list_sum(list_transform(tok, x -> length(x))) AS DOUBLE)
          / len(tok) AS mean_word_len,
        CAST((length(t) - length(replace(t, '#', '')))
             + (length(t) - length(replace(t, '...', ''))) // 3
             + (length(t) - length(replace(t, '…', ''))) AS DOUBLE)
          / len(tok) AS symbol_word_ratio,
        CAST(len(list_filter(ln,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)
          / len(ln) AS bullet_line_frac,
        CAST(len(list_filter(ln,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
             AS DOUBLE) / len(ln) AS ellipsis_line_frac,
        CAST(len(list_filter(tok, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          / len(tok) AS alpha_word_frac,
        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
               w -> list_contains(tok, w))) AS BIGINT) AS n_req
      FROM m21
    ),
    gsurv21 AS MATERIALIZED (
      SELECT doc_id, source, text FROM g21
      WHERE n_words >= 40 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8 AND n_req >= 1
    ),
    """
    return _bpe_ctes(8, src="gsurv21", prefix=gate) + f""",
    docw21 AS MATERIALIZED (
      SELECT doc_id, unnest({_TOK}) AS w FROM gsurv21
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    cnt21 AS (
      SELECT d.doc_id, CAST(sum(len(b.syms)) AS BIGINT) AS bpe_tokens
      FROM docw21 d JOIN bw8 b ON b.w = d.w
      WHERE length(d.w) > 0
      GROUP BY d.doc_id
    ),
    j21 AS (
      SELECT g.source, g.doc_id, c.bpe_tokens
      FROM gsurv21 g JOIN cnt21 c USING (doc_id)
    )
    SELECT source, doc_id, bpe_tokens,
           CAST(sum(bpe_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens,
           sum(bpe_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) <= {budget} AS kept
    FROM j21
    """


@register("p21_curation_v6", oracle=_p21_oracle(3000))
def p21_curation_v6(spark, sf_dir):
    """Curation v6 — budget the training mix in REAL tokenizer tokens:
    Gopher relaxed-rules gate (zero-shuffle codegen) -> distributed BPE
    training ON THE GATED CORPUS (t31's 8 exact merge rounds — the
    tokenizer a pipeline would actually fit on its cleaned data) ->
    relational per-doc token counts under that learned table (t32's
    word-join, the corpus is never re-encoded in Python) -> per-source
    token-budget cap on THOSE counts (p10's two-phase bucketed prefix
    sum).  A mix spec says "N billion tokens per source" in model
    tokens, not whitespace tokens — this is the end-to-end recipe that
    delivers it, every trained artifact exact, whole program one chained
    SQL.  Output: (source, doc_id, bpe_tokens, cum_tokens, kept).

    The gated survivors are STAGED (localCheckpoint) before the three
    consumers (BPE trainer, word explode, source map) — same rationale
    and production-parquet caveat as p20."""
    from era_parser_spark.operators.curation import token_budget_cap
    from era_parser_spark.operators.dedup import tokens_col
    from era_parser_spark.operators.text import gopher_quality_flags
    from era_parser_spark.operators.tokenizer import bpe_merges_distributed

    docs = table(spark, sf_dir, "documents")
    flags = gopher_quality_flags(
        docs, "doc_id", "text",
        min_words=40, min_required_stopwords=1,
        keep_cols=("text", "source"),
    )
    surv = (
        flags.filter(F.col("gopher_keep"))
        .select("doc_id", "source", "text")
        .localCheckpoint(eager=True)
    )
    _, vocab = bpe_merges_distributed(surv, "text", n_merges=8, return_vocab=True)
    words = (
        surv.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
    )
    counts = (
        words.join(vocab.select("w", F.size("syms").alias("__n")), "w")
        .groupBy("doc_id")
        .agg(F.sum("__n").cast("long").alias("bpe_tokens"))
    )
    counted = surv.select("source", "doc_id").join(counts, "doc_id")
    return token_budget_cap(
        counted, "source", "doc_id", "bpe_tokens", budget=3000
    ).withColumnRenamed("n_tokens", "bpe_tokens")
