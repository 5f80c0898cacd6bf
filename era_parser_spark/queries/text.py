"""Text-analysis queries over the `documents` table (north-star extensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from era_parser_spark.operators.text import (
    LANG_ORDER,
    fingerprint_col,
    lang_id_col,
    quality_metrics,
    sql_lang_scores,
    token_count_col,
)
from era_parser_spark.queries.registry import register, table

_TOK = "regexp_split_to_array(trim(lower(text)), '\\s+')"


@register(
    "t1_token_count",
    oracle=f"""
    SELECT doc_id, len({_TOK}) AS n_tokens, length(text) AS n_chars_actual
    FROM documents
    """,
)
def t1_token_count(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


@register(
    "t2_quality_score",
    oracle=f"""
    SELECT doc_id,
           len({_TOK}) AS n_tokens,
           length(text) AS n_chars,
           CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / len({_TOK}) AS avg_token_len,
           CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(len(list_filter({_TOK},
                x -> x IN ('the','a','of','and','to','in','is','that','for','it')))
                AS DOUBLE) / len({_TOK}) AS stopword_ratio,
           len({_TOK}) >= 10 AND len({_TOK}) <= 100000 AS quality_ok
    FROM documents
    """,
)
def t2_quality_score(spark, sf_dir):
    return quality_metrics(table(spark, sf_dir, "documents"), "doc_id", "text")


def _lang_case_sql() -> str:
    scores = sql_lang_scores(_TOK)
    best = f"greatest({', '.join(scores.values())})"
    whens = " ".join(f"WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in LANG_ORDER)
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END"


@register(
    "t3_lang_id",
    oracle=f"""
    SELECT lang, {_lang_case_sql()} AS predicted_lang, count(*) AS cnt
    FROM documents
    GROUP BY lang, predicted_lang
    """,
)
def t3_lang_id(spark, sf_dir):
    # Heuristic stopword-marker language ID; output is the confusion matrix
    # against the labeled `lang` column.
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id_col("text").alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "t4_fingerprint",
    oracle=f"""
    SELECT doc_id, md5(array_to_string({_TOK}, ' ')) AS fingerprint
    FROM documents
    """,
)
def t4_fingerprint(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_col("text").alias("fingerprint"))


@register(
    "t5_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+'))
             AS n_bpe_tokens,
           len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_ws_tokens
    FROM documents
    """,
)
def t5_bpe_token_count(spark, sf_dir):
    # BPE-ish pre-tokenization count next to the whitespace count — the
    # pattern is lookahead-free so Java regex and RE2 agree.
    from era_parser_spark.operators.text import bpe_token_count_col

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count_col("text").alias("n_bpe_tokens"),
        token_count_col("text").alias("n_ws_tokens"),
    )


@register(
    "t7_repetition_ratio",
    # Same arithmetic both sides: double division + subtraction are IEEE
    # bit-identical; the short-doc branch returns an exact 0.0 literal.
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g AS (
      SELECT doc_id, len(w) AS n_tokens,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                                      i -> array_to_string(w[i:i+1], ' '))
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM tokd
    )
    SELECT doc_id, n_tokens,
           len(grams) AS n_ngrams,
           len(list_distinct(grams)) AS n_distinct_ngrams,
           CASE WHEN len(grams) > 0
                THEN CAST(1.0 AS DOUBLE)
                     - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
                ELSE CAST(0.0 AS DOUBLE) END AS dup_ngram_ratio
    FROM g
    """,
)
def t7_repetition_ratio(spark, sf_dir):
    # Gopher-style duplicate-bigram fraction per document (repetitive /
    # template-spam filter) — zero-shuffle JVM higher-order expressions.
    from era_parser_spark.operators.text import repetition_metrics

    docs = table(spark, sf_dir, "documents")
    return repetition_metrics(docs, "doc_id", "text", n=2)


def _winnowing_oracle(k: int = 8, w: int = 4, min_shared: int = 5, max_doc_freq: int = 100) -> str:
    """The whole winnowing scheme re-derived in SQL: polynomial rolling
    hash per k-gram (precomputed power table, HUGEINT accumulation mod
    2^61-1 — same math as operators/winnowing.py), window minima over w
    complete windows (min VALUE per window is tie-break-free), distinct
    fingerprints, inverted-index pair join, containment.  Verified
    set-identical to winnow_text on fixtures and oracle-green at sf0.01."""
    from era_parser_spark.operators.winnowing import _B, _M

    pows = "[" + ",".join(str(pow(_B, k - 1 - j, _M)) for j in range(k)) + "]"
    return f"""
    WITH lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
    grams AS (
      SELECT doc_id, i,
             (list_sum(list_transform(range(1, {k} + 1),
                j -> CAST(ord(substring(t, CAST(i + j - 1 AS INTEGER), 1))
                     AS HUGEINT) * ({pows})[j])) % {_M}) AS h
      FROM lowered, unnest(range(1, length(t) - {k} + 2)) AS u(i)
      WHERE length(t) >= {k}
    ),
    counted AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
    wins AS (
      SELECT g.doc_id, g.i,
             min(g.h) OVER (PARTITION BY g.doc_id ORDER BY g.i
                            ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
               AS mh
      FROM grams g JOIN counted c USING (doc_id) WHERE c.n > {w}
    ),
    fp AS (
      SELECT DISTINCT doc_id, CAST(mh AS BIGINT) AS fingerprint
      FROM wins WHERE i >= {w}
      UNION
      SELECT g.doc_id, CAST(min(g.h) AS BIGINT)
      FROM grams g JOIN counted c USING (doc_id)
      WHERE c.n <= {w} GROUP BY g.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY doc_id),
    joinable AS (
      SELECT doc_id, fingerprint FROM fp
      QUALIFY count(*) OVER (PARTITION BY fingerprint) <= {max_doc_freq}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM joinable a JOIN joinable b
        ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= {min_shared}
    )
    SELECT doc_a, doc_b, shared,
           shared / least(sa.nfp, sb.nfp) AS containment
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY containment DESC, doc_a, doc_b
    LIMIT 50
    """


@register("wn1_winnowing_overlap", oracle=_winnowing_oracle())
def wn1_winnowing_overlap(spark, sf_dir):
    # Rolling-hash winnowing fingerprints -> substring-overlap pairs
    # (semantics also pinned in tests/test_winnowing.py).
    from pyspark.sql import functions as F

    from era_parser_spark.operators.winnowing import overlap_pairs

    docs = table(spark, sf_dir, "documents")
    return (
        overlap_pairs(docs, "doc_id", "text", k=8, w=4, min_shared=5, max_doc_freq=100)
        .orderBy(F.desc("containment"), "doc_a", "doc_b")
        .limit(50)
    )


@register(
    "t6_term_salience",
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, term, tf, df, score, rn FROM (
      SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
             CAST(dfq.df AS BIGINT) AS df,
             CAST(tf.tf AS DOUBLE) / dfq.df AS score,
             CAST(row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf AS DOUBLE) / dfq.df DESC, tf.term)
               AS INTEGER) AS rn
      FROM tf JOIN dfq USING (term)
    ) WHERE rn <= 3
    """,
)
def t6_term_salience(spark, sf_dir):
    # Top-3 distinctive terms per doc by tf/df (div-exact tf-idf stand-in).
    from era_parser_spark.operators.text import term_salience

    docs = table(spark, sf_dir, "documents")
    return term_salience(docs, "doc_id", "text", k=3)


@register(
    "t8_rarity_score",
    # quant div df is exact integer division in both engines; the BIGINT
    # sums are order-independent; only mean_rarity divides as doubles
    # (one identical IEEE op).
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
    scored AS (
      SELECT doc_id, tf,
             tf * (1000000 // count(*) OVER (PARTITION BY term)) AS q_rarity
      FROM tf
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(q_rarity) AS BIGINT) AS q_rarity_sum,
           CAST(sum(q_rarity) AS DOUBLE) / (1000000.0 * sum(tf)) AS mean_rarity
    FROM scored GROUP BY doc_id
    """,
)
def t8_rarity_score(spark, sf_dir):
    # Surprisal-proxy quality score: mean inverse document frequency over
    # token occurrences, exact-integer math (no libm logs).
    from era_parser_spark.operators.text import rarity_score

    docs = table(spark, sf_dir, "documents")
    return rarity_score(docs, "doc_id", "text")


@register(
    "t9_boilerplate_strip",
    # tok[a:b] list slicing clamps in both engines; string_agg ORDER BY pos
    # == the array_sort((pos,chunk)) reassembly; ceil(int/2.0) matches
    # F.ceil(size/2.0).
    oracle=rf"""
    WITH tokd AS (SELECT doc_id, regexp_split_to_array(
           trim(lower(coalesce(text, ''))), '\s+') AS tok FROM documents),
    ex AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             array_to_string(tok[i*2+1 : i*2+2], ' ') AS chunk
      FROM tokd, unnest(range(0, CAST(ceil(len(tok) / 2.0) AS BIGINT))) AS u(i)
    ),
    hot AS (
      SELECT chunk FROM ex GROUP BY chunk
      HAVING count(DISTINCT doc_id) > 50
    ),
    kept AS (SELECT * FROM ex ANTI JOIN hot USING (chunk)),
    re AS (
      SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(re.clean_text, '') AS clean_text,
           CAST(ceil(len(t.tok) / 2.0) AS BIGINT) AS n_chunks,
           CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept
    FROM tokd t LEFT JOIN re USING (doc_id)
    """,
)
def t9_boilerplate_strip(spark, sf_dir):
    # Cross-doc boilerplate strip: 2-token chunks occurring in > 50
    # distinct docs are template text and removed; docs reassembled in
    # order (pure-boilerplate docs come back empty, not missing).
    from era_parser_spark.operators.text import boilerplate_strip

    docs = table(spark, sf_dir, "documents")
    return boilerplate_strip(
        docs, "doc_id", "text", chunk_tokens=2, max_doc_freq=50
    )


def _t10_oracle() -> str:
    from era_parser_spark.operators.text import sql_pii_exprs

    counts, red = sql_pii_exprs("t")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '') || printf(
               ' contact u%d@mail%d.example.com from 10.%d.%d.%d or call +1-555-%04d',
               doc_id, doc_id % 7, doc_id % 256, (doc_id // 256) % 256,
               (doc_id // 65536) % 256, doc_id % 10000) AS t
      FROM documents
    )
    SELECT doc_id, {', '.join(counts)}, {red} AS redacted_text FROM aug
    """


@register("t10_pii_redact", oracle=_t10_oracle())
def t10_pii_redact(spark, sf_dir):
    # PII scrub (emails / IPv4 / phones) — the corpus has no natural PII,
    # so a deterministic doc_id-derived contact line is appended first and
    # the oracle re-derives the identical injection with printf.  The
    # patterns are RE2-safe, so Java regex and DuckDB RE2 agree match for
    # match (counts AND the rewritten text are value-checked).
    from era_parser_spark.operators.text import pii_redact

    docs = table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.format_string(
                " contact u%d@mail%d.example.com from 10.%d.%d.%d or call +1-555-%04d",
                F.col("doc_id"),
                F.expr("doc_id % 7"),
                F.expr("doc_id % 256"),
                F.expr("(doc_id div 256) % 256"),
                F.expr("(doc_id div 65536) % 256"),
                F.expr("doc_id % 10000"),
            ),
        ).alias("text"),
    )
    return pii_redact(injected, "doc_id", "text")


@register(
    "t11_intra_doc_dedup",
    # string_agg ORDER BY pos == array_sort((pos,tk)) reassembly (total
    # order); positions/counts are pure integers.  l=3 binds on this
    # corpus (27 docs contain repeated 3-grams); production spans are
    # longer — l is the knob, the plan is identical.
    oracle=r"""
    WITH tokd AS (SELECT doc_id, regexp_split_to_array(
           trim(lower(coalesce(text, ''))), '\s+') AS tok FROM documents),
    base AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, tok[CAST(i + 1 AS INTEGER)] AS tk
      FROM tokd, unnest(range(0, len(tok))) AS u(i)
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(tok[CAST(i + 1 AS INTEGER) : CAST(i + 3 AS INTEGER)], ' ') AS gram
      FROM tokd, unnest(range(0, len(tok) - 2)) AS u(i)
    ),
    rep AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY doc_id, gram ORDER BY pos) AS occ
        FROM grams
      ) WHERE occ >= 2
    ),
    covered AS (
      SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
      FROM rep, unnest(range(rep.pos, rep.pos + 3)) AS c(p)
    ),
    kept AS (SELECT * FROM base ANTI JOIN covered USING (doc_id, pos)),
    re AS (
      SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, len(tok) AS n_tokens FROM tokd)
    SELECT t.doc_id,
           coalesce(re.clean_text, '') AS clean_text,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_tokens - coalesce(re.n_kept, 0) AS BIGINT) AS n_removed
    FROM totals t LEFT JOIN re USING (doc_id)
    """,
)
def t11_intra_doc_dedup(spark, sf_dir):
    # Within-document repeated-span removal (the intra-doc half of
    # substring dedup): tokens covered by a 2nd+ occurrence of a repeated
    # 3-gram are stripped, first occurrences kept, survivors reassembled
    # (operators/text.py::intra_doc_span_strip).
    from era_parser_spark.operators.text import intra_doc_span_strip

    docs = table(spark, sf_dir, "documents")
    return intra_doc_span_strip(docs, "doc_id", "text", l=3)


@register(
    "t12_normalize_text",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                '[^a-z0-9\\s]+', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,
           trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                '[^a-z0-9\\s]+', ' ', 'g'), '\\s+', ' ', 'g'))
             <> coalesce(text, '') AS changed
    FROM documents
    """,
)
def t12_normalize_text(spark, sf_dir):
    # Canonicalization ahead of exact dedup (operators/text.py::normalize_text);
    # RE2-safe character classes so both engines rewrite identically.
    from era_parser_spark.operators.text import normalize_text

    docs = table(spark, sf_dir, "documents")
    return normalize_text(docs, "doc_id", "text")


@register(
    "t13_ngram_topk",
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    grams AS (
      SELECT array_to_string(tok[CAST(i + 1 AS INTEGER) : CAST(i + 2 AS INTEGER)], ' ') AS gram
      FROM tokd, unnest(range(0, len(tok) - 1)) AS u(i)
    )
    SELECT gram, CAST(count(*) AS BIGINT) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 50
    """,
)
def t13_ngram_topk(spark, sf_dir):
    """Corpus-level top-50 bigrams (phrase mining / vocabulary statistics —
    the frequency table BPE training and boilerplate thresholds read).
    One explode + map-side-combined count + TakeOrdered; the shuffle
    carries (gram, partial count), never documents."""
    from era_parser_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    tok = tokens_col(F.col("text"))
    grams = F.zip_with(
        F.slice(tok, 1, F.greatest(F.size(tok) - 1, F.lit(0))),
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(50)
    )


@register(
    "t14_html_strip",
    # The corpus has no natural markup, so a deterministic wrapper is
    # injected first (same move as t10's PII line) and the oracle
    # re-derives injection + strip identically.
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             '<html><p class="c' || CAST(doc_id % 7 AS VARCHAR) || '">'
               || coalesce(text, '') || ' &amp; more&nbsp;<br/></p></html>' AS t
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(
               regexp_replace(t, '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS clean_text,
           CAST(len(regexp_extract_all(t, '<[^>]*>')) AS BIGINT) AS n_tags
    FROM aug
    """,
)
def t14_html_strip(spark, sf_dir):
    # Web-text markup removal (operators/text.py::html_strip) over a
    # deterministically wrapped corpus.
    from era_parser_spark.operators.text import html_strip

    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><p class="c'),
            F.expr("cast(doc_id % 7 as string)"),
            F.lit('">'),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" &amp; more&nbsp;<br/></p></html>"),
        ).alias("text"),
    )
    return html_strip(aug, "doc_id", "text")


@register(
    "t15_line_dedup",
    # The corpus has no newlines, so the wrapper injects three lines per
    # doc (own text + a corpus-wide boilerplate line + a doc-unique line)
    # identically on both sides — keep-first then drops the boilerplate
    # line everywhere except the minimum (doc_id, idx) position.  The
    # oracle re-derives keep-first with a row_number over the normalized
    # line (grouping on the norm itself; Spark keys on md5(norm), equal
    # by injectivity-up-to-md5-collision).
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '') || chr(10) || 'Shared Boilerplate Line'
               || chr(10) || 'doc line ' || CAST(doc_id AS VARCHAR) AS t
      FROM documents
    ),
    l AS (
      SELECT doc_id, CAST(i AS BIGINT) AS idx, parts[CAST(i + 1 AS INTEGER)] AS ln
      FROM (SELECT doc_id, string_split(t, chr(10)) AS parts FROM aug),
           unnest(range(0, len(parts))) AS u(i)
    ),
    marked AS (
      SELECT doc_id, idx, ln, trim(lower(ln)) AS norm,
             row_number() OVER (
               PARTITION BY trim(lower(ln)) ORDER BY doc_id, idx
             ) AS rn
      FROM l
    ),
    kept AS (SELECT doc_id, idx, ln FROM marked WHERE norm = '' OR rn = 1),
    re AS (
      SELECT doc_id, string_agg(ln, chr(10) ORDER BY idx) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id,
           coalesce(re.clean_text, '') AS clean_text,
           CAST(len(string_split(a.t, chr(10))) AS BIGINT) AS n_lines,
           CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept
    FROM aug a LEFT JOIN re USING (doc_id)
    """,
)
def t15_line_dedup(spark, sf_dir):
    # CCNet-style corpus line dedup, keep-first occurrence
    # (operators/text.py::line_dedup) over a deterministically line-
    # structured wrapping of the corpus.
    from era_parser_spark.operators.text import line_dedup

    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\nShared Boilerplate Line\ndoc line "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return line_dedup(aug, "doc_id", "text")


@register(
    "t16_url_stats",
    # URLs are injected deterministically (corpus has none): two per doc,
    # same host modulo case, so n_unique_domains pins the lowercase
    # normalization.  The RE2-safe pattern runs identically under Java
    # regex and DuckDB; the '' doubling is SQL quoting of the single
    # quote inside the path-stop character class.
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '') || ' see https://example'
               || CAST(doc_id % 5 AS VARCHAR) || '.com/p/'
               || CAST(doc_id AS VARCHAR) || ' and http://Example'
               || CAST(doc_id % 5 AS VARCHAR) || '.com:8080 end' AS t
      FROM documents
    ),
    u AS (
      SELECT doc_id,
             regexp_extract_all(
               t, 'https?://[A-Za-z0-9.-]+(:\\d+)?(/[^\\s"'')>]*)?'
             ) AS us
      FROM aug
    ),
    h AS (
      SELECT doc_id, us,
             list_distinct(list_transform(us, x -> lower(
               regexp_replace(regexp_replace(x, '^https?://', ''), '[:/].*$', '')
             ))) AS hosts
      FROM u
    )
    SELECT doc_id,
           CAST(len(us) AS BIGINT) AS n_urls,
           CAST(len(hosts) AS BIGINT) AS n_unique_domains,
           array_to_string(list_sort(hosts), ',') AS domains
    FROM h
    """,
)
def t16_url_stats(spark, sf_dir):
    # Outlink extraction + host normalization (operators/text.py::url_stats)
    # over a deterministically URL-injected corpus (the t10/t14 move).
    from era_parser_spark.operators.text import url_stats

    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" see https://example"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://Example"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".com:8080 end"),
        ).alias("text"),
    )
    return url_stats(aug, "doc_id", "text")


@register(
    "t17_bigram_lm_score",
    # The CCNet-perplexity stand-in with exact integer math: scaled
    # conditional probability (1e6 * c(bigram)) // c(prefix) per bigram
    # occurrence (c_bg <= c_w1 always, so q <= 1e6 per occurrence and the
    # sums stay far below 2^53); only the final mean divides as doubles.
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i+1])
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM tokd
    ),
    ex AS (SELECT doc_id, unnest(grams) AS bg FROM g),
    tf AS (SELECT doc_id, bg, count(*) AS tf FROM ex GROUP BY doc_id, bg),
    cbg AS (SELECT bg, sum(tf) AS c_bg FROM tf GROUP BY bg),
    cw1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(tf) AS c_w1
      FROM tf GROUP BY 1
    ),
    agg AS (
      SELECT tf.doc_id, sum(tf.tf) AS n_bigrams,
             sum(tf.tf * ((1000000 * c.c_bg) // cw.c_w1)) AS q_prob_sum
      FROM tf
      JOIN cbg c USING (bg)
      JOIN cw1 cw ON cw.w1 = split_part(tf.bg, ' ', 1)
      GROUP BY tf.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(q_prob_sum, 0) AS BIGINT) AS q_prob_sum,
           CASE WHEN coalesce(n_bigrams, 0) > 0
                THEN CAST(q_prob_sum AS DOUBLE) / (1000000.0 * n_bigrams)
                ELSE CAST(0.0 AS DOUBLE) END AS mean_prob
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
)
def t17_bigram_lm_score(spark, sf_dir):
    # Corpus-bigram fluency score (operators/text.py::bigram_lm_score) —
    # the deterministic perplexity-filter stand-in.
    from era_parser_spark.operators.text import bigram_lm_score

    docs = table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, "doc_id", "text")


@register(
    "t18_trained_lang_id",
    # Model-grade lang-ID with a TRAINED model, gate = exactness of the
    # whole train+predict math (the corpus labels are synthetic noise, so
    # accuracy is meaningless HERE and is pinned instead on a separable
    # pytest fixture): profiles trained on even doc_ids, odd ids scored,
    # confusion matrix out.  Integer scaled likelihoods -> the model and
    # every score are bit-identical in both engines; argmax ties break
    # alphabetically, zero score -> 'und'.
    oracle="""
    WITH lowered AS (
      SELECT doc_id, lang, lower(coalesce(text, '')) AS t FROM documents
    ),
    tr AS (
      SELECT lang, unnest(list_transform(range(1, length(t) - 1),
               i -> substr(t, CAST(i AS INTEGER), 3))) AS gram
      FROM lowered WHERE doc_id % 2 = 0 AND length(t) >= 3
    ),
    counts AS (SELECT lang, gram, count(*) AS c FROM tr GROUP BY 1, 2),
    tot AS (SELECT lang, sum(c) AS tot FROM counts GROUP BY 1),
    prof AS (
      SELECT counts.lang AS plang, gram, (1000000 * c) // tot AS q
      FROM counts JOIN tot USING (lang)
    ),
    sc_ex AS (
      SELECT doc_id, unnest(list_transform(range(1, length(t) - 1),
               i -> substr(t, CAST(i AS INTEGER), 3))) AS gram
      FROM lowered WHERE doc_id % 2 = 1 AND length(t) >= 3
    ),
    tf AS (SELECT doc_id, gram, count(*) AS tf FROM sc_ex GROUP BY 1, 2),
    sc AS (
      SELECT tf.doc_id, prof.plang, sum(tf.tf * prof.q) AS score
      FROM tf JOIN prof USING (gram) GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, plang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, plang ASC) AS rn
      FROM sc
    ),
    pred AS (
      SELECT doc_id,
             CASE WHEN score > 0 THEN plang ELSE 'und' END AS predicted
      FROM best WHERE rn = 1
    )
    SELECT l.lang, coalesce(pred.predicted, 'und') AS predicted_lang,
           count(*) AS cnt
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1) l
    LEFT JOIN pred USING (doc_id)
    GROUP BY 1, 2
    """,
)
def t18_trained_lang_id(spark, sf_dir):
    # Train char-trigram profiles on even doc_ids, predict odd ids,
    # emit the confusion matrix (operators/text.py::train_lang_profiles /
    # trained_lang_id).
    from era_parser_spark.operators.text import trained_lang_id, train_lang_profiles

    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    profiles = train_lang_profiles(train, "text", "lang")
    pred = trained_lang_id(profiles, test, "doc_id", "text")
    return (
        test.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "t19_quality_classifier",
    # TRAINED quality filter (the fastText stage of the GPT-3/LLaMA
    # CommonCrawl recipe) with the t18 gate: the corpus labels here are
    # synthetic (good = source 'src0'), so accuracy is meaningless HERE
    # and is pinned instead on a separable pytest fixture — the oracle
    # checks exactness of the whole train+score math.  Fixed-point linear
    # weights w = q_good - q_bad (scaled class frequencies, integer div),
    # score = sum tf*w, all BIGINT: q <= 1e6, per-doc sums ~2e8 << 2^53.
    oracle=f"""
    WITH ex AS (
      SELECT (source = 'src0') AS good, unnest({_TOK}) AS tok
      FROM documents WHERE doc_id % 2 = 0 AND source IS NOT NULL
    ),
    counts AS (
      SELECT good, tok, count(*) AS c FROM ex WHERE tok <> '' GROUP BY 1, 2
    ),
    tot AS (SELECT good, sum(c) AS tot FROM counts GROUP BY 1),
    q AS (
      SELECT counts.good, tok, (1000000 * c) // tot AS q
      FROM counts JOIN tot USING (good)
    ),
    w AS (
      SELECT tok,
             sum(CASE WHEN good THEN q ELSE 0 END)
             - sum(CASE WHEN NOT good THEN q ELSE 0 END) AS w
      FROM q GROUP BY tok
    ),
    sx AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents WHERE doc_id % 2 = 1
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM sx WHERE tok <> '' GROUP BY 1, 2
    ),
    sc AS (
      SELECT tf.doc_id, sum(tf * w.w) AS score
      FROM tf JOIN w USING (tok) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(sc.score, 0) AS BIGINT) AS quality_score,
           coalesce(sc.score, 0) > 0 AS is_good
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN sc USING (doc_id)
    """,
)
def t19_quality_classifier(spark, sf_dir):
    # Train the fixed-point quality model on even doc_ids (good = source
    # 'src0'), score the odd ids (operators/text.py::train_quality_model /
    # quality_score).
    from era_parser_spark.operators.text import quality_score, train_quality_model

    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "__good", F.col("source") == "src0"
    )
    model = train_quality_model(train, "text", "__good")
    return quality_score(model, docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text")


@register(
    "t17b_bigram_lm_split",
    # t17 with the CCNet train/score split: bigram + prefix counts FIT on
    # even doc_ids, odd ids scored against them — no self-reference (a
    # doc's own transitions no longer inflate its fluency).  n_bigrams
    # counts only target bigrams present in the reference model (unseen
    # transitions contribute nothing — the fixed-point analogue of -inf).
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i+1])
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM tokd
    ),
    fit AS (SELECT unnest(grams) AS bg FROM g WHERE doc_id % 2 = 0),
    cbg AS (SELECT bg, count(*) AS c_bg FROM fit GROUP BY bg),
    cw1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_w1
      FROM cbg GROUP BY 1
    ),
    model AS (
      SELECT bg, (1000000 * c_bg) // c_w1 AS q
      FROM cbg JOIN cw1 ON cw1.w1 = split_part(cbg.bg, ' ', 1)
    ),
    sx AS (SELECT doc_id, unnest(grams) AS bg FROM g WHERE doc_id % 2 = 1),
    tf AS (SELECT doc_id, bg, count(*) AS tf FROM sx GROUP BY 1, 2),
    agg AS (
      SELECT tf.doc_id, sum(tf) AS n_bigrams, sum(tf * q) AS q_prob_sum
      FROM tf JOIN model USING (bg) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(q_prob_sum, 0) AS BIGINT) AS q_prob_sum,
           CASE WHEN coalesce(n_bigrams, 0) > 0
                THEN CAST(q_prob_sum AS DOUBLE) / (1000000.0 * n_bigrams)
                ELSE CAST(0.0 AS DOUBLE) END AS mean_prob
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN agg USING (doc_id)
    """,
)
def t17b_bigram_lm_split(spark, sf_dir):
    # Fit the bigram model on even doc_ids, score the odd ids
    # (operators/text.py::bigram_lm_score_split).
    from era_parser_spark.operators.text import bigram_lm_score_split

    docs = table(spark, sf_dir, "documents")
    return bigram_lm_score_split(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
    )


@register(
    "t20_gopher_rules",
    # The Gopher A1.1 rule set re-derived in SQL over the SAME
    # deterministically line-augmented corpus (the t15 injection pattern:
    # the raw corpus has no newlines, so ellipsis/bullet/stopword lines
    # are appended by doc_id residue identically on both sides).  Every
    # surfaced double is an exact-integer division — correctly rounded
    # and bit-identical in both engines — so the rule comparisons and the
    # conjunction verdict are oracle-exact.
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 3 = 0
                     THEN chr(10) || 'to be continued...' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN chr(10) || '- first bullet' || chr(10) || '* second bullet'
                     ELSE '' END AS t
      FROM documents
    ),
    m AS (
      SELECT doc_id, t,
             regexp_split_to_array(trim(lower(t)), '\\s+') AS tok,
             string_split(t, chr(10)) AS ln
      FROM aug
    ),
    g AS (
      SELECT doc_id,
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
               w -> list_contains(tok, w))) AS BIGINT) AS n_required_stopwords
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           n_required_stopwords,
           n_words >= 50 AND n_words <= 100000
           AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
           AND symbol_word_ratio <= 0.1
           AND bullet_line_frac <= 0.9
           AND ellipsis_line_frac <= 0.3
           AND alpha_word_frac >= 0.8
           AND n_required_stopwords >= 2 AS gopher_keep
    FROM g
    """,
)
def t20_gopher_rules(spark, sf_dir):
    # Gopher/MassiveText rule-based quality filter (Rae et al. 2021
    # A1.1) over the line-augmented corpus: word-count + mean-word-length
    # bounds, symbol ratio, bullet/ellipsis line fractions, alpha-word
    # fraction, required stopwords — and the conjunction verdict
    # (operators/text.py::gopher_quality_flags).  Zero-shuffle codegen.
    from era_parser_spark.operators.text import gopher_quality_flags

    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\nto be continued..."))
            .otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\n- first bullet\n* second bullet"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return gopher_quality_flags(aug, "doc_id", "text")


@register(
    "t21_perplexity_buckets",
    # CCNet head/middle/tail: the t17b scoring CTEs verbatim, then
    # per-language tercile thresholds from the deterministic doc_id%5==1
    # sample (thresholds are VALUES — min score of the top ceil(n/3) /
    # ceil(2n/3) by (mean_prob DESC, doc_id)), and the bucket CASE on
    # the full target slice.  mean_prob is an exact-integer-ratio double
    # (t17b), so every comparison is bit-identical in both engines; a
    # language missing from the sample gives NULL thresholds -> 'tail'
    # in both.
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i+1])
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM tokd
    ),
    fit AS (SELECT unnest(grams) AS bg FROM g WHERE doc_id % 2 = 0),
    cbg AS (SELECT bg, count(*) AS c_bg FROM fit GROUP BY bg),
    cw1 AS (
      SELECT split_part(bg, ' ', 1) AS w1, sum(c_bg) AS c_w1
      FROM cbg GROUP BY 1
    ),
    model AS (
      SELECT bg, (1000000 * c_bg) // c_w1 AS q
      FROM cbg JOIN cw1 ON cw1.w1 = split_part(cbg.bg, ' ', 1)
    ),
    sx AS (SELECT doc_id, unnest(grams) AS bg FROM g WHERE doc_id % 2 = 1),
    tf AS (SELECT doc_id, bg, count(*) AS tf FROM sx GROUP BY 1, 2),
    agg AS (
      SELECT tf.doc_id, sum(tf) AS n_bigrams, sum(tf * q) AS q_prob_sum
      FROM tf JOIN model USING (bg) GROUP BY 1
    ),
    scored AS (
      SELECT d.doc_id, d.lang,
             CASE WHEN coalesce(n_bigrams, 0) > 0
                  THEN CAST(q_prob_sum AS DOUBLE) / (1000000.0 * n_bigrams)
                  ELSE CAST(0.0 AS DOUBLE) END AS mean_prob
      FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1) d
      LEFT JOIN agg USING (doc_id)
    ),
    ranked AS (
      SELECT lang, mean_prob,
             row_number() OVER (
               PARTITION BY lang ORDER BY mean_prob DESC, doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM scored WHERE doc_id % 5 = 1
    ),
    th AS (
      SELECT lang,
             min(CASE WHEN rn <= (n + 2) // 3 THEN mean_prob END) AS t_head,
             min(CASE WHEN rn <= (2 * n + 2) // 3 THEN mean_prob END) AS t_mid
      FROM ranked GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.mean_prob,
           CASE WHEN s.mean_prob >= th.t_head THEN 'head'
                WHEN s.mean_prob >= th.t_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s LEFT JOIN th USING (lang)
    """,
)
def t21_perplexity_buckets(spark, sf_dir):
    # CCNet perplexity bucketing (Wenzek et al. 2020) composed on t17b's
    # reference-fit LM scores (operators/text.py::perplexity_buckets):
    # fit on even ids, score odd ids, thresholds from the doc_id%5==1
    # sample, bucket the full target slice by broadcast CASE.
    from era_parser_spark.operators.text import perplexity_buckets

    docs = table(spark, sf_dir, "documents")
    return perplexity_buckets(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
        "lang",
    )


@register(
    "t22_bm25_topk",
    # Integer BM25 re-derived in SQL: same rational idf surrogate, same
    # 1e6-scaled saturation term under truncating integer division (`//`
    # in DuckDB == `div` in Spark for these all-positive BIGINTs); DuckDB
    # HUGEINT sums cast back to BIGINT.  k1=6/5, b=3/4 are folded into
    # the 44/20/6/18 coefficients on both sides.
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    docs AS (SELECT doc_id, len(tok) AS dl FROM tokd),
    stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS d FROM docs),
    ex AS (
      SELECT doc_id, t
      FROM (SELECT doc_id, unnest(tok) AS t FROM tokd)
      WHERE t IN ('hash', 'join', 'vector')
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM ex GROUP BY 1, 2),
    dft AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    per AS (
      SELECT tf.doc_id,
             ((1000000 * (2*(s.n - dft.df) + 1)) // (2*dft.df + 1))
             * ((1000000 * 44 * tf.tf * s.d)
                // (20*tf.tf*s.d + 6*s.d + 18*docs.dl*s.n))
             // 1000000 AS ts
      FROM tf JOIN dft USING (t) JOIN docs USING (doc_id) CROSS JOIN stats s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(ts) AS BIGINT) AS bm25_score
    FROM per GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id LIMIT 10
    """,
)
def t22_bm25_topk(spark, sf_dir):
    # BM25 top-10 for the query {hash, join, vector} — the retrieval
    # ranking stage (Lucene/Elasticsearch surface) over the corpus, with
    # exact integer math so the whole surface is oracle-exact
    # (operators/text.py::bm25_topk has the 100 TB plan notes).
    from era_parser_spark.operators.text import bm25_topk

    docs = table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text", ["hash", "join", "vector"], k=10)


def _t23_oracle() -> str:
    from era_parser_spark.operators.text import sql_mojibake_expr

    fixed = sql_mojibake_expr("t")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN coalesce(text, '') || '{_T23_MOJ}'
                  ELSE coalesce(text, '') END AS t
      FROM documents
    )
    SELECT doc_id, {fixed} AS text_fixed, {fixed} <> t AS changed
    FROM aug
    """


# Deterministic mojibake injection (the t10 PII pattern): the corpus is
# clean ASCII, so every third doc gets the classic cp1252 casualties
# appended identically on both sides.
_T23_MOJ = (
    " cafÃ© â€œnaÃ¯veâ€™"
    " costs â‚¬5 Â«hereÂ»"
)


@register("t23_fix_mojibake", oracle=_t23_oracle())
def t23_fix_mojibake(spark, sf_dir):
    # Encoding repair (ftfy-lite) over a deterministically corrupted
    # corpus slice — operators/text.py::fix_mojibake; the replacement
    # chain and its SQL twin are generated from the SAME ordered table.
    from era_parser_spark.operators.text import fix_mojibake

    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(_T23_MOJ)),
        )
        .otherwise(F.coalesce(F.col("text"), F.lit("")))
        .alias("text"),
    )
    return fix_mojibake(aug, "doc_id", "text")


@register(
    "t24_chunk_windows",
    # Spark slice(arr, start, len) == DuckDB's inclusive tok[a : a+len-1]
    # (both 1-based, both clamp); ceil(n/stride) over an exact small-int
    # IEEE division is identical; empty docs yield no chunks.
    oracle=f"""
    WITH tokd AS (
      SELECT doc_id, {_TOK} AS tok,
             CASE WHEN len({_TOK}) = 1 AND ({_TOK})[1] = '' THEN 0
                  ELSE len({_TOK}) END AS n
      FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(tok[CAST(i*48+1 AS INTEGER) :
                               CAST(i*48+64 AS INTEGER)], ' ') AS chunk_text,
           CAST(least(64, n - i*48) AS BIGINT) AS n_chunk_tokens
    FROM tokd, unnest(range(0, CAST(ceil(n / 48) AS BIGINT))) AS u(i)
    WHERE n > 0
    """,
)
def t24_chunk_windows(spark, sf_dir):
    # RAG indexing prep: 64-token windows every 48 tokens (16-token
    # overlap) — operators/text.py::chunk_windows; zero-shuffle codegen.
    from era_parser_spark.operators.text import chunk_windows

    docs = table(spark, sf_dir, "documents")
    return chunk_windows(docs, "doc_id", "text", chunk_tokens=64, stride=48)


_T25_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({_TOK}) - 1), "
    f"i -> {_TOK}[i] || ' ' || {_TOK}[i+1] || ' ' || {_TOK}[i+2]))"
)


@register(
    "t25_ngram_novelty",
    # Same distinct-3-gram definition as the dd family; df via a window
    # over the exploded index; novelty = one IEEE division of two exact
    # BIGINTs.  Sub-3-token docs have no shingles and are absent on both
    # sides.
    oracle=f"""
    WITH sh AS (SELECT doc_id, unnest({_T25_SHINGLES}) AS s FROM documents),
    w AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS c FROM sh)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS novelty
    FROM w GROUP BY doc_id
    """,
)
def t25_ngram_novelty(spark, sf_dir):
    # Memorization-risk audit: fraction of each doc's distinct 3-gram
    # shingles unique to it corpus-wide
    # (operators/text.py::ngram_novelty).
    from era_parser_spark.operators.text import ngram_novelty

    docs = table(spark, sf_dir, "documents")
    return ngram_novelty(docs, "doc_id", "text", n=3)


_T26_H = "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"


@register(
    "t26_hash_embed",
    # Feature-hashing embeddings (hashing trick): bucket = h % 64, sign
    # from high bit (h >> 30) & 1 — both exact integer ops in both
    # engines (NEVER a double division: 60-bit hashes lose bits above
    # 2^53).  The dense vector is rendered as a comma-joined string so
    # the driver hash is representation-stable (the e15 lesson); DuckDB
    # SUM(BIGINT) returns HUGEINT, so both sums cast back to BIGINT.
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({_TOK}) AS t FROM documents),
    s AS (
      SELECT doc_id,
             CAST({_T26_H} % 64 AS INTEGER) AS b,
             CASE WHEN (({_T26_H} >> 30) % 2) = 0 THEN 1 ELSE -1 END AS sgn
      FROM ex WHERE t <> ''
    ),
    c AS (SELECT doc_id, b, CAST(SUM(sgn) AS BIGINT) AS v
          FROM s GROUP BY doc_id, b),
    grid AS (SELECT d.doc_id, CAST(u.i AS INTEGER) AS b
             FROM (SELECT DISTINCT doc_id FROM documents) d,
                  unnest(range(0, 64)) AS u(i)),
    dense AS (
      SELECT g.doc_id, g.b, COALESCE(c.v, 0) AS v
      FROM grid g LEFT JOIN c ON g.doc_id = c.doc_id AND g.b = c.b
    )
    SELECT doc_id,
           string_agg(CAST(v AS VARCHAR), ',' ORDER BY b) AS feat,
           CAST(SUM(v * v) AS BIGINT) AS norm_sq
    FROM dense GROUP BY doc_id
    """,
)
def t26_hash_embed(spark, sf_dir):
    # Text -> fixed-width integer vector bridge to the similarity tier
    # (operators/text.py::hash_embed); ONE (id, bucket) shuffle.
    from era_parser_spark.operators.text import hash_embed

    docs = table(spark, sf_dir, "documents")
    out = hash_embed(docs, "doc_id", "text", dim=64)
    return out.select(
        "doc_id",
        F.array_join(
            F.transform("feat", lambda x: x.cast("string")), ","
        ).alias("feat"),
        "norm_sq",
    )


@register(
    "t27_readability",
    # Exact integer run counts; grade arithmetic keeps every literal
    # CAST(... AS DOUBLE) (bare decimals parse as DECIMAL in DuckDB and
    # round differently) and mirrors Spark's multiply-add order.
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOK}) AS BIGINT) AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
             AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables,
           CAST(0.39 AS DOUBLE)
             * (CAST(len({_TOK}) AS DOUBLE)
                / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
           + CAST(11.8 AS DOUBLE)
             * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                / len({_TOK}))
           - CAST(15.59 AS DOUBLE) AS fk_grade
    FROM documents
    """,
)
def t27_readability(spark, sf_dir):
    # Flesch-Kincaid grade from exact [aeiouy]+ / [.!?]+ run counts —
    # zero-shuffle codegen (operators/text.py::readability_scores).
    from era_parser_spark.operators.text import readability_scores

    docs = table(spark, sf_dir, "documents")
    return readability_scores(docs, "doc_id", "text")


def _t29_gram_cte(n: int) -> str:
    return f"""
    g{n} AS (
      SELECT doc_id, nc, {n} AS n,
             array_to_string(tok[CAST(i AS INTEGER)
                                 : CAST(i + {n} - 1 AS INTEGER)], ' ') AS g
      FROM base, unnest(range(1, len(tok) - {n} + 2)) AS u(i)
      WHERE len(tok) >= {n}
    )"""


@register(
    "t29_gopher_repetition",
    # Same gram definition (token slices with multiplicity), same
    # (count DESC, gram ASC) argmax order, char mass = count *
    # length(gram); fractions are one IEEE division each with DOUBLE
    # thresholds (bare decimals parse DECIMAL in DuckDB).
    oracle=f"""
    WITH base AS (
      SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS nc,
             regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS tok
      FROM documents
    ),{",".join(_t29_gram_cte(n) for n in (2, 3, 4, 5))},
    ex AS (SELECT * FROM g2 UNION ALL SELECT * FROM g3
           UNION ALL SELECT * FROM g4 UNION ALL SELECT * FROM g5),
    cnt AS (SELECT doc_id, nc, n, g, count(*) AS c
            FROM ex GROUP BY doc_id, nc, n, g),
    rn AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                        ORDER BY c DESC, g) AS rnk
           FROM cnt),
    per_n AS (
      SELECT doc_id, nc, n,
             max(CASE WHEN rnk = 1 THEN c * length(g) END) AS topmass,
             sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dupmass
      FROM rn GROUP BY doc_id, nc, n
    ),
    agg AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN topmass END) AS t2,
             max(CASE WHEN n = 3 THEN topmass END) AS t3,
             max(CASE WHEN n = 4 THEN topmass END) AS t4,
             max(CASE WHEN n = 5 THEN dupmass END) AS d5
      FROM per_n GROUP BY doc_id
    )
    SELECT b.doc_id, b.nc AS n_chars,
           COALESCE(CAST(t2 AS DOUBLE) / nc, 0.0) AS top2_frac,
           COALESCE(CAST(t3 AS DOUBLE) / nc, 0.0) AS top3_frac,
           COALESCE(CAST(t4 AS DOUBLE) / nc, 0.0) AS top4_frac,
           COALESCE(CAST(d5 AS DOUBLE) / nc, 0.0) AS dup5_frac,
           COALESCE(CAST(t2 AS DOUBLE) / nc, 0.0) <= CAST(0.20 AS DOUBLE)
           AND COALESCE(CAST(t3 AS DOUBLE) / nc, 0.0) <= CAST(0.18 AS DOUBLE)
           AND COALESCE(CAST(t4 AS DOUBLE) / nc, 0.0) <= CAST(0.16 AS DOUBLE)
           AND COALESCE(CAST(d5 AS DOUBLE) / nc, 0.0) <= CAST(0.15 AS DOUBLE)
             AS rep_keep
    FROM base b LEFT JOIN agg USING (doc_id)
    """,
)
def t29_gopher_repetition(spark, sf_dir):
    # Gopher A1.2 repetition filters (top n-gram / duplicated 5-gram
    # char fractions) — operators/text.py::gopher_repetition_flags.
    from era_parser_spark.operators.text import gopher_repetition_flags

    docs = table(spark, sf_dir, "documents")
    return gopher_repetition_flags(docs, "doc_id", "text")


@register(
    "t28_c4_rules",
    # The corpus is single-line and punctuation-free, so both sides
    # first build the SAME augmented page (t10 injection pattern):
    # 12-token chunk lines, '.' appended when (doc_id+i) % 4 <> 0,
    # lorem/{/blocklist lines injected by doc_id residues — then the C4
    # rules run on that page.  Plain string (NOT an f-string): the
    # oracle contains literal braces.
    oracle="""
    WITH base AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS tok
      FROM documents
    ),
    aug AS (
      SELECT doc_id,
        array_to_string(
          list_transform(range(0, CAST(ceil(len(tok) / 12.0) AS BIGINT)),
            i -> array_to_string(tok[CAST(i * 12 + 1 AS INTEGER)
                                     : CAST(i * 12 + 12 AS INTEGER)], ' ')
                 || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END),
          chr(10))
        || CASE WHEN doc_id % 29 = 0 THEN chr(10) || 'lorem ipsum dolor sit'
                ELSE '' END
        || CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'if (x) {' ELSE '' END
        || CASE WHEN doc_id % 37 = 0 THEN chr(10) || 'visit the casino again today.'
                ELSE '' END AS page
      FROM base
    ),
    c AS (
      SELECT doc_id, page,
             string_split(page, chr(10)) AS lines,
             list_filter(string_split(page, chr(10)),
               l -> (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
                     OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), chr(34)))
                    AND len(regexp_split_to_array(trim(l), '\\s+')) >= 5) AS kept,
             len(regexp_extract_all(page, '[.!?]+')) AS n_sent,
             contains(lower(page), 'lorem ipsum') AS has_lorem,
             contains(page, chr(123)) AS has_brace,
             len(list_filter(['casino', 'viagra', 'xxx'],
                 w -> list_contains(regexp_split_to_array(trim(lower(page)),
                                                          '\\s+'), w))) > 0
               AS has_badword
      FROM aug
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(n_sent AS BIGINT) AS n_sentences,
           has_lorem, has_brace, has_badword,
           n_sent >= 3 AND NOT has_lorem AND NOT has_brace
             AND NOT has_badword AND len(kept) >= 1 AS c4_keep,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
    FROM c
    """,
)
def t28_c4_rules(spark, sf_dir):
    # C4 cleaning (operators/text.py::c4_rules) over the deterministic
    # augmented page; augmentation mirrored in the oracle.
    from era_parser_spark.operators.text import c4_rules

    docs = table(spark, sf_dir, "documents")
    tok = F.split(F.trim(F.lower("text")), r"\s+")
    nch = F.ceil(F.size(tok) / F.lit(12.0)).cast("int")
    line = lambda i: F.concat(  # noqa: E731
        F.array_join(F.slice(tok, i * 12 + 1, 12), " "),
        F.when((F.col("doc_id") + i) % 4 != 0, F.lit(".")).otherwise(F.lit("")),
    )
    page = F.concat(
        F.array_join(F.transform(F.sequence(F.lit(0), nch - 1), line), "\n"),
        F.when(F.col("doc_id") % 29 == 0, F.lit("\nlorem ipsum dolor sit"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 31 == 0, F.lit("\nif (x) {")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 37 == 0, F.lit("\nvisit the casino again today.")
        ).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", page.alias("text"))
    return c4_rules(pages, "doc_id", "text")


def _t30_oracle() -> str:
    from era_parser_spark.operators.text import RAKE_STOPWORDS

    stop = ", ".join(f"'{s}'" for s in RAKE_STOPWORDS)
    return f"""
    WITH tokd AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
    ),
    ex AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, tok[CAST(i + 1 AS INTEGER)] AS tk
      FROM tokd, unnest(range(0, len(tok))) AS u(i)
    ),
    con AS (
      SELECT doc_id, pos, tk FROM ex
      WHERE regexp_matches(tk, '^[a-z0-9]+$') AND tk NOT IN ({stop})
    ),
    g AS (
      SELECT con.*, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM con
    ),
    pl AS (
      SELECT g.*, count(*) OVER (PARTITION BY doc_id, grp) AS plen FROM g
    ),
    wsc AS (
      SELECT doc_id, tk, (1000 * sum(plen)) // count(*) AS wscore
      FROM pl GROUP BY 1, 2
    ),
    phr AS (
      SELECT pl.doc_id, pl.grp,
             string_agg(pl.tk, ' ' ORDER BY pl.pos) AS phrase,
             sum(w.wscore) AS score_q
      FROM pl JOIN wsc w ON w.doc_id = pl.doc_id AND w.tk = pl.tk
      GROUP BY 1, 2
    ),
    dphr AS (SELECT doc_id, phrase, max(score_q) AS score_q FROM phr
             GROUP BY 1, 2),
    rk AS (
      SELECT dphr.*, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score_q DESC, phrase) AS rank
      FROM dphr
    )
    SELECT doc_id, phrase, CAST(score_q AS BIGINT) AS score_q,
           CAST(rank AS INTEGER) AS rank
    FROM rk WHERE rank <= 3
    """


@register("t30_rake_keywords", oracle=_t30_oracle())
def t30_rake_keywords(spark, sf_dir):
    """RAKE per-document keywords (Rose et al. 2010) with exact
    scaled-integer deg/freq scores — the classic unsupervised keyword
    extractor, top-3 phrases per doc under (score DESC, phrase ASC)."""
    from era_parser_spark.operators.text import rake_keywords

    docs = table(spark, sf_dir, "documents")
    return rake_keywords(docs, "doc_id", "text", top_n=3)


def _bpe_ctes(k: int, src: str = "documents", prefix: str = "") -> str:
    """Unrolled-per-round BPE training CTEs (the x25 unrolled-PageRank
    pattern), shared by the t31 (merge table) and t32 (token count)
    oracles.  Every CTE is AS MATERIALIZED: DuckDB inlines plain CTE
    references and the round-over-round fan-out re-expands the scan
    subtree exponentially (8 plain rounds exceeded ulimit -n on parquet
    opens).
    round r = exact adjacent-pair count over the word-frequency table,
    deterministic argmax (count DESC, pair ASC), then the greedy
    left-to-right merge rewritten relationally — candidate positions form
    islands of consecutive indexes; greedy keeps every SECOND member of
    each island starting at its minimum (the only overlap case is a
    run of the same symbol), and a position is consumed when its
    predecessor was kept.  Matches operators/tokenizer.py's python
    kernel bit-for-bit (pinned differentially in tests/test_round8_ops)."""
    # src/prefix (round 10): p21 trains the tokenizer on a FILTERED
    # corpus — `prefix` CTEs (e.g. the Gopher gate) go first, `src` names
    # the relation the word table reads.  Defaults reproduce t31/t32.
    parts = [f"""
    WITH
    {prefix}tk31 AS MATERIALIZED (
      SELECT unnest({_TOK}) AS w FROM {src}
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    bw0 AS MATERIALIZED (
      SELECT w, count(*) AS freq,
             [substr(w, CAST(i AS INTEGER), 1)
              FOR i IN generate_series(1, length(w))] AS syms
      FROM tk31 WHERE length(w) > 0 GROUP BY w
    )"""]
    for r in range(k):
        cur, nxt = f"bw{r}", f"bw{r + 1}"
        parts.append(f"""
    pc{r} AS MATERIALIZED (
      SELECT syms[CAST(i AS INTEGER)] AS l, syms[CAST(i AS INTEGER)+1] AS r,
             sum(freq) AS c
      FROM {cur}, unnest(generate_series(1, len(syms) - 1)) AS t(i)
      GROUP BY 1, 2
    ),
    best{r} AS MATERIALIZED (SELECT l, r, c FROM pc{r} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    pos{r} AS MATERIALIZED (
      SELECT w, freq, CAST(i AS BIGINT) AS i, syms[CAST(i AS INTEGER)] AS s,
             syms[CAST(i AS INTEGER)+1] AS s2
      FROM {cur}, unnest(generate_series(1, len(syms))) AS t(i)
    ),
    cand{r} AS MATERIALIZED (
      SELECT p.w, p.i,
             p.i - row_number() OVER (PARTITION BY p.w ORDER BY p.i) AS isl
      FROM pos{r} p, best{r} b
      WHERE p.s = b.l AND p.s2 = b.r
    ),
    keep{r} AS MATERIALIZED (
      SELECT w, i FROM (
        SELECT w, i, i - min(i) OVER (PARTITION BY w, isl) AS off
        FROM cand{r})
      WHERE off % 2 = 0
    ),
    {nxt} AS MATERIALIZED (
      SELECT p.w, any_value(p.freq) AS freq,
             list(
               CASE WHEN k1.i IS NOT NULL THEN b.l || b.r ELSE p.s END
               ORDER BY p.i) AS syms
      FROM pos{r} p
      CROSS JOIN best{r} b
      LEFT JOIN keep{r} k1 ON k1.w = p.w AND k1.i = p.i
      LEFT JOIN keep{r} k2 ON k2.w = p.w AND k2.i = p.i - 1
      WHERE k2.i IS NULL
      GROUP BY p.w
    )""")
    return ",".join(parts)


def _t31_oracle(k: int) -> str:
    finals = "\n      UNION ALL ".join(
        f"SELECT {r + 1} AS rank, l AS left, r AS right, l || r AS merged,"
        f" CAST(c AS BIGINT) AS pair_count FROM best{r}"
        for r in range(k)
    )
    return _bpe_ctes(k) + f"\n    {finals}\n    ORDER BY rank"


def _t32_oracle(k: int) -> str:
    """Token counts under the learned table: bw{k} is the word table
    AFTER all k merges — exactly the encoder's per-word segmentation
    (rank-order application never creates an earlier-rank pair), so the
    per-doc count is a word-level join, no re-encode."""
    return _bpe_ctes(k) + f""",
    docw AS MATERIALIZED (
      SELECT doc_id, unnest({_TOK}) AS w FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    )
    SELECT d.doc_id, CAST(sum(len(b.syms)) AS BIGINT) AS bpe_tokens
    FROM docw d JOIN bw{k} b ON b.w = d.w
    WHERE length(d.w) > 0
    GROUP BY d.doc_id
    """


@register("t31_bpe_merges", oracle=_t31_oracle(8))
def t31_bpe_merges(spark, sf_dir):
    """Distributed BPE merge training (Sennrich et al. 2016, the in-repo
    no-end-marker convention): 8 exact-integer merge rounds over the
    word-frequency table; past SMALL_VOCAB_THRESHOLD words the merge loop
    runs as Spark rounds and the word table never collects to the
    driver, at or below it the same loop runs on the collected table."""
    from era_parser_spark.operators.tokenizer import bpe_merges_distributed

    docs = table(spark, sf_dir, "documents")
    return bpe_merges_distributed(docs, "text", n_merges=8)


@register("t32_bpe_token_counts", oracle=_t32_oracle(8))
def t32_bpe_token_counts(spark, sf_dir):
    """Per-document token counts under the corpus's OWN learned BPE table
    — the end-to-end budget number a data pipeline actually reports
    (train t31's 8 merges, then count).  Relational encode: the trainer's
    final word table IS the per-word segmentation (rank-order merge
    application can never create an earlier-rank pair), so counting is a
    word-level join + per-doc sum — the corpus is never re-encoded in
    Python."""
    from era_parser_spark.operators.dedup import tokens_col
    from era_parser_spark.operators.tokenizer import bpe_merges_distributed

    docs = table(spark, sf_dir, "documents")
    _, vocab = bpe_merges_distributed(docs, "text", n_merges=8, return_vocab=True)
    words = (
        docs.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
    )
    return (
        words.join(vocab.select("w", F.size("syms").alias("__n")), "w")
        .groupBy("doc_id")
        .agg(F.sum("__n").cast("long").alias("bpe_tokens"))
    )


@register(
    "t33_suffix_ranks",
    # Token-level per-document suffix array.  The oracle sorts actual
    # suffix SLICES (DuckDB list ordering is element-wise lexicographic,
    # shorter-prefix-first — exactly the -1-padding semantics of the
    # prefix-doubling ranks); ties are impossible (one document's
    # suffixes have distinct lengths), so row_number is deterministic.
    oracle=f"""
    WITH d33 AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    p33 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM d33, unnest(generate_series(1, len(tok))) AS t(i)
      WHERE len(tok) >= 1
    )
    SELECT doc_id, pos,
           CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY tok[CAST(pos AS INTEGER):]) AS BIGINT) AS suffix_rank
    FROM p33
    """,
)
def t33_suffix_ranks(spark, sf_dir):
    """Distributed suffix-array construction (Manber-Myers prefix
    doubling): the EXACT substring index dd10/dd16's l-gram methods
    approximate.  log2(max doc tokens) rounds, each two in-partition
    window sorts over (doc, pos, rank) longs — no suffix text ever
    materializes or shuffles."""
    from era_parser_spark.operators.suffix import suffix_ranks

    docs = table(spark, sf_dir, "documents")
    return suffix_ranks(docs, "doc_id", "text")


@register(
    "t34_longest_repeat",
    # EXACT longest repeated token span per doc: max LCP over
    # rank-adjacent suffixes (suffix-array theory).  The oracle sorts real
    # suffix slices and counts matching prefixes of the lag-adjacent pair
    # (suf[1:k] = prev[1:k] holds exactly for k <= LCP, so the filter
    # count IS the LCP); the Spark side walks the prefix-doubling rank
    # tables instead — binary decomposition, token text never shuffles.
    oracle=f"""
    WITH d34 AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    p34 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM d34, unnest(generate_series(1, len(tok))) AS t(i)
    ),
    s34 AS (
      SELECT doc_id, tok[CAST(pos AS INTEGER):] AS suf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tok[CAST(pos AS INTEGER):]) AS rk
      FROM p34
    ),
    a34 AS (
      SELECT doc_id, suf, lag(suf) OVER (PARTITION BY doc_id ORDER BY rk) AS prev
      FROM s34
    ),
    l34 AS (
      SELECT doc_id,
             CASE WHEN prev IS NULL THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(len(suf), len(prev))),
                         k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
             END AS lcp
      FROM a34
    )
    SELECT doc_id, CAST(max(lcp) AS BIGINT) AS longest_repeat
    FROM l34 GROUP BY doc_id
    """,
)
def t34_longest_repeat(spark, sf_dir):
    """Exact longest repeated token span per document (suffix array + LCP
    binary-decomposition walk) — the exact quantity t29's repetition
    ratios and dd10's fixed-l spans approximate."""
    from era_parser_spark.operators.suffix import longest_repeated_span

    docs = table(spark, sf_dir, "documents")
    return longest_repeated_span(docs, "doc_id", "text")


@register(
    "t35_cross_doc_span",
    # EXACT longest token span each doc shares verbatim with any OTHER
    # doc: max LCP over GLOBALLY rank-adjacent suffix pairs from
    # different docs (between any cross-doc pair there's an adjacent
    # doc-boundary pair with LCP >= theirs, and one can pick it inside
    # the doc's own run — so the per-doc max over adjacent cross-doc
    # pairs is exact).  The oracle sorts real suffix slices over the
    # WHOLE corpus (one global window, fine in DuckDB at sf0.01) and
    # counts matching prefixes of lag-adjacent cross-doc pairs; the
    # Spark side builds global prefix-doubling ranks with a
    # range-partitioned two-phase dense rank instead — no single-task
    # stage, token text rides exactly one shuffle.
    oracle=f"""
    WITH d35 AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    p35 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM d35, unnest(generate_series(1, len(tok))) AS t(i)
      WHERE len(tok) >= 1
    ),
    a35 AS (
      SELECT doc_id,
             tok[CAST(pos AS INTEGER):] AS suf,
             lag(doc_id) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev_doc,
             lag(tok[CAST(pos AS INTEGER):]) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev
      FROM p35
    ),
    l35 AS (
      SELECT doc_id, prev_doc,
             CASE WHEN prev IS NULL OR prev_doc = doc_id THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(len(suf), len(prev))),
                         k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
             END AS lcp
      FROM a35
    ),
    c35 AS (
      SELECT doc_id, lcp FROM l35
      UNION ALL
      SELECT prev_doc AS doc_id, lcp FROM l35
      WHERE prev_doc IS NOT NULL AND prev_doc != doc_id
    )
    SELECT p.doc_id, CAST(COALESCE(max(c.lcp), 0) AS BIGINT) AS longest_shared
    FROM (SELECT DISTINCT doc_id FROM p35) p
    LEFT JOIN c35 c ON c.doc_id = p.doc_id
    GROUP BY p.doc_id
    """,
)
def t35_cross_doc_span(spark, sf_dir):
    """Exact longest CROSS-document shared token span per document
    (global suffix ranks + adjacent cross-doc LCP walk) — the exact
    family's cross-doc member: t34 is within-doc, dd10/dd16's fixed-l
    grams lower-bound this from below (pinned differentially in
    tests/test_round9_ops.py)."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span

    docs = table(spark, sf_dir, "documents")
    return longest_cross_doc_span(docs, "doc_id", "text")


def _wp_ctes(k: int, min_count: int) -> str:
    """Unrolled-per-round WordPiece training CTEs — `_bpe_ctes` with the
    likelihood selection rule: best pair maximizes the exact fixed-point
    score (c * 10^18) // (u_left * u_right) in HUGEINT (the Spark twin
    computes it with DECIMAL(38,0) IntegralDivide — verified equal), ties
    on count DESC then pair ASC (UTF-8 binary, DuckDB's default order).
    Unigram counts come from the same per-round position explode that
    feeds the pair counts.  `min_count` mirrors production WordPiece
    frequency cutoffs; a round with no qualifying pair leaves the word
    table unchanged (LEFT JOIN ON TRUE instead of BPE's CROSS JOIN, so
    an empty best never empties the table) — once empty, every later
    round is empty too, matching the Spark trainer's loop break."""
    parts = [f"""
    WITH
    tkw AS MATERIALIZED (
      SELECT unnest({_TOK}) AS w FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    wp0 AS MATERIALIZED (
      SELECT w, count(*) AS freq,
             [substr(w, CAST(i AS INTEGER), 1)
              FOR i IN generate_series(1, length(w))] AS syms
      FROM tkw WHERE length(w) > 0 GROUP BY w
    )"""]
    for r in range(k):
        cur, nxt = f"wp{r}", f"wp{r + 1}"
        parts.append(f"""
    posw{r} AS MATERIALIZED (
      SELECT w, freq, CAST(i AS BIGINT) AS i, syms[CAST(i AS INTEGER)] AS s,
             syms[CAST(i AS INTEGER)+1] AS s2
      FROM {cur}, unnest(generate_series(1, len(syms))) AS t(i)
    ),
    uw{r} AS MATERIALIZED (
      SELECT s, sum(freq) AS u FROM posw{r} GROUP BY s
    ),
    pcw{r} AS MATERIALIZED (
      SELECT s AS l, s2 AS r, sum(freq) AS c
      FROM posw{r} WHERE s2 IS NOT NULL GROUP BY 1, 2
    ),
    bestw{r} AS MATERIALIZED (
      SELECT p.l, p.r, p.c, ua.u AS lu, ub.u AS ru,
             (CAST(p.c AS HUGEINT) * 1000000000000000000)
               // (CAST(ua.u AS HUGEINT) * ub.u) AS sq
      FROM pcw{r} p
      JOIN uw{r} ua ON ua.s = p.l
      JOIN uw{r} ub ON ub.s = p.r
      WHERE p.c >= {min_count}
      ORDER BY sq DESC, p.c DESC, p.l ASC, p.r ASC LIMIT 1
    ),
    candw{r} AS MATERIALIZED (
      SELECT p.w, p.i,
             p.i - row_number() OVER (PARTITION BY p.w ORDER BY p.i) AS isl
      FROM posw{r} p, bestw{r} b
      WHERE p.s = b.l AND p.s2 = b.r
    ),
    keepw{r} AS MATERIALIZED (
      SELECT w, i FROM (
        SELECT w, i, i - min(i) OVER (PARTITION BY w, isl) AS off
        FROM candw{r})
      WHERE off % 2 = 0
    ),
    {nxt} AS MATERIALIZED (
      SELECT p.w, any_value(p.freq) AS freq,
             list(
               CASE WHEN k1.i IS NOT NULL THEN b.l || b.r ELSE p.s END
               ORDER BY p.i) AS syms
      FROM posw{r} p
      LEFT JOIN bestw{r} b ON TRUE
      LEFT JOIN keepw{r} k1 ON k1.w = p.w AND k1.i = p.i
      LEFT JOIN keepw{r} k2 ON k2.w = p.w AND k2.i = p.i - 1
      WHERE k2.i IS NULL
      GROUP BY p.w
    )""")
    return ",".join(parts)


def _t36_oracle(k: int, min_count: int) -> str:
    finals = "\n      UNION ALL ".join(
        f"SELECT {r + 1} AS rank, l AS left, r AS right, l || r AS merged,"
        f" CAST(c AS BIGINT) AS pair_count, CAST(lu AS BIGINT) AS left_count,"
        f" CAST(ru AS BIGINT) AS right_count, CAST(sq AS BIGINT) AS score_q"
        f" FROM bestw{r}"
        for r in range(k)
    )
    return _wp_ctes(k, min_count) + f"\n    {finals}\n    ORDER BY rank"


def _t37_oracle(k: int, min_count: int) -> str:
    """Token counts under the learned WordPiece table: wp{k} is the word
    table AFTER all k merges — the TRAINER's per-word segmentation (the
    self-contained counting artifact; WordPiece inference proper is
    greedy longest-match, a different rule — documented, not claimed)."""
    return _wp_ctes(k, min_count) + f""",
    docww AS MATERIALIZED (
      SELECT doc_id, unnest({_TOK}) AS w FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    )
    SELECT d.doc_id, CAST(sum(len(b.syms)) AS BIGINT) AS wp_tokens
    FROM docww d JOIN wp{k} b ON b.w = d.w
    WHERE length(d.w) > 0
    GROUP BY d.doc_id
    """


@register("t36_wordpiece_merges", oracle=_t36_oracle(8, 3))
def t36_wordpiece_merges(spark, sf_dir):
    """Distributed WordPiece merge training (Schuster & Nakajima 2012,
    the BERT tokenizer's likelihood rule): 8 rounds over the
    word-frequency table, each picking the pair maximizing the EXACT
    fixed-point likelihood score (c*10^18) intdiv (u_l*u_r) — rare-but-
    cohesive pairs beat frequent-but-independent ones, BPE's (t31)
    morpheme-blind counterpoint.  min_pair_count=3 is the production
    frequency cutoff (a singleton pair of singleton symbols would score
    a perfect 10^18).  The merge loop is distributed exactly like t31:
    per round two map-side-combined counts + two symbol joins on the
    word table, one collected row."""
    from era_parser_spark.operators.tokenizer import wordpiece_merges_distributed

    docs = table(spark, sf_dir, "documents")
    return wordpiece_merges_distributed(docs, "text", n_merges=8, min_pair_count=3)


@register("t37_wordpiece_token_counts", oracle=_t37_oracle(8, 3))
def t37_wordpiece_token_counts(spark, sf_dir):
    """Per-document token counts under the corpus's OWN learned WordPiece
    table — t32's twin for the likelihood-trained vocabulary.  Counts use
    the TRAINER's final word-table segmentation (the self-contained
    relational artifact; WordPiece inference proper is greedy
    longest-match, a different rule — this entry reports the training-
    corpus statistic, documented in the oracle builder)."""
    from era_parser_spark.operators.dedup import tokens_col
    from era_parser_spark.operators.tokenizer import wordpiece_merges_distributed

    docs = table(spark, sf_dir, "documents")
    _, vocab = wordpiece_merges_distributed(
        docs, "text", n_merges=8, min_pair_count=3, return_vocab=True
    )
    words = (
        docs.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
    )
    return (
        words.join(vocab.select("w", F.size("syms").alias("__n")), "w")
        .groupBy("doc_id")
        .agg(F.sum("__n").cast("long").alias("wp_tokens"))
    )


def _t38_oracle(k: int, min_count: int) -> str:
    """Per-doc counts under greedy longest-match WordPiece INFERENCE —
    the rule t37 documents but does not claim.  The vocabulary is the
    union of the k trained merge strings (bestw{r} rows; empty rounds
    contribute nothing, matching the trainer's loop break); the greedy
    scan is a recursive CTE over (word, cursor): at each cursor consume
    the LONGEST matching piece, else one character (single chars pass
    through, the no-##-marker convention — no [UNK] state).  Aggregation
    inside the recursive term (max matching piece length per cursor) is
    supported by DuckDB and keeps the recursion linear in word length —
    one row per (word, cursor) ever exists."""
    vocab_union = "\n      UNION ".join(
        f"SELECT l || r AS m FROM bestw{r}" for r in range(k)
    )
    return _wp_ctes(k, min_count).replace("WITH", "WITH RECURSIVE", 1) + f""",
    vocabg AS MATERIALIZED (
      {vocab_union}
    ),
    wordsg AS MATERIALIZED (SELECT DISTINCT w FROM wp0),
    recg AS (
      SELECT w, 1 AS cur, CAST(0 AS BIGINT) AS n FROM wordsg
      UNION ALL
      SELECT w, cur + l, n + 1 FROM (
        SELECT s.w AS w, s.cur AS cur, s.n AS n,
               coalesce(max(length(v.m)), 1) AS l
        FROM recg s LEFT JOIN vocabg v
          ON substr(s.w, CAST(s.cur AS INTEGER), length(v.m)) = v.m
        WHERE s.cur <= length(s.w)
        GROUP BY s.w, s.cur, s.n
      )
    ),
    doneg AS (SELECT w, CAST(n AS BIGINT) AS n FROM recg WHERE cur = length(w) + 1),
    docwg AS (
      SELECT doc_id, unnest({_TOK}) AS w FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    )
    SELECT d.doc_id, CAST(sum(g.n) AS BIGINT) AS wp_greedy_tokens
    FROM docwg d JOIN doneg g ON g.w = d.w
    WHERE length(d.w) > 0
    GROUP BY d.doc_id
    """


@register("t38_wordpiece_greedy_counts", oracle=_t38_oracle(8, 3))
def t38_wordpiece_greedy_counts(spark, sf_dir):
    """Per-document token counts under greedy longest-match WordPiece
    INFERENCE with the corpus's own t36-trained vocabulary — closing the
    documented seam in t37 (whose counts use the TRAINER's word-table
    segmentation; BERT's tokenizer applies greedy longest-match at
    encode time, a genuinely different rule — the two disagree whenever
    a longer piece greedily spans a trainer merge boundary, pinned
    differentially in tests/test_round10_ops.py).  The trained merge
    strings are a tiny driver artifact (O(n_merges)); greedy scanning
    runs Arrow-batched over the DISTINCT-word table (volume-independent,
    the t31/t36 property) and per-doc counts are a word join + sum (the
    t32/t37 shape) — the corpus is never re-encoded in Python."""
    from era_parser_spark.operators.dedup import tokens_col
    from era_parser_spark.operators.tokenizer import (
        wordpiece_greedy_counts,
        wordpiece_merges_distributed,
    )

    docs = table(spark, sf_dir, "documents")
    merges = wordpiece_merges_distributed(
        docs, "text", n_merges=8, min_pair_count=3
    )
    pieces = [r["merged"] for r in merges.select("merged").collect()]
    words = (
        docs.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
    )
    counts = wordpiece_greedy_counts(words.select("w").distinct(), pieces)
    return (
        words.join(counts, "w")
        .groupBy("doc_id")
        .agg(F.sum("n_greedy").cast("long").alias("wp_greedy_tokens"))
    )


@register(
    "t39_cross_doc_span_chunked",
    # t35's exact cross-doc span, through the CHUNKED ROUTING path: docs
    # over max_doc_tokens=96 split into overlapping 96-token chunks
    # (overlap 94), cross-doc evaluated on the ORIGINAL id.  The oracle
    # is t35's exact global-suffix SQL + a routed flag — sound because
    # chunked detection is EXACT for spans <= overlap, and this corpus's
    # max cross-doc span (93, re-derivable from the oracle itself) is
    # below the 94-token overlap, so the routed answers equal the exact
    # ones.  10 sf0.01 docs actually route (len > 96), so the chunk
    # units, the same-doc-pair exclusion, and the group walk are all
    # exercised against the exact oracle.
    oracle=f"""
    WITH d39 AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    p39 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM d39, unnest(generate_series(1, len(tok))) AS t(i)
      WHERE len(tok) >= 1
    ),
    a39 AS (
      SELECT doc_id,
             tok[CAST(pos AS INTEGER):] AS suf,
             lag(doc_id) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev_doc,
             lag(tok[CAST(pos AS INTEGER):]) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev
      FROM p39
    ),
    l39 AS (
      SELECT doc_id, prev_doc,
             CASE WHEN prev IS NULL OR prev_doc = doc_id THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(len(suf), len(prev))),
                         k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
             END AS lcp
      FROM a39
    ),
    c39 AS (
      SELECT doc_id, lcp FROM l39
      UNION ALL
      SELECT prev_doc AS doc_id, lcp FROM l39
      WHERE prev_doc IS NOT NULL AND prev_doc != doc_id
    )
    SELECT p.doc_id, CAST(COALESCE(max(c.lcp), 0) AS BIGINT) AS longest_shared,
           (max(p.n) > 96) AS routed
    FROM (SELECT doc_id, len(tok) AS n FROM d39 WHERE len(tok) >= 1) p
    LEFT JOIN c39 c ON c.doc_id = p.doc_id
    GROUP BY p.doc_id
    """,
)
def t39_cross_doc_span_chunked(spark, sf_dir):
    """Exact cross-document shared span through the CHUNKED ROUTING path
    (round-11 scale fix: `max_doc_tokens` used to SKIP oversized docs —
    the per-doc lead window serializes each unit into one task — so at
    web scale the exact-substring tier silently dropped its LONGEST
    documents, exactly the ones ExactSubstr dedup most needs).  Docs
    over the cap are split into overlapping token chunks; each chunk is
    a suffix unit; cross-doc is judged on the original id so a doc's own
    overlapping chunks never match each other.  Exact for spans up to
    the overlap, a >=overlap lower bound past it — decision-exact for
    any dedup threshold <= overlap (docs/PLANS.md round 11 has the
    containment argument; cross-chunk plants pinned in
    tests/test_round11_ops.py)."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_chunked

    docs = table(spark, sf_dir, "documents")
    return longest_cross_doc_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=96, chunk_overlap=94
    )


def _t40_oracle() -> str:
    # t34's exact per-doc suffix-sort SQL + routed flag.  Sound for the
    # chunked engine path because the corpus max within-doc repeat (4,
    # re-derivable from this oracle) is far below the 32-token overlap —
    # chunked detection is exact up to the overlap.  Cap 64 routes ~200
    # sf0.01 docs, so multi-chunk units, the orig-position artifact
    # filter, and the orig-restricted adjacency all face the exact
    # oracle.
    return f"""
    WITH d40 AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    p40 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM d40, unnest(generate_series(1, len(tok))) AS t(i)
    ),
    s40 AS (
      SELECT doc_id, tok[CAST(pos AS INTEGER):] AS suf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tok[CAST(pos AS INTEGER):]) AS rk
      FROM p40
    ),
    a40 AS (
      SELECT doc_id, suf, lag(suf) OVER (PARTITION BY doc_id ORDER BY rk) AS prev
      FROM s40
    ),
    l40 AS (
      SELECT doc_id,
             CASE WHEN prev IS NULL THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(len(suf), len(prev))),
                         k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
             END AS lcp
      FROM a40
    )
    SELECT l.doc_id, CAST(max(l.lcp) AS BIGINT) AS longest_repeat,
           (max(len(d.tok)) > 64) AS routed
    FROM l40 l JOIN d40 d ON d.doc_id = l.doc_id
    GROUP BY l.doc_id
    """


@register("t40_longest_repeat_chunked", oracle=_t40_oracle())
def t40_longest_repeat_chunked(spark, sf_dir):
    """Exact longest repeated span through the CHUNKED ROUTING path —
    the within-doc twin of t39, closing the suffix family's last
    per-document serialization (t34's per-doc window sorts each doc's
    token strings in ONE task; this runs every doc's chunks through the
    range-partitioned global construction and finds repeats as
    same-original-doc, different-original-position suffix pairs in the
    orig-restricted adjacency — overlap-duplicate pairs filtered by
    original position).  Exact up to the 32-token overlap (corpus max
    repeat is 4), lower bound past it; cap 64 routes ~200 docs at
    sf0.01.  Cross-chunk plants and artifact-exclusion pinned in
    tests/test_round11_ops.py."""
    from era_parser_spark.operators.suffix import longest_repeated_span_chunked

    docs = table(spark, sf_dir, "documents")
    return longest_repeated_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=64, chunk_overlap=32
    )


@register(
    "t41_cross_doc_span_refined",
    # FULLY EXACT cross-doc span values through the chunked tier at ANY
    # span length (round-12): pass 1 runs tiny chunks (cap 64, overlap
    # 32 — ~170 sf0.01 docs route and 33 docs hit the >=32 clamp), then
    # iterative doubling re-routes ONLY the clamped set (33 -> 15 -> 0
    # here) until nothing needs chunking — so the oracle is t35's exact
    # global-suffix SQL with NO clamp caveat: unlike t39, value equality
    # holds for spans past the overlap too (corpus max span 93 >> 32).
    oracle=f"""
    WITH d41 AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    p41 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM d41, unnest(generate_series(1, len(tok))) AS t(i)
      WHERE len(tok) >= 1
    ),
    a41 AS (
      SELECT doc_id,
             tok[CAST(pos AS INTEGER):] AS suf,
             lag(doc_id) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev_doc,
             lag(tok[CAST(pos AS INTEGER):]) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev
      FROM p41
    ),
    l41 AS (
      SELECT doc_id, prev_doc,
             CASE WHEN prev IS NULL OR prev_doc = doc_id THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(len(suf), len(prev))),
                         k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
             END AS lcp
      FROM a41
    ),
    c41 AS (
      SELECT doc_id, lcp FROM l41
      UNION ALL
      SELECT prev_doc AS doc_id, lcp FROM l41
      WHERE prev_doc IS NOT NULL AND prev_doc != doc_id
    )
    SELECT p.doc_id, CAST(COALESCE(max(c.lcp), 0) AS BIGINT) AS longest_shared
    FROM (SELECT DISTINCT doc_id FROM p41) p
    LEFT JOIN c41 c ON c.doc_id = p.doc_id
    GROUP BY p.doc_id
    """,
)
def t41_cross_doc_span_refined(spark, sf_dir):
    """Exact cross-document shared span via chunked routing + iterative-
    doubling refinement (round-12 verdict #2): the chunked tier's values
    >= overlap are lower bounds, so the clamped documents — and provably
    their span partners with them — re-route with doubled chunk size and
    overlap until every value is below the current overlap (exact) or
    the refine set needs no chunking (the pass is the unchunked exact
    computation).  Same exact answers as t35 at every span length, but
    no stage ever scales with single-document size — the chunked tier's
    scale contract now extends to exact VALUES, not just threshold
    decisions.  Clamp-boundary and 3V-span plants pinned in
    tests/test_round12_ops.py."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_refined

    docs = table(spark, sf_dir, "documents")
    return longest_cross_doc_span_refined(
        docs, "doc_id", "text", max_doc_tokens=64, chunk_overlap=32
    )
