"""Deduplication queries over `documents` (north-star extensions).

dd1/dd2/dd3/dd5/dd6/dd7 are oracle-checked (dd3's exact-verification step makes
its output hash-independent given measured recall=1.0 — see its registration);
dd4 uses engine-specific blake2b SimHash with no DuckDB twin, so the driver
records the weaker rows-only check — its semantics are pinned in tests/
(SimHash vs brute-force Hamming, exact for hamming < 4 by pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from era_parser_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from era_parser_spark.operators.multimodal import (
    documents_as_media,
    extract_media_features,
    frame_sample,
    resize_media,
)
from era_parser_spark.queries.registry import register, table

_TOK = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_SHINGLES = (
    f"list_distinct(list_transform(range(1, len({_TOK}) - 1), "
    f"i -> {_TOK}[i] || ' ' || {_TOK}[i+1] || ' ' || {_TOK}[i+2]))"
)


@register(
    "dd1_exact_dedup",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dd1_exact_dedup(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id").select("doc_id", "n_copies")


@register(
    "dd2_ngram_jaccard_topk",
    # The hot-shingle guard (doc_freq <= 100) is mirrored in SQL: `joinable`
    # drops viral shingles from the self-join while `sizes` still counts
    # them, exactly like the engine's `_jaccard_from_index(max_doc_freq=)`.
    # On the fixtures the max doc_freq is 7 (sf0.01) / 25 (sf0.1) so the
    # guard is value-neutral here; it exists for the 100 TB viral-
    # boilerplate case and is exercised for real in tests/test_llm_ops.
    oracle=f"""
    WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
         sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         joinable AS (
           SELECT doc_id, shingle FROM sh
           QUALIFY count(*) OVER (PARTITION BY shingle) <= 100
         ),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM joinable a
           JOIN joinable b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
    SELECT doc_a, doc_b, inter,
           sa.nsh + sb.nsh - inter AS union_sz,
           CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def dd2_ngram_jaccard_topk(spark, sf_dir):
    # Exact 3-gram Jaccard near-dup, top-20 pairs (inverted-index self-join)
    # with the viral-shingle frequency guard active.
    docs = table(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, max_doc_freq=100)
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# Connected components re-derived in SQL (dd5, dd6): same thresholded
# Jaccard edge list, then a recursive CTE propagating min reachable doc_id
# (UNION dedups rows, so the recursion terminates at the transitive
# closure).  The edge CTE is MATERIALIZED: the recursion re-reads it every
# round and DuckDB inlines plain CTEs, re-running the shingle self-join.
_DUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    raw_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup_edges AS (
      SELECT doc_a, doc_b FROM raw_pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) >= 0.5
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM dup_edges
      UNION ALL SELECT doc_b, doc_a FROM dup_edges
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
    csz AS (SELECT cluster_id, count(*) AS cluster_sz FROM labels GROUP BY cluster_id)
    SELECT doc_id, labels.cluster_id, cluster_sz
    FROM labels JOIN csz ON labels.cluster_id = csz.cluster_id
"""


@register("dd5_dup_clusters", oracle=_DUP_CLUSTERS_ORACLE)
def dd5_dup_clusters(spark, sf_dir):
    # Near-dup pairs (3-gram Jaccard >= 0.5) -> transitive duplicate
    # clusters via connected_components (driver union-find below its edge
    # gate, star-contraction rounds above it).
    from era_parser_spark.operators.graph import cluster_sizes, connected_components

    docs = table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(docs, "doc_id", "text", n=3).filter(F.col("jaccard") >= 0.5)
    comps = connected_components(
        docs.select("doc_id"), edges, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    return cluster_sizes(comps, id_col="doc_id")


@register(
    "dd3_minhash_lsh",
    # Exact oracle (upgraded from rows-only): because the pipeline
    # exact-verifies every LSH candidate, its output with threshold T is
    # exactly {pairs with true Jaccard >= T} *whenever LSH recall at T is
    # 1.0*.  Recall was measured offline on both fixtures (sf0.01: 25/25
    # truth pairs recalled, sf0.1: 256/256; all fixture near-dups sit at
    # jaccard >= 0.8 where P[collision] = 1-(1-s^4)^8 > 0.98 per pair) and
    # is pinned by test_llm_ops.  The hashing (xxhash64 permutations) only
    # decides *which* candidates are generated, never the emitted values,
    # so DuckDB needs no xxhash64 twin — just exact Jaccard.
    oracle=f"""
    WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
         sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
    SELECT doc_a, doc_b, inter,
           sa.nsh + sb.nsh - inter AS union_sz,
           CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) >= 0.5
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 100
    """,
)
def dd3_minhash_lsh(spark, sf_dir):
    # MinHash(32 perms) + LSH(8 bands x 4 rows) candidates, exact-verified,
    # thresholded at jaccard >= 0.5 (the near-dup decision boundary).
    docs = table(spark, sf_dir, "documents")
    return (
        minhash_lsh_dedup_pairs(docs, "doc_id", "text", num_perm=32, bands=8, threshold=0.5)
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(100)
    )


# dd5 under a second registry name that callers use: same query function,
# same oracle.
register("dd6_dup_clusters_alternating", oracle=_DUP_CLUSTERS_ORACLE)(
    dd5_dup_clusters
)


@register("dd4_simhash")  # engine-specific hashing -> rows-only check
def dd4_simhash(spark, sf_dir):
    # SimHash near-dup pairs within Hamming distance 16 (banded blocking).
    docs = table(spark, sf_dir, "documents")
    return (
        simhash_near_pairs(docs, "doc_id", "text", max_hamming=16)
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(100)
    )


@register(
    "mm1_binary_features",
    # Oracle pins the deterministic fallback decoder (codec libs absent in
    # the driver env) and relies on the corpus being ASCII (checked: it is),
    # so substring-by-chars == slice-by-bytes for the head digest.  The
    # crc32 column stays operator-side only (DuckDB has no crc32).
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           md5(substring(text, 1, 64)) AS head_md5,
           CAST((octet_length(encode(text)) % 640) + 1 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) % 480) + 1 AS INTEGER) AS height,
           FALSE AS decoded
    FROM documents
    """,
)
def mm1_binary_features(spark, sf_dir):
    # Multimodal plumbing: binary payload column -> Arrow-batched feature
    # extraction (deterministic fake decode; real codec gated on import).
    docs = table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return (
        extract_media_features(media)
        .select("media_id", "n_bytes", "head_md5", "width", "height", "decoded")
        .orderBy("media_id")
    )


_DURATION = "(length(text) % 7) * 900 + (doc_id % 5) * 350"


@register(
    "mm2_frame_sample",
    oracle=f"""
    WITH vids AS (
      SELECT doc_id AS media_id, {_DURATION} AS duration_ms FROM documents
    ), nf AS (
      SELECT media_id,
             greatest(CAST(floor(duration_ms / 1000.0) AS INTEGER) - 1, 0)
               AS last_frame
      FROM vids
    )
    SELECT media_id,
           unnest(range(0, last_frame + 1)) AS frame_no,
           unnest(range(0, last_frame + 1)) * 1000 AS frame_ts_ms
    FROM nf
    """,
)
def mm2_frame_sample(spark, sf_dir):
    # Video frame-sampling plan: the which-frames explode is pure Spark SQL
    # (decode itself is the stubbed codec step); durations synthesized
    # deterministically per doc so the oracle can reproduce them.
    docs = table(spark, sf_dir, "documents")
    # duration comes from the same row as the payload: single projection,
    # no self-join (and no shuffle — explode preserves partitioning)
    vids = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("video").alias("kind"),
            F.lit("fake").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.expr(_DURATION).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return frame_sample(vids, every_ms=1000)


@register(
    "mm3_resize",
    # Exact oracle (upgraded from rows-only): the deterministic fake
    # resampler is pure byte arithmetic — tile the source to the byte
    # budget, xor each byte with its position — so SQL can re-derive the
    # output bytes exactly (ASCII corpus: substr-by-char == byte, the same
    # assumption mm1 documents).  DuckDB's md5 is VARCHAR-only, so the
    # digest is pinned over the lowercase hex encoding in both engines.
    oracle="""
    WITH src AS (
      SELECT doc_id AS media_id, text, octet_length(encode(text)) AS src_n
      FROM documents
    ),
    bytes AS (
      SELECT media_id, src_n,
             string_agg(
               format('{:02x}', xor(ord(substr(text, (i % src_n) + 1, 1)), i % 256)),
               '' ORDER BY i) AS hexstr
      FROM src, unnest(range(0, 1536)) AS t(i)
      GROUP BY media_id, src_n
    )
    SELECT media_id, 32 AS width, 16 AS height,
           CAST(src_n AS BIGINT) AS src_n_bytes, CAST(1536 AS BIGINT) AS n_bytes,
           md5(hexstr) AS payload_md5
    FROM bytes ORDER BY media_id
    """,
)
def mm3_resize(spark, sf_dir):
    # Resize plumbing: binary -> binary at a fixed target, deterministic
    # fake resampler (real codec absent); surfaced as digests not blobs.
    docs = table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return (
        resize_media(media, width=32, height=16)
        .select(
            "media_id", "width", "height", "src_n_bytes", "n_bytes",
            F.md5(F.lower(F.hex("payload"))).alias("payload_md5"),
        )
        .orderBy("media_id")
    )


@register(
    "dd7_decontamination",
    # Benchmark corpus = every 17th doc; a train doc is contaminated when it
    # contains >= 60% of a benchmark doc's shingles.  Containment (inter /
    # bench size), not Jaccard: a benchmark quoted inside a long train doc
    # has low Jaccard but containment ~1.0.
    oracle=f"""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
         bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
         sh_t AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM train),
         sh_b AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM bench),
         sz_t AS (SELECT doc_id, count(*) AS train_sz FROM sh_t GROUP BY doc_id),
         sz_b AS (SELECT doc_id, count(*) AS bench_sz FROM sh_b GROUP BY doc_id),
         pairs AS (
           SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS inter
           FROM sh_t t JOIN sh_b b ON t.shingle = b.shingle
           GROUP BY 1, 2
         )
    SELECT train_id, bench_id, inter, train_sz, bench_sz,
           CAST(inter AS DOUBLE) / bench_sz AS containment
    FROM pairs
    JOIN sz_t ON sz_t.doc_id = train_id
    JOIN sz_b ON sz_b.doc_id = bench_id
    WHERE CAST(inter AS DOUBLE) / bench_sz >= 0.6
    ORDER BY containment DESC, train_id, bench_id
    LIMIT 100
    """,
)
def dd7_decontamination(spark, sf_dir):
    # Train/eval decontamination: screen the training split against the
    # benchmark split in one shingle-keyed shuffle (never pairwise).
    from era_parser_spark.operators.dedup import cross_corpus_overlap

    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return (
        cross_corpus_overlap(train, bench, "doc_id", "text", n=3)
        .filter(F.col("containment") >= 0.6)
        .orderBy(F.desc("containment"), "train_id", "bench_id")
        .limit(100)
    )


@register(
    "dd8_semdedup",
    # The IVF rule (stride-25 centroids, L2 argmin, id tie-break) and the
    # DECIMAL(10,6)-quantized cosine threshold are both SQL-expressible,
    # so the whole semantic-dedup decision is exactly checkable.  The 0.35
    # threshold is tuned to this synthetic corpus (no true near-dups:
    # max pairwise cosine ~0.51); production corpora use ~0.95.
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 16
    ),
    assign AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM cent c
               ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC,
                        c.cid ASC
               LIMIT 1) AS centroid_id
      FROM embeddings e
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id > b.vec_id
      WHERE CAST(CAST(list_cosine_similarity(
              a.embedding::DOUBLE[], b.embedding::DOUBLE[]
            ) AS DECIMAL(10,6)) AS DOUBLE) >= 0.35
    )
    SELECT a.vec_id, a.centroid_id
    FROM assign a ANTI JOIN dropped d ON a.vec_id = d.vec_id
    """,
)
def dd8_semdedup(spark, sf_dir):
    # SemDeDup: embedding-cluster semantic dedup — candidate pairs only
    # within a centroid cell (equi-join), keep-min-id survivors.
    from era_parser_spark.operators.similarity import centroid_table, semantic_dedup

    emb = table(spark, sf_dir, "embeddings")
    cents = centroid_table(emb, "embedding", "vec_id", stride=25, k=16)
    return semantic_dedup(emb, "embedding", "vec_id", cents, threshold=0.35)


def _simhash_md5_oracle(bits: int = 60) -> str:
    bsum = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN b{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(bits)
    )
    return f"""
    WITH ex AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT) AS h
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents)
    ),
    bits AS (SELECT doc_id, {bsum} FROM ex GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


@register("dd4b_simhash_md5", oracle=_simhash_md5_oracle())
def dd4b_simhash_md5(spark, sf_dir):
    # SimHash with an exact oracle: 60-bit md5 token hash, per-bit +-1
    # majority — every step (md5, hex->int, shifts, sums) is bit-identical
    # in Spark and DuckDB, so the full fingerprint is value-checked
    # (dd4's blake2b variant stays rows-only; its banding/recall semantics
    # are pytest-pinned).
    from era_parser_spark.operators.dedup import simhash_md5_fingerprints

    docs = table(spark, sf_dir, "documents")
    return simhash_md5_fingerprints(docs, "doc_id", "text")


def _dd9_ctes(src: str = "documents") -> str:
    """The brute-force fuzzy-dedup cluster CTEs (shingle pairs -> exact
    Jaccard edges -> recursive reachability -> min-label clusters),
    parameterized on the source relation so pipeline oracles can run the
    same clustering over a FILTERED corpus CTE (p20).  ``edges`` is
    MATERIALIZED for the same reason as in dd5's oracle."""
    return f"""
    sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM {src}),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    raw_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dup_edges AS (
      SELECT doc_a, doc_b FROM raw_pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) >= 0.5
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM dup_edges
      UNION ALL SELECT doc_b, doc_a FROM dup_edges
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM {src}
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
    csz AS (SELECT cluster_id, count(*) AS cluster_sz FROM labels GROUP BY cluster_id)
    """

_DD9_CTES = "\n    WITH RECURSIVE" + _dd9_ctes("documents")

_DD9_ORACLE = _DD9_CTES + """
    SELECT doc_id, labels.cluster_id, cluster_sz,
           doc_id = labels.cluster_id AS kept
    FROM labels JOIN csz ON labels.cluster_id = csz.cluster_id
    """

# same clusters, quality keeper: the kept member is the LONGEST text in
# the cluster (ties -> min doc_id) — the deterministic total order the
# Spark side's row_number mirrors exactly
_DD9C_ORACLE = _DD9_CTES + """
    SELECT l.doc_id, l.cluster_id, cluster_sz,
           row_number() OVER (PARTITION BY l.cluster_id
                              ORDER BY length(d.text) DESC, l.doc_id ASC) = 1
             AS kept
    FROM labels l
    JOIN csz ON l.cluster_id = csz.cluster_id
    JOIN documents d ON d.doc_id = l.doc_id
    """


@register(
    "dd9_fuzzy_dedup_pipeline",
    # The full production dedup composition.  Oracle-exact for the same
    # reason dd3 is: the LSH stage only PROPOSES candidates (recall 1.0 at
    # the fixture threshold, pinned in test_llm_ops) and the verify step
    # is exact Jaccard, so the edge set — hence the clusters and the
    # kept/dropped verdicts — equals the brute-force graph the recursive
    # CTE rebuilds.
    oracle=_DD9_ORACLE,
)
def dd9_fuzzy_dedup_pipeline(spark, sf_dir):
    # MinHash -> LSH -> exact verify -> O(log n) connected components ->
    # keeper per cluster: the deduplicated corpus plus its audit trail
    # (operators/dedup.py::fuzzy_dedup).
    from era_parser_spark.operators.dedup import fuzzy_dedup

    docs = table(spark, sf_dir, "documents")
    return fuzzy_dedup(docs, "doc_id", "text", threshold=0.5)


@register(
    "dd9b_fuzzy_dedup_estimate",
    # Same pipeline with signature-agreement verification (the O(candidates)
    # shuffle path for clone-heavy corpora — 53x less verify shuffle on the
    # 8x rehearsal).  Shares dd9's brute-force oracle: the estimator is
    # deterministic (xxhash64 permutations) and on this corpus every
    # candidate pair's estimate lands on the same side of 0.5 as its true
    # Jaccard (edge sets verified identical), so the clusters — hence the
    # whole output — must equal the exact graph; a corpus change that put a
    # pair inside the estimator's noise band would surface here as a
    # mismatch, which is exactly what this gate should catch.
    oracle=_DD9_ORACLE,
)
def dd9b_fuzzy_dedup_estimate(spark, sf_dir):
    from era_parser_spark.operators.dedup import fuzzy_dedup

    docs = table(spark, sf_dir, "documents")
    return fuzzy_dedup(docs, "doc_id", "text", threshold=0.5, verify="estimate")


@register(
    "dd9c_fuzzy_dedup_quality_keeper",
    # dd9's clusters with the production keeper policy: per cluster, keep
    # the highest-quality member (longest text here; any numeric score
    # column works) instead of the min id — the SlimPajama/RefinedWeb
    # convention.  Oracle-exact because the keeper is a deterministic
    # total order (score DESC, id ASC) over the same brute-force clusters
    # the recursive CTE rebuilds; a higher-scored bit-identical clone
    # displaces the min-id keeper (policy applies AFTER clone
    # re-attachment), pinned in tests/test_round8_ops.py.
    oracle=_DD9C_ORACLE,
)
def dd9c_fuzzy_dedup_quality_keeper(spark, sf_dir):
    from era_parser_spark.operators.dedup import fuzzy_dedup

    docs = table(spark, sf_dir, "documents").withColumn(
        "__q", F.length("text").cast("long")
    )
    return fuzzy_dedup(docs, "doc_id", "text", threshold=0.5, keeper=("__q", "max"))


@register(
    "mm4_audio_energy",
    # The 16-bit-LE sample decode is re-derived in SQL over hex(payload):
    # sample i = bytes 2i (lo) and 2i+1 (hi), value = 0x{hi}{lo}, minus
    # 2^16 when the sign bit is set (the corpus is ASCII so hi < 0x80,
    # but the sign branch is mirrored anyway; pinned for real in pytest
    # with a crafted negative-sample payload).  All-integer features, so
    # every value matches bitwise.
    oracle="""
    WITH aud AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 2 AS nsamp
      FROM documents
    ),
    samp AS (
      SELECT media_id, CAST(i AS BIGINT) AS i,
             CAST(concat('0x',
                         substr(hx, CAST(4 * i + 3 AS INTEGER), 2),
                         substr(hx, CAST(4 * i + 1 AS INTEGER), 2))
                  AS INTEGER) AS raw
      FROM aud, unnest(range(0, nsamp)) AS u(i)
    )
    SELECT media_id, i // 64 AS window_no,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(abs(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END))
                AS BIGINT) AS sum_abs,
           CAST(max(abs(CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END))
                AS BIGINT) AS peak_abs
    FROM samp GROUP BY media_id, window_no
    """,
)
def mm4_audio_energy(spark, sf_dir):
    # Audio-tier plumbing: payload-as-PCM -> Arrow-batched per-window
    # loudness features (operators/multimodal.py::audio_window_energy).
    from era_parser_spark.operators.multimodal import audio_window_energy

    docs = table(spark, sf_dir, "documents")
    return audio_window_energy(documents_as_media(docs), window_samples=64)


@register(
    "dd10_shared_spans",
    # Positions/lengths are pure integer math; the engine joins on
    # xxhash64(gram) while the oracle joins on the gram string itself —
    # identical match sets barring a 64-bit collision (same accepted risk
    # as dd2/dd3's hashed shuffle keys).
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(tok[CAST(i + 1 AS INTEGER) : CAST(i + 8 AS INTEGER)], ' ') AS gram
      FROM tokd, unnest(range(0, len(tok) - 7)) AS u(i)
    ),
    hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 100),
    j AS (SELECT * FROM grams ANTI JOIN hot USING (gram)),
    m AS (
      SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb,
             a.pos - b.pos AS diag
      FROM j a JOIN j b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa, pb, diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
               AS grp
      FROM m
    )
    SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
           CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_a, doc_b, diag, grp
    HAVING span_tokens >= 12
    """,
)
def dd10_shared_spans(spark, sf_dir):
    # Exact shared-span detection (suffix-array-style substring dedup as
    # an l-gram diagonal-islands plan): maximal runs of >= 12 verbatim
    # shared tokens with their position in both docs
    # (operators/dedup.py::shared_token_spans).
    from era_parser_spark.operators.dedup import shared_token_spans

    docs = table(spark, sf_dir, "documents")
    return shared_token_spans(docs, "doc_id", "text", l=8, min_span_tokens=12)


@register(
    "dd11_incremental_near_dedup",
    # Odd ids play the arriving batch, even ids the already-deduped
    # corpus.  The guard set is computed over the COMBINED index on both
    # sides, so values mirror exactly; old-vs-old pairs are absent by
    # construction on both sides.
    oracle=f"""
    WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    joinable AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY count(*) OVER (PARTITION BY shingle) <= 100
    ),
    jn AS (SELECT * FROM joinable WHERE doc_id % 2 = 1),
    jo AS (SELECT * FROM joinable WHERE doc_id % 2 = 0),
    cross_pairs AS (
      SELECT n.doc_id AS doc_a, o.doc_id AS doc_b, count(*) AS inter,
             'new_old' AS pair_kind
      FROM jn n JOIN jo o USING (shingle) GROUP BY 1, 2
    ),
    within_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
             'new_new' AS pair_kind
      FROM jn a JOIN jn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs)
    SELECT doc_a, doc_b, pair_kind, inter,
           sa.nsh + sb.nsh - inter AS union_sz,
           CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) >= 0.5
    """,
)
def dd11_incremental_near_dedup(spark, sf_dir):
    # Daily-crawl near-dedup: screen an arriving batch (odd ids) against
    # the deduped corpus (even ids) — new-vs-old + new-vs-new pairs only,
    # work bounded by the batch (operators/dedup.py::incremental_near_dedup).
    from era_parser_spark.operators.dedup import incremental_near_dedup

    docs = table(spark, sf_dir, "documents")
    return incremental_near_dedup(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
        threshold=0.5,
    )


@register(
    "mm5_image_ahash_pairs",
    # The whole aHash scheme re-derived in SQL over hex(payload): tiled
    # byte grid (cell i = byte[i % n]), integer threshold 60*b > total
    # (no float mean), bit pack with parenthesized shifts (DuckDB gives
    # << lower precedence than +), 6-bit x 10-band blocking (pigeonhole-
    # exact for the hamming<=6 filter), xor+bit_count.
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > 0
    ),
    b AS (
      SELECT media_id, CAST(i AS BIGINT) AS i,
             CAST(concat('0x',
                  substr(hx, CAST((i % n) * 2 + 1 AS INTEGER), 2)) AS BIGINT) AS bv
      FROM m, unnest(range(0, 60)) AS u(i)
    ),
    t AS (SELECT media_id, sum(bv) AS total FROM b GROUP BY media_id),
    h AS (
      SELECT b.media_id,
             CAST(sum(CASE WHEN 60 * bv > total
                           THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                           ELSE 0 END) AS BIGINT) AS ahash
      FROM b JOIN t USING (media_id) GROUP BY b.media_id
    ),
    bk AS (
      SELECT media_id, ahash, CAST(k AS INTEGER) AS k,
             (ahash >> CAST(k * 6 AS INTEGER)) & 63 AS bv
      FROM h, unnest(range(0, 10)) AS u(k)
    ),
    p AS (
      SELECT DISTINCT a.media_id AS media_a, b2.media_id AS media_b,
             CAST(bit_count(xor(a.ahash, b2.ahash)) AS INTEGER) AS hamming
      FROM bk a JOIN bk b2
        ON a.k = b2.k AND a.bv = b2.bv AND a.media_id < b2.media_id
    )
    SELECT media_a, media_b, hamming FROM p WHERE hamming <= 6
    """,
)
def mm5_image_ahash_pairs(spark, sf_dir):
    # Image near-dup via perceptual average-hash banding over the media
    # payloads (operators/multimodal.py::ahash_signatures/ahash_near_pairs).
    from era_parser_spark.operators.multimodal import ahash_near_pairs

    docs = table(spark, sf_dir, "documents")
    return ahash_near_pairs(documents_as_media(docs), max_hamming=6)


@register(
    "dd12_containment_pairs",
    # Same inverted-index join as dd2; the metric is containment
    # inter/min(|A|,|B|) — the asymmetric signal that catches a document
    # EMBEDDED in a bigger one, which Jaccard dilutes below threshold.
    oracle=f"""
    WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
         sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
         joinable AS (
           SELECT doc_id, shingle FROM sh
           QUALIFY count(*) OVER (PARTITION BY shingle) <= 100
         ),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM joinable a
           JOIN joinable b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
         )
    SELECT doc_a, doc_b, inter,
           least(sa.nsh, sb.nsh) AS min_sz,
           CAST(inter AS DOUBLE) / least(sa.nsh, sb.nsh) AS containment,
           CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / least(sa.nsh, sb.nsh) >= 0.8
    """,
)
def dd12_containment_pairs(spark, sf_dir):
    # Containment near-dup: inter / min(|A|, |B|) >= 0.8 — the
    # subset-duplicate detector (small doc quoted whole inside a large
    # one) that Jaccard's union denominator hides.  Same guarded
    # inverted-index plan as dd2, different final metric.
    from era_parser_spark.operators.dedup import doc_shingles, _jaccard_from_index

    docs = table(spark, sf_dir, "documents")
    ex = doc_shingles(docs, "doc_id", "text", 3).cache()
    base = _jaccard_from_index(ex, "doc_id", max_doc_freq=100)
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("__na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("__nb"))
    return (
        base.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("min_sz", F.least("__na", "__nb"))
        .withColumn("containment", F.col("inter") / F.col("min_sz"))
        .filter(F.col("containment") >= 0.8)
        .select("doc_a", "doc_b", "inter", "min_sz", "containment", "jaccard")
    )


@register(
    "dd13_tfidf_cosine_pairs",
    # TF-IDF weighted cosine with all-integer weights: w = tf * (10000//df)
    # (integer division both sides), dot and norm^2 exact BIGINT, only the
    # final dot/sqrt double step quantizes DECIMAL(10,6) — the engine's
    # standard cosine contract.  The df>100 guard drops viral terms from
    # the index (norms keep them), mirrored identically.
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS t FROM documents),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
    df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    w AS (
      SELECT tf.doc_id, tf.t, tf.tf * (10000 // df.df) AS w, df.df
      FROM tf JOIN df USING (t)
    ),
    norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
    idx AS (SELECT * FROM w WHERE df <= 100),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM idx a JOIN idx b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
           CAST(CAST(CAST(dot AS DOUBLE)
                / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
                AS DECIMAL(10,6)) AS DOUBLE) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY cosine DESC, doc_a, doc_b
    LIMIT 50
    """,
)
def dd13_tfidf_cosine_pairs(spark, sf_dir):
    # Sparse TF-IDF cosine near-dup pairs (operators/dedup.py::
    # tfidf_cosine_pairs) — frequency-weighted, complementing dd2's set
    # Jaccard.
    from era_parser_spark.operators.dedup import tfidf_cosine_pairs

    docs = table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, "doc_id", "text", max_doc_freq=100)


@register(
    "mm6_scene_cuts",
    # Frame-stream scene-boundary detection re-derived over hex(payload)
    # (the mm4 move): frame energy = integer sum of its 16 bytes, a cut is
    # |energy - lag(energy)| > threshold.  All-integer, bitwise-exact.
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 16 AS nf
      FROM documents WHERE octet_length(encode(text)) >= 32
    ),
    b AS (
      SELECT media_id, CAST(i AS BIGINT) AS fi,
             CAST(concat('0x',
                  substr(hx, CAST((i * 16 + j) * 2 + 1 AS INTEGER), 2))
                  AS BIGINT) AS bv
      FROM m, unnest(range(0, nf)) AS u(i), unnest(range(0, 16)) AS v(j)
    ),
    e AS (SELECT media_id, fi, sum(bv) AS energy FROM b GROUP BY media_id, fi),
    d AS (
      SELECT media_id, fi, energy,
             lag(energy) OVER (PARTITION BY media_id ORDER BY fi) AS prev
      FROM e
    )
    SELECT media_id, fi AS cut_idx,
           CAST(prev AS BIGINT) AS prev_energy,
           CAST(energy AS BIGINT) AS energy
    FROM d WHERE prev IS NOT NULL AND abs(energy - prev) > 200
    """,
)
def mm6_scene_cuts(spark, sf_dir):
    # Shot-boundary detection over the media payloads
    # (operators/multimodal.py::scene_cuts).
    from era_parser_spark.operators.multimodal import scene_cuts

    docs = table(spark, sf_dir, "documents")
    return scene_cuts(documents_as_media(docs), frame_bytes=16, threshold=200)


@register(
    "dd14_bloom_decontaminate",
    # Same %17 train/bench split as dd7, but the screen is a broadcast
    # Bloom probe (zero train-side shuffle) instead of a shingle join.
    # md5-derived bit positions make even the false positives
    # deterministic, so the decision is exactly SQL-rederivable: a train
    # shingle "hits" iff ALL 4 of its bit positions appear in the
    # benchmark's bit set.
    oracle=f"""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
         bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
         sh_t AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM train),
         sh_b AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM bench),
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
         ns AS (SELECT doc_id, count(*) AS n_shingles FROM sh_t GROUP BY doc_id)
    SELECT ns.doc_id AS doc_id, n_shingles,
           COALESCE(n_hit, 0) AS n_hit,
           COALESCE(n_hit, 0) >= 1 AS contaminated
    FROM ns LEFT JOIN nh ON nh.doc_id = ns.doc_id
    """,
)
def dd14_bloom_decontaminate(spark, sf_dir):
    # Broadcast-Bloom decontamination screen: the zero-train-shuffle
    # production twin of dd7 (operators/dedup.py::bloom_decontaminate).
    from era_parser_spark.operators.dedup import bloom_decontaminate

    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return bloom_decontaminate(train, bench, "doc_id", "text", n=3)


@register(
    "dd13b_tfidf_pairs_bounded",
    # The scale-safe dd13 composition (rare-term blocking + pair-bounded
    # exact scoring — the 8x rehearsal finding's fix): candidates from
    # terms with df <= 50, then the TRUE cosine over ALL terms per
    # candidate pair.  Integer weights w = tf * (10^4 // df), BIGINT
    # dot/norms, DECIMAL(10,6)-quantized cosine — same exactness as dd13;
    # the whole pipeline (blocking included) is plain SQL.
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      FROM documents
    ),
    tf AS (
      SELECT doc_id, t, count(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2
    ),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
    w AS (
      SELECT tf.doc_id, tf.t, tf.tf * (10000 // df) AS w, df
      FROM tf JOIN dfreq USING (t)
    ),
    norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
      WHERE a.df <= 50 AND b.df <= 50
    ),
    dots AS (
      SELECT c.doc_a, c.doc_b, sum(a.w * b.w) AS dot
      FROM cand c
      JOIN w a ON a.doc_id = c.doc_a
      JOIN w b ON b.doc_id = c.doc_b AND b.t = a.t
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.doc_a, d.doc_b, CAST(d.dot AS BIGINT) AS dot,
             CAST(CAST(CAST(d.dot AS DOUBLE)
               / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
             AS DECIMAL(10,6)) AS DOUBLE) AS cosine
      FROM dots d
      JOIN norms na ON na.doc_id = d.doc_a
      JOIN norms nb ON nb.doc_id = d.doc_b
    )
    SELECT doc_a, doc_b, dot, cosine FROM scored WHERE cosine >= 0.8
    """,
)
def dd13b_tfidf_pairs_bounded(spark, sf_dir):
    # Rare-term-blocked TF-IDF pairs with exact pair-bounded scoring
    # (operators/dedup.py::tfidf_pairs_bounded).
    from era_parser_spark.operators.dedup import tfidf_pairs_bounded

    docs = table(spark, sf_dir, "documents")
    return tfidf_pairs_bounded(
        docs, "doc_id", "text", threshold=0.8, max_df_candidates=50
    )


@register(
    "mm7_scene_keyframes",
    # mm6's integer frame energies extended to scene segmentation (cut
    # cumsum) and per-scene representative frames: key = argmin of
    # |energy * n - sum| (integer, no division), ties to earliest frame.
    # All-integer windows — bitwise-exact in both engines.
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 16 AS nf
      FROM documents WHERE octet_length(encode(text)) >= 16
    ),
    b AS (
      SELECT media_id, CAST(i AS BIGINT) AS fi,
             CAST(concat('0x',
                  substr(hx, CAST((i * 16 + j) * 2 + 1 AS INTEGER), 2))
                  AS BIGINT) AS bv
      FROM m, unnest(range(0, nf)) AS u(i), unnest(range(0, 16)) AS v(j)
    ),
    e AS (SELECT media_id, fi, sum(bv) AS energy FROM b GROUP BY media_id, fi),
    d AS (
      SELECT media_id, fi, energy,
             CASE WHEN abs(energy - lag(energy) OVER (
                    PARTITION BY media_id ORDER BY fi)) > 200
                  THEN 1 ELSE 0 END AS c
      FROM e
    ),
    s AS (
      SELECT media_id, fi, energy,
             sum(c) OVER (PARTITION BY media_id ORDER BY fi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_idx
      FROM d
    ),
    st AS (
      SELECT media_id, scene_idx, fi, energy,
             count(*) OVER pw AS n_frames,
             sum(energy) OVER pw AS es,
             min(fi) OVER pw AS start_idx,
             max(fi) OVER pw AS end_idx
      FROM s WINDOW pw AS (PARTITION BY media_id, scene_idx)
    ),
    rk AS (
      SELECT *, row_number() OVER (
               PARTITION BY media_id, scene_idx
               ORDER BY abs(energy * n_frames - es), fi) AS rn
      FROM st
    )
    SELECT media_id, CAST(scene_idx AS BIGINT) AS scene_idx,
           start_idx, end_idx, CAST(n_frames AS BIGINT) AS n_frames,
           fi AS key_idx, CAST(energy AS BIGINT) AS key_energy
    FROM rk WHERE rn = 1
    """,
)
def mm7_scene_keyframes(spark, sf_dir):
    # Keyframe selection after shot detection — one representative frame
    # per scene (operators/multimodal.py::scene_keyframes); window-only
    # plan, single energy scan, payloads never shuffle.
    from era_parser_spark.operators.multimodal import (
        documents_as_media,
        scene_keyframes,
    )

    docs = table(spark, sf_dir, "documents")
    return scene_keyframes(
        documents_as_media(docs), frame_bytes=16, threshold=200
    )


@register(
    "dd15_url_dedup",
    # Canonicalization re-derived with the SAME RE2-safe regexes: drop
    # fragment, lowercase scheme+host, strip :80/:443, strip trailing
    # path slash, remove tracking params and SORT the survivors.  The
    # injected per-doc URL varies case (%2), default port (%3), trailing
    # slash (%7), and carries utm_/fbclid params keyed to the FULL
    # doc_id — so groups only merge if every normalization step works;
    # the canonical group key is (doc_id%5, doc_id%97).
    oracle="""
    WITH u AS (
      SELECT doc_id,
        'https://'
        || CASE WHEN doc_id % 2 = 0 THEN 'Example' ELSE 'example' END
        || CAST(doc_id % 5 AS VARCHAR) || '.com'
        || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        || '/p/' || CAST(doc_id % 97 AS VARCHAR)
        || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
        || '?utm_source=tr' || CAST(doc_id AS VARCHAR)
        || '&id=' || CAST(doc_id % 5 AS VARCHAR)
        || '&a=1&fbclid=f' || CAST(doc_id AS VARCHAR)
        || '#sec' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ),
    nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
    q AS (
      SELECT doc_id, nofrag,
        array_to_string(list_sort(list_filter(
          string_split(regexp_extract(nofrag, '\\?([^#]*)', 1), '&'),
          p -> p <> '' AND NOT regexp_matches(p,
            '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))), '&') AS kept
      FROM nf
    ),
    c AS (
      SELECT doc_id,
        lower(regexp_extract(nofrag, '(?i)^(https?)://', 1)) || '://'
        || regexp_replace(lower(regexp_extract(nofrag,
             '(?i)^https?://([^/?#]+)', 1)), '(:80|:443)$', '')
        || regexp_replace(regexp_extract(nofrag,
             '(?i)^https?://[^/?#]+([^?#]*)', 1), '/+$', '')
        || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS canon_url
      FROM q
    )
    SELECT canon_url, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM c GROUP BY canon_url
    """,
)
def dd15_url_dedup(spark, sf_dir):
    # URL-canonicalization dedup — the pre-content dedup stage every
    # crawl pipeline runs (operators/text.py::canonical_url_col):
    # zero-shuffle canonical form at the scan, then the dd1 keep-min-id
    # digest groupBy on the canonical key.
    from era_parser_spark.operators.text import canonical_url_col

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 2 == 0, F.lit("Example")).otherwise(F.lit("example")),
        (d % 5).cast("string"),
        F.lit(".com"),
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        (d % 97).cast("string"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=tr"),
        d.cast("string"),
        F.lit("&id="),
        (d % 5).cast("string"),
        F.lit("&a=1&fbclid=f"),
        d.cast("string"),
        F.lit("#sec"),
        d.cast("string"),
    )
    return (
        docs.select(d.alias("doc_id"), canonical_url_col(url).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "mm8_speech_segments",
    # VAD re-derived over hex(payload): voiced = frame byte-sum energy >=
    # 1506 (the corpus median), segments = maximal voiced runs (lag +
    # running sum), clicks under 2 frames dropped.  All-integer,
    # bitwise-exact in both engines.
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 16 AS nf
      FROM documents WHERE octet_length(encode(text)) >= 16
    ),
    b AS (
      SELECT media_id, CAST(i AS BIGINT) AS fi,
             CAST(concat('0x',
                  substr(hx, CAST((i * 16 + j) * 2 + 1 AS INTEGER), 2))
                  AS BIGINT) AS bv
      FROM m, unnest(range(0, nf)) AS u(i), unnest(range(0, 16)) AS v(j)
    ),
    e AS (SELECT media_id, fi, sum(bv) AS energy FROM b GROUP BY media_id, fi),
    v AS (
      SELECT media_id, fi, energy,
             CASE WHEN energy >= 1506 THEN 1 ELSE 0 END AS vv
      FROM e
    ),
    s AS (
      SELECT media_id, fi, energy, vv,
             CASE WHEN vv = 1 AND coalesce(lag(vv) OVER (
                    PARTITION BY media_id ORDER BY fi), 0) = 0
                  THEN 1 ELSE 0 END AS st
      FROM v
    ),
    r AS (
      SELECT media_id, fi, energy, vv,
             sum(st) OVER (PARTITION BY media_id ORDER BY fi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_idx
      FROM s
    )
    SELECT media_id, CAST(seg_idx AS BIGINT) AS seg_idx,
           min(fi) AS start_idx, max(fi) AS end_idx,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(energy) AS BIGINT) AS seg_energy
    FROM r WHERE vv = 1
    GROUP BY media_id, seg_idx
    HAVING count(*) >= 2
    """,
)
def mm8_speech_segments(spark, sf_dir):
    # Voice-activity segmentation over the media payloads — silence
    # trimming ahead of ASR (operators/multimodal.py::speech_segments).
    from era_parser_spark.operators.multimodal import speech_segments

    docs = table(spark, sf_dir, "documents")
    return speech_segments(
        documents_as_media(docs), frame_bytes=16, threshold=1506, min_frames=2
    )


@register(
    "dd16_remove_shared_spans",
    # dd10's whole detection chain as the CTE prefix (oracle joins gram
    # STRINGS where the engine joins xxhash64 — same accepted 64-bit
    # collision risk), then the cut: doc_b-side span ranges -> DISTINCT
    # masked positions -> anti-join -> ORDER BY pos reassembly.  All
    # integer positions; text equality is exact.
    oracle=f"""
    WITH tokd AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(tok[CAST(i + 1 AS INTEGER) : CAST(i + 8 AS INTEGER)], ' ') AS gram
      FROM tokd, unnest(range(0, len(tok) - 7)) AS u(i)
    ),
    hot AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) > 100),
    j AS (SELECT * FROM grams ANTI JOIN hot USING (gram)),
    m AS (
      SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb,
             a.pos - b.pos AS diag
      FROM j a JOIN j b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa, pb, diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
               AS grp
      FROM m
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
    kept AS (SELECT t.* FROM toks t ANTI JOIN masked USING (doc_id, pos)),
    agg AS (
      SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT tokd.doc_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(len(tok) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(clean_text, '') AS clean_text
    FROM tokd LEFT JOIN agg USING (doc_id)
    """,
)
def dd16_remove_shared_spans(spark, sf_dir):
    # ExactSubstr's cut step: keep the min-id copy of every >=12-token
    # verbatim shared run, cut it from the higher-id doc, reassemble
    # (operators/dedup.py::remove_shared_spans).
    from era_parser_spark.operators.dedup import remove_shared_spans

    docs = table(spark, sf_dir, "documents")
    return remove_shared_spans(docs, "doc_id", "text", l=8, min_span_tokens=12)


_DD17_H = "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"


@register(
    "dd17_semantic_decontaminate",
    # Same %17 train/bench split as dd7/dd14, one tier up: the t26 hash
    # CTE on both sides, bench x train dots via a sparse bucket join
    # (same integer as the engine's broadcast numpy matmul), hit
    # predicate and max_cos_q both in truncating BIGINT arithmetic —
    # no float argmax anywhere.
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({_TOK}) AS t FROM documents),
    s AS (SELECT doc_id, CAST({_DD17_H} % 64 AS INTEGER) AS b,
                 CASE WHEN (({_DD17_H} >> 30) % 2) = 0 THEN 1 ELSE -1 END AS sgn
          FROM ex WHERE t <> ''),
    c AS (SELECT doc_id, b, CAST(SUM(sgn) AS BIGINT) AS v
          FROM s GROUP BY doc_id, b),
    stats AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS n2
              FROM c GROUP BY doc_id),
    dots AS (
      SELECT ct.doc_id AS t_id, cb.doc_id AS b_id,
             CAST(SUM(ct.v * cb.v) AS BIGINT) AS dot
      FROM c ct JOIN c cb ON ct.b = cb.b
      WHERE ct.doc_id % 17 <> 0 AND cb.doc_id % 17 = 0
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.t_id, (10000 * d.dot * d.dot) // (st.n2 * sb.n2) AS cq
      FROM dots d JOIN stats st ON st.doc_id = d.t_id
                  JOIN stats sb ON sb.doc_id = d.b_id
      WHERE d.dot > 0 AND st.n2 > 0 AND sb.n2 > 0
    ),
    hits AS (SELECT t_id, CAST(count(*) AS BIGINT) AS n_hits,
                    CAST(max(cq) AS BIGINT) AS max_cq
             FROM scored WHERE cq >= 8100 GROUP BY t_id)
    SELECT d.doc_id,
           COALESCE(n_hits, 0) AS n_bench_hits,
           COALESCE(max_cq, 0) AS max_cos_q,
           COALESCE(n_hits, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN hits ON hits.t_id = d.doc_id
    WHERE d.doc_id % 17 <> 0
    """,
)
def dd17_semantic_decontaminate(spark, sf_dir):
    # Embedding-space decontamination screen: broadcast bench matrix,
    # train side never shuffles
    # (operators/similarity.py::semantic_decontaminate).
    from era_parser_spark.operators.similarity import semantic_decontaminate

    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return semantic_decontaminate(
        train, bench, "doc_id", "text", dim=64, min_cos=0.9
    )


def _dd18_oracle() -> str:
    from era_parser_spark.queries.similarity import kmeans_lloyd_ctes

    qthr = int(round(10_000 * 0.35 * 0.35))
    return f"""
    WITH {kmeans_lloyd_ctes(k=8, iters=2, quant=512)},
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
      WHERE dot > 0 AND 10000 * dot * dot >= {qthr} * na.n2 * nb.n2
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
    SELECT f.vec_id, f.cid AS cluster, CAST(f.d2 AS BIGINT) AS dist_sq,
           rm.vec_id IS NULL AS kept
    FROM a_fin f LEFT JOIN rm USING (vec_id)
    """


@register("dd18_semdedup_kmeans", oracle=_dd18_oracle())
def dd18_semdedup_kmeans(spark, sf_dir):
    """SemDeDup with LEARNED k-means clusters (Abbas et al. 2023) — the
    paper's recipe where dd8 approximates with hash cells: exact-integer
    Lloyd's (s16's model, quant=512 so 1e4*dot^2 stays in int64), then
    one per-cluster Gram-matmul kernel marks every row whose eps-
    neighborhood holds a strictly-farther-from-centroid member (the
    0.35 threshold is the dd8 convention: this synthetic corpus has no
    true near-dups, max pair cosine ~0.51); in a
    duplicate clique exactly the farthest-from-centroid row survives
    (the paper's lowest-similarity-to-centroid keeper)."""
    from era_parser_spark.operators.similarity import semdedup_kmeans

    emb = table(spark, sf_dir, "embeddings")
    return semdedup_kmeans(
        emb, "vec_id", "embedding", k=8, iters=2, quant=512, min_cos=0.35, dim=64
    )


@register(
    "dd19_exactsubstr_drop_routed",
    # ExactSubstr doc-drop policy (Lee et al. 2021: drop documents that
    # share >= T verbatim tokens with another document) computed through
    # the round-11 CHUNKED ROUTING path, so no document is ever too big
    # for the exact tier.  Decision-exact because T=20 <= overlap=94
    # (chunked spans are exact below the overlap and >= overlap-bounded
    # past it — either way the `>= 20` predicate is decided correctly);
    # the oracle is the exact global-suffix SQL with the same predicate.
    oracle="""
    WITH dd19 AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS tok
      FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    pd19 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM dd19, unnest(generate_series(1, len(tok))) AS t(i)
      WHERE len(tok) >= 1
    ),
    ad19 AS (
      SELECT doc_id,
             tok[CAST(pos AS INTEGER):] AS suf,
             lag(doc_id) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev_doc,
             lag(tok[CAST(pos AS INTEGER):]) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev
      FROM pd19
    ),
    ld19 AS (
      SELECT doc_id, prev_doc,
             CASE WHEN prev IS NULL OR prev_doc = doc_id THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(len(suf), len(prev))),
                         k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
             END AS lcp
      FROM ad19
    ),
    cd19 AS (
      SELECT doc_id, lcp FROM ld19
      UNION ALL
      SELECT prev_doc AS doc_id, lcp FROM ld19
      WHERE prev_doc IS NOT NULL AND prev_doc != doc_id
    )
    SELECT p.doc_id,
           CAST(COALESCE(max(c.lcp), 0) AS BIGINT) AS longest_shared,
           COALESCE(max(c.lcp), 0) < 20 AS kept
    FROM (SELECT DISTINCT doc_id FROM pd19) p
    LEFT JOIN cd19 c ON c.doc_id = p.doc_id
    GROUP BY p.doc_id
    """,
)
def dd19_exactsubstr_drop_routed(spark, sf_dir):
    """ExactSubstr document-drop policy over the chunked-routing exact
    spans: drop any document sharing >= 20 verbatim tokens with another
    document.  The threshold is <= the chunk overlap, so the routed
    decision equals the unchunked exact one even for documents the
    `max_doc_tokens` guard would otherwise have SKIPPED (flagged NULL) —
    the web-scale shape where the longest documents are precisely the
    ones ExactSubstr most needs to see.  Output: (doc_id,
    longest_shared, kept)."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_chunked

    docs = table(spark, sf_dir, "documents")
    spans = longest_cross_doc_span_chunked(
        docs, "doc_id", "text", max_doc_tokens=96, chunk_overlap=94
    )
    return spans.select(
        "doc_id", "longest_shared", (F.col("longest_shared") < 20).alias("kept")
    )


def _phash_pair_ctes() -> str:
    """The pHash CTE chain shared VERBATIM by mm9 and mm10 — augmented
    corpus through the banded near-pair list ``pr`` — as a WITH-body
    fragment (no leading WITH, no final SELECT).  Both oracles compose
    this structurally; the previous rsplit+rstrip(')') surgery on mm9's
    finished SQL would have silently corrupted mm10 had mm9's last CTE
    ever ended in '))' (round-12 advice)."""
    from era_parser_spark.operators.multimodal import phash_dct_rows

    tt = ", ".join(
        f"({k}, {j}, {t})"
        for k, row in enumerate(phash_dct_rows())
        for j, t in enumerate(row)
    )
    return f"""aug AS (
      -- every 10th doc gets a one-char-substituted twin (the t16
      -- augmentation convention): a single tiled-grid cell moves, so the
      -- DCT hash lands within a couple of bits — real near-dup pairs on
      -- a corpus whose distinct docs sit at hamming >= 14
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substr(text, 1, 50) || 'x' || substr(text, 52)
      FROM documents WHERE doc_id % 10 = 0
    ),
    m AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM aug WHERE octet_length(encode(text)) > 0
    ),
    b AS (
      SELECT media_id, CAST(i AS BIGINT) AS i,
             CAST(concat('0x',
                  substr(hx, CAST((i % n) * 2 + 1 AS INTEGER), 2)) AS BIGINT) AS bv
      FROM m, unnest(range(0, 1024)) AS u(i)
    ),
    tt(k, j, t) AS (VALUES {tt}),
    tp AS (
      SELECT b.media_id, tt.k AS k1, CAST(b.i % 32 AS BIGINT) AS c,
             sum(CAST(tt.t AS BIGINT) * b.bv) AS v
      FROM b JOIN tt ON tt.j = b.i // 32
      GROUP BY 1, 2, 3
    ),
    d AS (
      SELECT tp.media_id, tp.k1, tt.k AS k2, sum(tp.v * CAST(tt.t AS BIGINT)) AS v
      FROM tp JOIN tt ON tt.j = tp.c
      GROUP BY 1, 2, 3
    ),
    cf AS (
      SELECT media_id, CAST(k1 * 8 + k2 - 1 AS INTEGER) AS pos, v
      FROM d WHERE NOT (k1 = 0 AND k2 = 0)
    ),
    med AS (
      SELECT media_id, v AS mv FROM (
        SELECT cf.*, row_number() OVER (PARTITION BY media_id
                                        ORDER BY v, pos) AS rn
        FROM cf
      ) WHERE rn = 32
    ),
    h AS (
      SELECT cf.media_id,
             CAST(sum(CASE WHEN cf.v > med.mv
                           THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END)
                  AS BIGINT) AS phash
      FROM cf JOIN med USING (media_id) GROUP BY 1
    ),
    bk AS (
      SELECT media_id, phash, CAST(k AS INTEGER) AS k,
             (phash >> CAST(k * 7 AS INTEGER)) & 127 AS bv
      FROM h, unnest(range(0, 9)) AS u(k)
    ),
    pr AS (
      SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
             bit_count(CAST(xor(a.phash, b.phash) AS BIGINT)) AS hamming
      FROM bk a JOIN bk b
        ON a.k = b.k AND a.bv = b.bv AND a.media_id < b.media_id
    )"""


def _mm9_oracle() -> str:
    return (
        "WITH "
        + _phash_pair_ctes()
        + """
    SELECT media_a, media_b, CAST(hamming AS INTEGER) AS hamming
    FROM pr WHERE hamming <= 8
    """
    )


def _mm10_oracle() -> str:
    # mm9's full pHash CTE chain (shared builder, verbatim) + dd5's
    # recursive min-label connected components over the hamming<=8 pair
    # list, + the min-id keeper.  The edge CTE is MATERIALIZED: the
    # recursion re-references it per iteration and DuckDB inlines plain
    # CTEs (the t31 lesson) — without it the whole DCT subtree re-expands
    # every round.
    return "WITH RECURSIVE " + _phash_pair_ctes() + """,
    e10 AS MATERIALIZED (
      SELECT media_a AS src, media_b AS dst FROM pr WHERE hamming <= 8
      UNION ALL
      SELECT media_b, media_a FROM pr WHERE hamming <= 8
    ),
    reach10(node, label) AS (
      SELECT media_id, media_id FROM m
      UNION
      SELECT e.dst, r.label FROM reach10 r JOIN e10 e ON e.src = r.node
    ),
    labels10 AS (SELECT node AS media_id, min(label) AS cluster_id
                 FROM reach10 GROUP BY node),
    csz10 AS (SELECT cluster_id, count(*) AS cluster_sz
              FROM labels10 GROUP BY cluster_id)
    SELECT l.media_id, l.cluster_id, cluster_sz,
           l.media_id = l.cluster_id AS kept
    FROM labels10 l JOIN csz10 ON l.cluster_id = csz10.cluster_id
    """


@register("mm10_phash_dup_clusters", oracle=_mm10_oracle())
def mm10_phash_dup_clusters(spark, sf_dir):
    """Image near-dup CLUSTERS with a keeper policy — mm9's pHash banded
    pairs promoted to the full dedup decision (the dd5 shape on the
    multimodal tier): transitive clusters via connected_components
    (union-find below its edge gate, star contraction above) over the
    hamming<=8 edges, cluster sizes, and kept = the min-media-id member of each cluster (the deterministic
    survivor rule; singletons keep themselves).  Same augmented corpus
    as mm9 (every 10th doc gets a one-char twin), so real multi-member
    clusters exist.  Output: (media_id, cluster_id, cluster_sz, kept)."""
    from era_parser_spark.operators.graph import cluster_sizes, connected_components
    from era_parser_spark.operators.multimodal import (
        documents_as_media,
        phash_near_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 50), F.lit("x"), F.expr("substr(text, 52)")
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(twins)
    media = documents_as_media(aug)
    pairs = phash_near_pairs(media, max_hamming=8)
    comps = connected_components(
        media.select("media_id"),
        pairs.select("media_a", "media_b"),
        id_col="media_id",
        src_col="media_a",
        dst_col="media_b",
    )
    return cluster_sizes(comps, id_col="media_id").withColumn(
        "kept", F.col("media_id") == F.col("cluster_id")
    )


@register("mm9_image_phash_pairs", oracle=_mm9_oracle())
def mm9_image_phash_pairs(spark, sf_dir):
    """Image near-dup via pHash (DCT perceptual hash) banding — the
    frequency-domain sibling of mm5's aHash: fixed-point integer 2D DCT
    (cos table rounded once in Python, shared verbatim with the SQL
    twin), exact-median bit threshold, 9x7-bit pigeonhole-exact bands
    for hamming <= 8.  Every 10th doc gets a one-char-substituted twin
    so the corpus contains true near-dup payloads (distinct docs sit at
    hamming >= 14)."""
    from era_parser_spark.operators.multimodal import documents_as_media, phash_near_pairs

    docs = table(spark, sf_dir, "documents")
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 50), F.lit("x"), F.expr("substr(text, 52)")
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(twins)
    return phash_near_pairs(documents_as_media(aug), max_hamming=8)


@register(
    "dd20_exactsubstr_drop_refined",
    # ExactSubstr doc-drop with the threshold BEYOND the chunk overlap:
    # T=50 > overlap=32, the case dd19 cannot decide from one chunked
    # pass (values >= 32 are only lower bounds there).  The refinement
    # loop makes every value exact, so the decision is exact for ANY
    # threshold; the oracle is the same exact global-suffix SQL with the
    # 50-token predicate (21 sf0.01 docs drop).
    oracle="""
    WITH dd20 AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS tok
      FROM documents
      WHERE text IS NOT NULL AND trim(text) != ''
    ),
    pd20 AS (
      SELECT doc_id, tok, CAST(i AS BIGINT) AS pos
      FROM dd20, unnest(generate_series(1, len(tok))) AS t(i)
      WHERE len(tok) >= 1
    ),
    ad20 AS (
      SELECT doc_id,
             tok[CAST(pos AS INTEGER):] AS suf,
             lag(doc_id) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev_doc,
             lag(tok[CAST(pos AS INTEGER):]) OVER
               (ORDER BY tok[CAST(pos AS INTEGER):], doc_id, pos) AS prev
      FROM pd20
    ),
    ld20 AS (
      SELECT doc_id, prev_doc,
             CASE WHEN prev IS NULL OR prev_doc = doc_id THEN 0
                  ELSE len(list_filter(
                         generate_series(1, least(len(suf), len(prev))),
                         k -> suf[1:CAST(k AS INTEGER)] = prev[1:CAST(k AS INTEGER)]))
             END AS lcp
      FROM ad20
    ),
    cd20 AS (
      SELECT doc_id, lcp FROM ld20
      UNION ALL
      SELECT prev_doc AS doc_id, lcp FROM ld20
      WHERE prev_doc IS NOT NULL AND prev_doc != doc_id
    )
    SELECT p.doc_id,
           CAST(COALESCE(max(c.lcp), 0) AS BIGINT) AS longest_shared,
           COALESCE(max(c.lcp), 0) < 50 AS kept
    FROM (SELECT DISTINCT doc_id FROM pd20) p
    LEFT JOIN cd20 c ON c.doc_id = p.doc_id
    GROUP BY p.doc_id
    """,
)
def dd20_exactsubstr_drop_refined(spark, sf_dir):
    """ExactSubstr document-drop with threshold > chunk overlap — the
    decision dd19's single chunked pass cannot make (it is decision-
    exact only for T <= overlap).  The iterative-doubling refinement
    (operators/suffix.py longest_cross_doc_span_refined) re-routes only
    the clamped documents until every span value is exact, so ANY
    threshold works over the chunked tier.  Output: (doc_id,
    longest_shared, kept) with kept = longest_shared < 50."""
    from era_parser_spark.operators.suffix import longest_cross_doc_span_refined

    docs = table(spark, sf_dir, "documents")
    spans = longest_cross_doc_span_refined(
        docs, "doc_id", "text", max_doc_tokens=64, chunk_overlap=32
    )
    return spans.select(
        "doc_id", "longest_shared", (F.col("longest_shared") < 50).alias("kept")
    )
