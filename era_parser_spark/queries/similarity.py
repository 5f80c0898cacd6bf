"""Similarity-search queries over `embeddings` (north-star extensions).

s1 is the exact brute-force baseline; s2 is the IVF scale path (fixed-k
deterministic centroids, broadcast assignment, semi-join probe); s3 is the
exact all-pairs block-grid matmul.  All three carry full DuckDB oracles —
the IVF rule (id-stride centroids, L2 argmin with id tie-break) was chosen
to be expressible in plain SQL so the approximate path is still exactly
checkable, and every surfaced cosine is DECIMAL(10,6)-quantized then cast
to DOUBLE on both sides (see docs/PLANS.md float-determinism rules).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from era_parser_spark.operators.similarity import all_pairs_topk, cosine_topk, ivf_topk
from era_parser_spark.queries.registry import register, table


def _query_vec(spark, sf_dir, vec_id: int = 0) -> list[float]:
    row = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row[0]]


@register(
    "s1_cosine_topk",
    oracle="""
    SELECT vec_id,
           CAST(CAST(list_cosine_similarity(
             embedding::DOUBLE[],
             (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]
           ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
    FROM embeddings
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def s1_cosine_topk(spark, sf_dir):
    # Exact cosine top-10 to the vec_id=0 embedding (brute-force baseline).
    emb = table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, "embedding", "vec_id", _query_vec(spark, sf_dir, 0), k=10)


@register(
    "s2_ann_ivf_topk",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 64
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM cent c
               ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC, c.cid ASC
               LIMIT 1) AS centroid_id
      FROM embeddings e
    ),
    probe AS (
      SELECT c.cid FROM cent c, q
      ORDER BY list_distance(c.cvec, q.qv) ASC, c.cid ASC LIMIT 3
    )
    SELECT a.vec_id,
           CAST(CAST(list_cosine_similarity(
             a.embedding::DOUBLE[], (SELECT qv FROM q)
           ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
    FROM assign a
    WHERE a.centroid_id IN (SELECT cid FROM probe)
    ORDER BY cosine_sim DESC, a.vec_id LIMIT 10
    """,
)
def s2_ann_ivf_topk(spark, sf_dir):
    # IVF approximate top-10: fixed-k deterministic centroids (first 64 ids
    # divisible by 25), broadcast argmin assignment, probe the 3 nearest
    # cells.  The deterministic rule makes the whole approximate pipeline
    # reproducible in the SQL oracle above.
    emb = table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        "embedding",
        "vec_id",
        _query_vec(spark, sf_dir, 0),
        k=10,
        stride=25,
        n_centroids=64,
        nprobe=3,
    )


@register(
    "s3_embedding_dup_pairs",
    oracle="""
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           CAST(CAST(list_cosine_similarity(
             a.embedding::DOUBLE[], b.embedding::DOUBLE[]
           ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY cosine_sim DESC, doc_a, doc_b LIMIT 20
    """,
)
def s3_embedding_dup_pairs(spark, sf_dir):
    # Top-20 most-similar embedding pairs (near-dup by cosine): exact
    # block-grid distributed matmul — no driver-side matrix collect.
    emb = table(spark, sf_dir, "embeddings")
    return all_pairs_topk(emb, "embedding", "vec_id", top_pairs=20)


@register(
    "s4_label_centroids",
    # floor(v*1e6) quantization makes the parallel mean exact-integer math;
    # double product + floor are bitwise-identical in Spark and DuckDB.
    oracle="""
    WITH ex AS (
      SELECT label, i - 1 AS dim, embedding[i] AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
             AS qsum,
           CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
             / (1000000.0 * count(*)) AS mean_v
    FROM ex GROUP BY label, dim
    """,
)
def s4_label_centroids(spark, sf_dir):
    # Per-label mean embedding (centroid build for classifier probing /
    # IVF seeding), deterministic under any partitioning via quantization.
    from era_parser_spark.operators.similarity import label_centroids

    emb = table(spark, sf_dir, "embeddings")
    return label_centroids(emb, "embedding", "label")


@register(
    "s5_knn_join",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 101 = 0
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS nbr_id,
             CAST(CAST(list_cosine_similarity(
               e.embedding::DOUBLE[], q.qv
             ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
      FROM embeddings e, q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, nbr_id, cosine_sim,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY cosine_sim DESC, nbr_id
           ) AS INTEGER) AS rnk
    FROM scored QUALIFY rnk <= 5
    """,
)
def s5_knn_join(spark, sf_dir):
    # Batch k-NN join: exact top-5 corpus neighbors for every query vector
    # (vec_id % 101 == 0) — broadcast query side, two-phase top-k reduce.
    from era_parser_spark.operators.similarity import knn_join

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 101 == 0)
    return knn_join(emb, queries, "embedding", "vec_id", k=5)


@register(
    "s6_srp_lsh_pairs",
    # The planes are md5-parity +-1 signs and the embeddings are quantized
    # to integers before the plane dots, so the SIGNATURES — not just the
    # verified cosines — are exact integer math re-derivable in SQL.
    oracle="""
    WITH planes AS (
      SELECT t.t, p.p, d.d,
             CASE WHEN CAST(concat('0x',
                    substr(md5(t.t || '_' || p.p || '_' || d.d), 1, 1))
                  AS INTEGER) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM range(4) t(t), range(8) p(p), range(64) d(d)
    ),
    qv AS (
      SELECT vec_id, i - 1 AS d,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    dots AS (
      SELECT qv.vec_id, planes.t, planes.p, sum(planes.s * qv.q) AS dot
      FROM qv JOIN planes ON qv.d = planes.d
      GROUP BY 1, 2, 3
    ),
    sigs AS (
      SELECT vec_id, t,
             sum(CASE WHEN dot >= 0 THEN CAST(1 << p AS BIGINT)
                 ELSE 0 END) AS sig
      FROM dots GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM sigs a JOIN sigs b
        ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(CAST(list_cosine_similarity(
             ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]
           ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.doc_a
    JOIN embeddings eb ON eb.vec_id = c.doc_b
    ORDER BY cosine_sim DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def s6_srp_lsh_pairs(spark, sf_dir):
    # Random-hyperplane (SRP) LSH near-dup pairs: 4 tables x 8 planes,
    # bucket equi-join candidates, exact quantized-cosine verify, top-20.
    from era_parser_spark.operators.similarity import srp_lsh_pairs

    emb = table(spark, sf_dir, "embeddings")
    return srp_lsh_pairs(
        emb, "embedding", "vec_id", n_tables=4, n_planes=8, top_pairs=20, dim=64
    )


@register(
    "s7_incremental_topk",
    # The oracle IS the full rescan — equality proves the incremental
    # merge (scan only the new batch + k carried rows) reconstructs it
    # exactly.  Same quantized-cosine representation as s1.
    oracle="""
    SELECT vec_id,
           CAST(CAST(list_cosine_similarity(
             embedding::DOUBLE[],
             (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]
           ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
    FROM embeddings
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
)
def s7_incremental_topk(spark, sf_dir):
    # Incremental exact top-k maintenance: the corpus arrives as two
    # batches (even ids, then odd ids); the second step scores ONLY the
    # new batch and merges with the carried top-k — output must equal a
    # full rescan (operators/similarity.py::incremental_topk).
    from era_parser_spark.operators.similarity import cosine_topk, incremental_topk

    emb = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir, 0)
    prev = cosine_topk(emb.filter(F.col("vec_id") % 2 == 0), "embedding", "vec_id", q, k=10)
    return incremental_topk(
        prev, emb.filter(F.col("vec_id") % 2 == 1), "embedding", "vec_id", q, k=10
    )


@register(
    "s8_radius_search",
    # Same quantized-cosine representation as s1; radius predicate compares
    # the DECIMAL(10,6)-quantized value in both engines (the dd8 rule).
    oracle="""
    SELECT vec_id, cosine_sim FROM (
      SELECT vec_id,
             CAST(CAST(list_cosine_similarity(
               embedding::DOUBLE[],
               (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]
             ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
      FROM embeddings
    ) WHERE cosine_sim >= 0.2
    """,
)
def s8_radius_search(spark, sf_dir):
    """Radius (range) similarity search: ALL vectors within a cosine
    threshold of the query — the fixed-radius twin of s1's top-k, the
    shape recall-oriented retrieval and dedup-candidate generation use.
    Pure codegen fold + filter, no shuffle at all; at scale the same
    IVF/LSH prefilters as s2/s6 bound the scanned fraction."""
    from era_parser_spark.operators.similarity import (
        cosine_expr,
        lit_vector,
        quantized_cosine,
    )

    emb = table(spark, sf_dir, "embeddings")
    q = lit_vector(_query_vec(spark, sf_dir, 0))
    return emb.select(
        "vec_id",
        quantized_cosine(
            cosine_expr(F.col("embedding").cast("array<double>"), q)
        ).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= 0.2)


@register(
    "s10_pq_codes",
    # The entire PQ encoding re-derived in SQL: stride-seeded codebooks
    # (the s2 rule), per-subspace argmin via a correlated subquery ordered
    # by distance then code id — integer-only output, so no float column
    # ever reaches the hash; list_distance (sqrt) and the engine's squared
    # fold induce the same argmin ordering.
    oracle="""
    WITH cb AS (
      SELECT vec_id AS code_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 16
    )
    SELECT e.vec_id, CAST(j AS INTEGER) AS sub,
           (SELECT c.code_id FROM cb c
             ORDER BY list_distance(
               (e.embedding::DOUBLE[])[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)],
               c.v[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)]
             ) ASC, c.code_id ASC
             LIMIT 1) AS code
    FROM embeddings e, unnest(range(0, 4)) AS u(j)
    """,
)
def s10_pq_codes(spark, sf_dir):
    # Product-quantization encoding: 4 subspaces x 16 stride-seeded codes
    # over the 64-dim embeddings (operators/similarity.py::pq_codes).
    from era_parser_spark.operators.similarity import pq_codes

    emb = table(spark, sf_dir, "embeddings")
    return pq_codes(emb, "embedding", "vec_id", dim=64, m=4, k=16, stride=25)


@register(
    "s11_ivf_pq_search",
    # The full IVF-PQ ADC pipeline re-derived in SQL: s2's coarse routing
    # (stride centroids, argmin assignment, 3-cell probe), s10's
    # per-subspace code argmin restricted to the probed candidates, then
    # the asymmetric distance — per-sub squared-L2 between the query
    # subvector and the CODE CENTER, rebuilt as the same left-fold Spark's
    # sq_l2_expr computes (list_reduce init = first element; 0.0 + t0 is
    # exact, so both folds are bitwise identical), summed in the same
    # parenthesized left-to-right order and DECIMAL(10,6)-quantized (the
    # s1 rule) before the ORDER BY.
    oracle="""
    WITH cb AS (
      SELECT vec_id AS code_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 16
    ),
    cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 64
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
             (SELECT c.cid FROM cent c
               ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC, c.cid ASC
               LIMIT 1) AS centroid_id
      FROM embeddings e
    ),
    probe AS (
      SELECT c.cid FROM cent c, q
      ORDER BY list_distance(c.cvec, q.qv) ASC, c.cid ASC LIMIT 3
    ),
    cand AS (
      SELECT vec_id, ev FROM assign
      WHERE centroid_id IN (SELECT cid FROM probe)
    ),
    codes AS (
      SELECT cand.vec_id, j,
        (SELECT c.code_id FROM cb c
          ORDER BY list_distance(
            cand.ev[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)],
            c.v[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)]
          ) ASC, c.code_id ASC LIMIT 1) AS code
      FROM cand, unnest(range(0, 4)) AS u(j)
    ),
    dists AS (
      SELECT co.vec_id, co.j,
        list_reduce(
          list_transform(range(1, 17), i ->
            (c.v[CAST(co.j*16 AS INTEGER)+i] - q.qv[CAST(co.j*16 AS INTEGER)+i])
            * (c.v[CAST(co.j*16 AS INTEGER)+i] - q.qv[CAST(co.j*16 AS INTEGER)+i])),
          (x, y) -> x + y) AS dist
      FROM codes co JOIN cb c ON c.code_id = co.code, q
    )
    SELECT vec_id,
           CAST(CAST(
             ((MAX(CASE WHEN j=0 THEN dist END)
               + MAX(CASE WHEN j=1 THEN dist END))
               + MAX(CASE WHEN j=2 THEN dist END))
               + MAX(CASE WHEN j=3 THEN dist END)
           AS DECIMAL(10,6)) AS DOUBLE) AS adc_dist
    FROM dists GROUP BY vec_id
    ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """,
)
def s11_ivf_pq_search(spark, sf_dir):
    # IVF-PQ ADC search: s2's coarse routing composed with s10's codes
    # into an actual query operator — the memory-bounded ANN shape
    # (operators/similarity.py::ivf_pq_topk).  Recall@10 vs s1 brute
    # force is pinned in tests/test_round7_ops.py.
    from era_parser_spark.operators.similarity import ivf_pq_topk

    emb = table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir, 0),
        dim=64, k=10, m=4, n_codes=16, stride=25, n_centroids=64, nprobe=3,
    )


@register(
    "s11b_ivf_pq_residual",
    # IVFADC proper (residual encoding): the s11 oracle extended with the
    # residual frame (r = v - c(v), elementwise), offset-1 stride seeds
    # (offset 0 would pick coarse centroids whose residual is zero — a
    # degenerate codebook), code ranks by row_number over code_id, and
    # per-probed-cell ADC distances between (q - cvec) and the seed
    # residuals — same exact left-fold and parenthesized fixed-order sum
    # as s11, DECIMAL(10,6)-quantized.
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 64
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
             (SELECT c.cid FROM cent c
               ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC, c.cid ASC
               LIMIT 1) AS centroid_id
      FROM embeddings e
    ),
    resid AS (
      SELECT a.vec_id, a.centroid_id,
             list_transform(range(1, 65),
               i -> a.ev[CAST(i AS INTEGER)] - c.cvec[CAST(i AS INTEGER)]) AS r
      FROM assign a JOIN cent c ON c.cid = a.centroid_id
    ),
    probe AS (
      SELECT c.cid, c.cvec FROM cent c, q
      ORDER BY list_distance(c.cvec, q.qv) ASC, c.cid ASC LIMIT 3
    ),
    seeds AS (
      SELECT vec_id AS code_id, r AS v FROM resid
      WHERE vec_id % 25 = 1 ORDER BY vec_id LIMIT 16
    ),
    ranked AS (
      SELECT code_id, v, row_number() OVER (ORDER BY code_id) - 1 AS rnk
      FROM seeds
    ),
    cand AS (
      SELECT vec_id, centroid_id, r FROM resid
      WHERE centroid_id IN (SELECT cid FROM probe)
    ),
    codes AS (
      SELECT cand.vec_id, cand.centroid_id, j,
        (SELECT s.rnk FROM ranked s
          ORDER BY list_distance(
            cand.r[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)],
            s.v[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)]
          ) ASC, s.rnk ASC LIMIT 1) AS rnk
      FROM cand, unnest(range(0, 4)) AS u(j)
    ),
    dists AS (
      SELECT p.cid, s.rnk, j,
        list_reduce(
          list_transform(range(1, 17), i ->
            ((q.qv[CAST(j*16 AS INTEGER)+i] - p.cvec[CAST(j*16 AS INTEGER)+i])
              - s.v[CAST(j*16 AS INTEGER)+i])
            * ((q.qv[CAST(j*16 AS INTEGER)+i] - p.cvec[CAST(j*16 AS INTEGER)+i])
              - s.v[CAST(j*16 AS INTEGER)+i])),
          (x, y) -> x + y) AS dist
      FROM probe p, ranked s, unnest(range(0, 4)) AS u(j), q
    ),
    scored AS (
      SELECT co.vec_id,
        ((MAX(CASE WHEN co.j=0 THEN dd.dist END)
          + MAX(CASE WHEN co.j=1 THEN dd.dist END))
          + MAX(CASE WHEN co.j=2 THEN dd.dist END))
          + MAX(CASE WHEN co.j=3 THEN dd.dist END) AS s
      FROM codes co
      JOIN dists dd ON dd.cid = co.centroid_id AND dd.rnk = co.rnk AND dd.j = co.j
      GROUP BY co.vec_id
    )
    SELECT vec_id, CAST(CAST(s AS DECIMAL(10,6)) AS DOUBLE) AS adc_dist
    FROM scored ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """,
)
def s11b_ivf_pq_residual(spark, sf_dir):
    # IVFADC with residual encoding and per-cell ADC tables
    # (operators/similarity.py::ivf_pq_residual_topk).
    from era_parser_spark.operators.similarity import ivf_pq_residual_topk

    emb = table(spark, sf_dir, "embeddings")
    return ivf_pq_residual_topk(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir, 0),
        dim=64, k=10, m=4, n_codes=16, stride=25, n_centroids=64, nprobe=3,
    )


@register(
    "s11c_ivf_pq_rerank",
    # IVFADC+R: the s11 oracle's ADC pipeline kept to a 40-row shortlist
    # CTE, then the shortlist's full vectors joined back and re-ranked by
    # exact squared L2 — the same left fold as Spark's sq_l2_expr
    # (list_reduce init = first element; 0.0 + t0 is exact), both
    # distances DECIMAL(10,6)-quantized.
    oracle="""
    WITH cb AS (
      SELECT vec_id AS code_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 16
    ),
    cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 64
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    assign AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
             (SELECT c.cid FROM cent c
               ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC, c.cid ASC
               LIMIT 1) AS centroid_id
      FROM embeddings e
    ),
    probe AS (
      SELECT c.cid FROM cent c, q
      ORDER BY list_distance(c.cvec, q.qv) ASC, c.cid ASC LIMIT 3
    ),
    cand AS (
      SELECT vec_id, ev FROM assign
      WHERE centroid_id IN (SELECT cid FROM probe)
    ),
    codes AS (
      SELECT cand.vec_id, j,
        (SELECT c.code_id FROM cb c
          ORDER BY list_distance(
            cand.ev[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)],
            c.v[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)]
          ) ASC, c.code_id ASC LIMIT 1) AS code
      FROM cand, unnest(range(0, 4)) AS u(j)
    ),
    dists AS (
      SELECT co.vec_id, co.j,
        list_reduce(
          list_transform(range(1, 17), i ->
            (c.v[CAST(co.j*16 AS INTEGER)+i] - q.qv[CAST(co.j*16 AS INTEGER)+i])
            * (c.v[CAST(co.j*16 AS INTEGER)+i] - q.qv[CAST(co.j*16 AS INTEGER)+i])),
          (x, y) -> x + y) AS dist
      FROM codes co JOIN cb c ON c.code_id = co.code, q
    ),
    short AS (
      SELECT vec_id,
             CAST(CAST(
               ((MAX(CASE WHEN j=0 THEN dist END)
                 + MAX(CASE WHEN j=1 THEN dist END))
                 + MAX(CASE WHEN j=2 THEN dist END))
                 + MAX(CASE WHEN j=3 THEN dist END)
             AS DECIMAL(10,6)) AS DOUBLE) AS adc_dist
      FROM dists GROUP BY vec_id
      ORDER BY adc_dist ASC, vec_id ASC LIMIT 40
    )
    SELECT s.vec_id, s.adc_dist,
           CAST(CAST(list_reduce(
             list_transform(range(1, 65), i ->
               (e.embedding[CAST(i AS INTEGER)]::DOUBLE - q.qv[CAST(i AS INTEGER)])
               * (e.embedding[CAST(i AS INTEGER)]::DOUBLE - q.qv[CAST(i AS INTEGER)])),
             (x, y) -> x + y) AS DECIMAL(10,6)) AS DOUBLE) AS exact_dist
    FROM short s JOIN embeddings e ON e.vec_id = s.vec_id, q
    ORDER BY exact_dist ASC, s.vec_id ASC LIMIT 10
    """,
)
def s11c_ivf_pq_rerank(spark, sf_dir):
    # IVFADC+R (operators/similarity.py::ivf_pq_rerank_topk): ADC
    # shortlist from codes alone, exact re-rank of the shortlist's full
    # vectors — completes the production retrieval recipe on top of
    # s11/s11b.  Recall@10 vs s1 brute force pinned in
    # tests/test_round7_ops.py (re-rank dominates plain ADC).
    from era_parser_spark.operators.similarity import ivf_pq_rerank_topk

    emb = table(spark, sf_dir, "embeddings")
    return ivf_pq_rerank_topk(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir, 0),
        dim=64, k=10, shortlist=40, m=4, n_codes=16, stride=25,
        n_centroids=64, nprobe=3,
    )


def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Chained per-step CTEs re-deriving the greedy MMR selection: step i
    picks argmax(lam*rel - (1-lam)*max sim to selected) over the pool
    minus the selected set, ties on vec_id.  All sims DECIMAL(10,6)-
    quantized; lam products/subtractions are single IEEE ops — identical
    to the operator's driver-side arithmetic.  Every sel{i} is
    MATERIALIZED: each later step reads all earlier ones, and DuckDB
    would inline them per reference."""
    q = "(SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]"
    parts = [
        f"""WITH pool AS (
      SELECT vec_id,
             CAST(CAST(list_cosine_similarity(embedding::DOUBLE[], {q})
                  AS DECIMAL(10,6)) AS DOUBLE) AS rel
      FROM embeddings ORDER BY rel DESC, vec_id LIMIT {pool}
    ),
    ps AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(CAST(list_cosine_similarity(
               ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]
             ) AS DECIMAL(10,6)) AS DOUBLE) AS s
      FROM pool a JOIN pool b ON a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT vec_id, rel, CAST({lam} AS DOUBLE) * rel AS score
      FROM pool ORDER BY score DESC, vec_id LIMIT 1
    )"""
    ]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, i)
        )
        parts.append(
            f""",
    sel{i} AS MATERIALIZED (
      SELECT p.vec_id, p.rel,
             CAST({lam} AS DOUBLE) * p.rel
             - (CAST(1.0 AS DOUBLE) - CAST({lam} AS DOUBLE)) * (
               SELECT max(s) FROM ps
               WHERE (ia = p.vec_id AND ib IN ({prev}))
                  OR (ib = p.vec_id AND ia IN ({prev}))
             ) AS score
      FROM pool p WHERE p.vec_id NOT IN ({prev})
      ORDER BY score DESC, p.vec_id LIMIT 1
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT vec_id, CAST({i} AS INTEGER) AS rank, rel AS relevance, "
        f"score AS mmr_score FROM sel{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"\n    {finals} ORDER BY rank")
    return "".join(parts)


@register("s12_mmr_diversify", oracle=_mmr_oracle())
def s12_mmr_diversify(spark, sf_dir):
    # MMR diversity re-ranking (operators/similarity.py::mmr_topk):
    # distributed exact top-20 pool + pairwise quantized matrix, greedy
    # k=5 selection over the bounded artifact; oracle re-derives every
    # step in chained CTEs.  Diversity-vs-relevance behavior pinned in
    # tests/test_round7_ops.py.
    from era_parser_spark.operators.similarity import mmr_topk

    emb = table(spark, sf_dir, "embeddings")
    return mmr_topk(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir, 0), k=5, pool=20
    )


@register(
    "s13_ann_knn_join",
    # The s11 ADC oracle generalized to a query BATCH (the s5 query set,
    # vec_id % 101 = 0): per-query probes via a rank window, candidates
    # from probed cells minus self, per-(query, subspace, code) distance
    # table, and the same fixed-order quantized sums — per-query top-5.
    oracle="""
    WITH cb AS (
      SELECT vec_id AS code_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 16
    ),
    cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 64
    ),
    qs AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 101 = 0
    ),
    assign AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
             (SELECT c.cid FROM cent c
               ORDER BY list_distance(e.embedding::DOUBLE[], c.cvec) ASC, c.cid ASC
               LIMIT 1) AS centroid_id
      FROM embeddings e
    ),
    probe AS (
      SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY list_distance(c.cvec, q.qv) ASC, c.cid ASC) AS rn
        FROM cent c, qs q)
      WHERE rn <= 3
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM assign a JOIN probe p ON a.centroid_id = p.cid
      WHERE a.vec_id <> p.query_id
    ),
    cdocs AS (
      SELECT DISTINCT a.vec_id, a.ev FROM assign a
      JOIN (SELECT DISTINCT vec_id FROM cand) cv ON cv.vec_id = a.vec_id
    ),
    codes AS (
      SELECT cdocs.vec_id, j,
        (SELECT c.code_id FROM cb c
          ORDER BY list_distance(
            cdocs.ev[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)],
            c.v[CAST(j*16+1 AS INTEGER):CAST(j*16+16 AS INTEGER)]
          ) ASC, c.code_id ASC LIMIT 1) AS code
      FROM cdocs, unnest(range(0, 4)) AS u(j)
    ),
    qd AS (
      SELECT q.query_id, u.j, c.code_id AS code,
        list_reduce(
          list_transform(range(1, 17), i ->
            (c.v[CAST(u.j*16 AS INTEGER)+i] - q.qv[CAST(u.j*16 AS INTEGER)+i])
            * (c.v[CAST(u.j*16 AS INTEGER)+i] - q.qv[CAST(u.j*16 AS INTEGER)+i])),
          (x, y) -> x + y) AS dist
      FROM qs q, cb c, unnest(range(0, 4)) AS u(j)
    ),
    scored AS (
      SELECT p.query_id, p.vec_id,
        CAST(CAST(
          ((MAX(CASE WHEN co.j=0 THEN qd.dist END)
            + MAX(CASE WHEN co.j=1 THEN qd.dist END))
            + MAX(CASE WHEN co.j=2 THEN qd.dist END))
            + MAX(CASE WHEN co.j=3 THEN qd.dist END)
        AS DECIMAL(10,6)) AS DOUBLE) AS adc_dist
      FROM cand p
      JOIN codes co ON co.vec_id = p.vec_id
      JOIN qd ON qd.query_id = p.query_id AND qd.j = co.j AND qd.code = co.code
      GROUP BY p.query_id, p.vec_id
    )
    SELECT query_id, vec_id AS nbr_id, adc_dist,
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
           ) AS INTEGER) AS rnk
    FROM scored QUALIFY rnk <= 5
    """,
)
def s13_ann_knn_join(spark, sf_dir):
    # Batch ANN k-NN join (operators/similarity.py::ivf_pq_knn_join):
    # the approximate counterpart of s5's exact k-NN join — corpus
    # scanned once, candidates only where a query probes, scoring via
    # one broadcast (query, subspace, code) ADC map.
    from era_parser_spark.operators.similarity import ivf_pq_knn_join

    emb = table(spark, sf_dir, "embeddings")
    return ivf_pq_knn_join(
        emb,
        emb.filter(F.col("vec_id") % 101 == 0),
        "embedding",
        "vec_id",
        dim=64,
        k=5,
        nprobe=3,
    )


@register(
    "s14_sq8_topk",
    # Same two IEEE double ops + floor on both sides (x*127 then /smax,
    # left-assoc); int8 products and 64-dim sums are exact in DuckDB's
    # double list_dot_product; final cosine re-rank is the standard
    # DECIMAL(10,6) quantized surface.
    oracle="""
    WITH s AS (
      SELECT max(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))))
             AS smax
      FROM embeddings
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    qc AS (
      SELECT list_transform(qv, x -> least(greatest(
               CAST(floor(x * 127 / s.smax) AS BIGINT), -127), 127)) AS q8
      FROM q, s
    ),
    scored AS (
      SELECT e.vec_id,
             CAST(list_dot_product(
               list_transform(e.embedding::DOUBLE[],
                              x -> floor(x * 127 / s.smax)),
               list_transform(qc.q8, y -> CAST(y AS DOUBLE))
             ) AS BIGINT) AS int8_dot
      FROM embeddings e, s, qc
    ),
    short AS (
      SELECT vec_id, int8_dot FROM scored
      ORDER BY int8_dot DESC, vec_id LIMIT 50
    )
    SELECT sh.vec_id, sh.int8_dot,
           CAST(CAST(list_cosine_similarity(
             e.embedding::DOUBLE[], (SELECT qv FROM q)
           ) AS DECIMAL(10,6)) AS DOUBLE) AS cosine_sim
    FROM short sh JOIN embeddings e USING (vec_id)
    ORDER BY cosine_sim DESC, vec_id LIMIT 10
    """,
)
def s14_sq8_topk(spark, sf_dir):
    # int8 scalar-quantized ANN to the vec_id=0 query: integer-dot
    # shortlist over 4x-smaller codes, exact cosine re-rank of the
    # fetched shortlist (operators/similarity.py::sq8_topk).
    from era_parser_spark.operators.similarity import sq8_topk

    emb = table(spark, sf_dir, "embeddings")
    return sq8_topk(
        emb, "embedding", "vec_id", _query_vec(spark, sf_dir, 0), k=10, shortlist=50
    )


_S15_TOK = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_S15_H = "CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)"


@register(
    "s15_hashed_semantic_pairs",
    # t26's hash CTE -> sparse (doc, bucket, weight) rows; cell = first
    # max-|v| bucket (abs DESC, b ASC — identical to Spark's dense
    # array_position tie-break since zeros can never win); dot via a
    # shared-bucket join over the SPARSE rows (same integer as the
    # engine's per-cell int64 Gram matmul); threshold decided in exact
    # BIGINT.
    oracle=f"""
    WITH ex AS (SELECT doc_id, unnest({_S15_TOK}) AS t FROM documents),
    s AS (
      SELECT doc_id,
             CAST({_S15_H} % 64 AS INTEGER) AS b,
             CASE WHEN (({_S15_H} >> 30) % 2) = 0 THEN 1 ELSE -1 END AS sgn
      FROM ex WHERE t <> ''
    ),
    c AS (SELECT doc_id, b, CAST(SUM(sgn) AS BIGINT) AS v
          FROM s GROUP BY doc_id, b),
    stats AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS n2
              FROM c GROUP BY doc_id HAVING SUM(v * v) > 0),
    cell AS (
      SELECT doc_id, b AS cell FROM (
        SELECT doc_id, b,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY abs(v) DESC, b) AS rn
        FROM c WHERE v <> 0
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT ca.doc_id AS doc_a, cb.doc_id AS doc_b
      FROM cell ca JOIN cell cb
        ON ca.cell = cb.cell AND ca.doc_id < cb.doc_id
    ),
    dots AS (
      SELECT p.doc_a, p.doc_b, CAST(SUM(x.v * y.v) AS BIGINT) AS dot
      FROM pairs p
      JOIN c x ON x.doc_id = p.doc_a
      JOIN c y ON y.doc_id = p.doc_b AND y.b = x.b
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT d.doc_a, d.doc_b, d.dot,
           CAST(d.dot AS DOUBLE) / sqrt(CAST(sa.n2 * sb.n2 AS DOUBLE))
             AS cosine
    FROM dots d
    JOIN stats sa ON sa.doc_id = d.doc_a
    JOIN stats sb ON sb.doc_id = d.doc_b
    WHERE d.dot > 0 AND 10000 * d.dot * d.dot >= 8100 * sa.n2 * sb.n2
    """,
)
def s15_hashed_semantic_pairs(spark, sf_dir):
    # text -> hashing-trick vectors -> blocked exact-integer cosine
    # pairs (operators/similarity.py::hashed_semantic_pairs).
    from era_parser_spark.operators.similarity import hashed_semantic_pairs

    docs = table(spark, sf_dir, "documents")
    return hashed_semantic_pairs(docs, "doc_id", "text", dim=64, min_cos=0.9)


def kmeans_lloyd_ctes(
    k: int,
    iters: int,
    quant: int,
    dim: int = 64,
    cent0_sql: str | None = None,
    extra_ctes: list[str] | None = None,
    ex_sql: str | None = None,
) -> str:
    """CTE chain replaying kmeans_lloyd's exact integer model in DuckDB:
    quantize -> init on the k smallest ids -> ``iters`` Lloyd updates
    (floor-division means via the positive-mod identity, because DuckDB
    ``//`` truncates toward zero while the engine floors) -> final
    assignment ``a_fin(vec_id, cid, d2)`` vs the post-update centroids.
    Ties in the argmin break to the smallest cid (ORDER BY d2, cid) on
    both sides; empty clusters drop out of the GROUP BY on both sides.
    Also defines ``ex`` (long-format quantized values) and ``qv`` for
    downstream CTEs (dd18 reuses them for the pair check).  ``cent0_sql``
    overrides the init: a SELECT producing (cid, dim, c) — s18 feeds the
    k-center seeds through it (the engine's init='kcenter').  ``ex_sql``
    replaces the embeddings-table quantization entirely: a SELECT
    producing the DENSE long format (vec_id, dim, v) — p19 feeds hashed
    text embeddings through it."""
    if ex_sql is None:
        parts = [
            f"""qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {quant}) AS BIGINT)) AS q
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    )""",
            """ex AS (
      SELECT vec_id, CAST(i AS INTEGER) AS dim, q[CAST(i + 1 AS INTEGER)] AS v
      FROM qv, unnest(range(0, len(q))) AS u(i)
    )""",
        ]
    else:
        parts = [f"ex AS ({ex_sql})"]
    if extra_ctes:
        parts.extend(extra_ctes)
    if cent0_sql is None:
        parts.append(
            f"""init AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid
      FROM (SELECT DISTINCT vec_id FROM ex ORDER BY vec_id LIMIT {k})
    )"""
        )
        parts.append(
            """cent_0 AS (
      SELECT init.cid, ex.dim, CAST(ex.v AS BIGINT) AS c
      FROM init JOIN ex USING (vec_id)
    )"""
        )
    else:
        parts.append(f"cent_0 AS ({cent0_sql})")
    for i in range(iters):
        parts.append(
            f"""d_{i} AS (
      SELECT ex.vec_id, c.cid, sum((ex.v - c.c) * (ex.v - c.c)) AS d2
      FROM ex JOIN cent_{i} c USING (dim) GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""a_{i} AS (
      SELECT vec_id, cid FROM (
        SELECT d_{i}.*, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cid) AS rn
        FROM d_{i}
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""cent_{i + 1} AS (
      SELECT a.cid, ex.dim,
             CAST((sum(ex.v) - (((sum(ex.v) % count(*)) + count(*)) % count(*)))
                  // count(*) AS BIGINT) AS c
      FROM a_{i} a JOIN ex USING (vec_id) GROUP BY 1, 2
    )"""
        )
    parts.append(
        f"""d_fin AS (
      SELECT ex.vec_id, c.cid, sum((ex.v - c.c) * (ex.v - c.c)) AS d2
      FROM ex JOIN cent_{iters} c USING (dim) GROUP BY 1, 2
    )"""
    )
    parts.append(
        """a_fin AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT d_fin.*, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d2, cid) AS rn
        FROM d_fin
      ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


@register(
    "s16_kmeans_lloyd",
    # The WHOLE TRAINED MODEL is oracle-exact: init on the 8 smallest ids,
    # two Lloyd updates with integer floor-division centroid means, final
    # assignment with exact int64 squared distances.  No float ever enters
    # the model, so DuckDB replays training bit-for-bit.
    oracle=f"""
    WITH {kmeans_lloyd_ctes(k=8, iters=2, quant=1_000_000)}
    SELECT vec_id, cid AS cluster, CAST(d2 AS BIGINT) AS dist_sq
    FROM a_fin
    """,
)
def s16_kmeans_lloyd(spark, sf_dir):
    # Distributed exact Lloyd's k-means over the full embeddings corpus
    # (operators/similarity.py::kmeans_lloyd): broadcast centroids +
    # Arrow-batched int64 argmin for assignment, one map-side-combined
    # (cluster, dim) partial-sum shuffle per update — the corpus never
    # shuffles, only k*dim-row partials do.
    from era_parser_spark.operators.similarity import kmeans_lloyd

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(
        emb, "vec_id", "embedding", k=8, iters=2, quant=1_000_000, dim=64
    )


def kcenter_select_ctes(k: int) -> list[str]:
    """The Gonzalez selection replayed as chained CTEs over qv/ex
    (kmeans_lloyd_ctes' quantization fragments): cen_0 = smallest id;
    round r computes every point's min distance to cen_{r-1} and appends
    the argmax under (mind DESC, vec_id ASC); ``cen_fin`` is the DISTINCT
    selected set.  Shared by s17 and s18's init.  The cen_{r} are
    MATERIALIZED: md_{r+1} and cen_{r+1} both read cen_{r}, so inlined
    (DuckDB's default) the chain re-expands exponentially in k."""
    parts = [
        """cen_0 AS MATERIALIZED (
      SELECT vec_id FROM qv ORDER BY vec_id LIMIT 1
    )"""
    ]
    for r in range(1, k):
        parts.append(
            f"""md_{r} AS (
      SELECT vec_id, min(d2) AS mind FROM (
        SELECT a.vec_id, sum((a.v - b.v) * (a.v - b.v)) AS d2
        FROM ex a
        JOIN cen_{r - 1} c ON true
        JOIN ex b ON b.vec_id = c.vec_id AND b.dim = a.dim
        GROUP BY a.vec_id, c.vec_id
      ) GROUP BY vec_id
    )"""
        )
        parts.append(
            f"""cen_{r} AS MATERIALIZED (
      SELECT vec_id FROM cen_{r - 1}
      UNION ALL
      SELECT vec_id FROM (SELECT vec_id FROM md_{r}
                          ORDER BY mind DESC, vec_id LIMIT 1)
    )"""
        )
    parts.append(f"""cen_fin AS (SELECT DISTINCT vec_id FROM cen_{k - 1})""")
    return parts


def _s17_oracle(k: int = 8, quant: int = 1_000_000) -> str:
    """kcenter_select_ctes + the final nearest-center assignment (ties on
    (d2, center_id)).  Reuses kmeans_lloyd_ctes' qv/ex quantization
    fragments (iters=0 keeps the Lloyd chain unused beyond them — DuckDB
    prunes unreferenced CTEs)."""
    parts = kcenter_select_ctes(k)
    parts.append(
        """ad AS (
      SELECT a.vec_id, c.vec_id AS center_id,
             sum((a.v - b.v) * (a.v - b.v)) AS d2
      FROM ex a
      JOIN cen_fin c ON true
      JOIN ex b ON b.vec_id = c.vec_id AND b.dim = a.dim
      GROUP BY a.vec_id, c.vec_id
    )"""
    )
    chain = ",\n    ".join(parts)
    return f"""
    WITH {kmeans_lloyd_ctes(k=1, iters=0, quant=quant)},
    {chain}
    SELECT vec_id, center_id, CAST(d2 AS BIGINT) AS d2,
           vec_id IN (SELECT vec_id FROM cen_fin) AS selected
    FROM (
      SELECT ad.*, row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, center_id) AS rn
      FROM ad
    ) WHERE rn = 1
    """


@register("s17_kcenter_greedy", oracle=_s17_oracle())
def s17_kcenter_greedy(spark, sf_dir):
    # Gonzalez farthest-point coreset selection with the whole sequential
    # greedy replayed exactly in SQL (operators/similarity.py::
    # kcenter_greedy): k-1 broadcast-center numpy rounds, one candidate
    # row per batch, corpus never shuffles.
    from era_parser_spark.operators.similarity import kcenter_greedy

    emb = table(spark, sf_dir, "embeddings")
    return kcenter_greedy(emb, "vec_id", "embedding", k=8, quant=1_000_000, dim=64)


def _s18_oracle(k: int = 8, iters: int = 2, quant: int = 1_000_000) -> str:
    """kcenter seeds -> Lloyd: the s17 selection chain feeds cent_0
    (cluster index = dense_rank of the seed's vec_id over cen_fin — the
    engine's sorted-distinct-seed convention), then the standard Lloyd
    chain runs unchanged."""
    cent0 = """
      SELECT CAST(dense_rank() OVER (ORDER BY c.vec_id) - 1 AS INTEGER)
               AS cid,
             ex.dim, CAST(ex.v AS BIGINT) AS c
      FROM cen_fin c JOIN ex USING (vec_id)
    """
    return f"""
    WITH {kmeans_lloyd_ctes(k=k, iters=iters, quant=quant,
                            cent0_sql=cent0,
                            extra_ctes=kcenter_select_ctes(k))}
    SELECT vec_id, cid AS cluster, CAST(d2 AS BIGINT) AS dist_sq
    FROM a_fin
    """


@register("s18_kmeans_kcenter_init", oracle=_s18_oracle())
def s18_kmeans_kcenter_init(spark, sf_dir):
    """Lloyd's k-means seeded by Gonzalez farthest-point selection — the
    deterministic k-means++ stand-in (D^2 sampling's RNG replaced by
    s17's exact argmax rule), so the composed TRAINED pipeline
    seed-selection -> 2 Lloyd updates -> assignment stays bit-checkable
    end to end.  Same engine machinery as s16 with init='kcenter'."""
    from era_parser_spark.operators.similarity import kmeans_lloyd

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(
        emb, "vec_id", "embedding", k=8, iters=2, quant=1_000_000, dim=64,
        init="kcenter",
    )
