"""Round-7 operator tests.

Clone-safe fuzzy_dedup (the round-6 verdict's #1 item): the exact-verify
default now collapses bit-identical texts before shingling and re-attaches
them to their representative's cluster — EXACT semantics (identical text
=> Jaccard 1 >= any threshold), pinned here by a differential against the
uncollapsed plan on a corpus with exact-duplicate groups.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _clone_corpus(spark):
    """Near-dups + exact-clone groups + short docs (the divergence traps)."""
    base_a = "the quick brown fox jumps over the lazy dog again and again " * 3
    base_b = base_a.replace("lazy", "sleepy")          # near-dup of A
    other = "completely different content about spark catalyst optimizer rules " * 3
    rows = []
    # clone group 1: ids 10,11,12,13 share base_a; 20 is a near-dup of it
    for i in (10, 11, 12, 13):
        rows.append((i, base_a))
    rows.append((20, base_b))
    # clone group 2: ids 30,31 share `other`
    rows.append((30, other))
    rows.append((31, other))
    # singletons
    rows.append((40, "unrelated text mentioning neither corpus nor catalyst topics here"))
    # short docs (< 3 tokens): identical pairs must STAY separate
    rows.append((50, "tiny doc"))
    rows.append((51, "tiny doc"))
    rows.append((52, ""))
    rows.append((53, None))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("verify", ["exact", "estimate"])
def test_fuzzy_dedup_collapse_is_output_identical(spark, verify):
    """The clone-safe default must produce the SAME output frame (same
    keepers, same clusters, same sizes) as the uncollapsed round-6 plan
    (inverted-index verification over every document, then CC)."""
    from era_parser_spark.operators.dedup import fuzzy_dedup
    from tests.conftest import uncollapsed_fuzzy_dedup

    docs = _clone_corpus(spark)
    fast = fuzzy_dedup(docs, "doc_id", "text", threshold=0.5, verify=verify)
    f = sorted(tuple(r) for r in fast.collect())
    s = uncollapsed_fuzzy_dedup(docs, threshold=0.5)
    assert f == s and len(f) == docs.count()


def test_bounded_exact_pairs_match_index_plan(spark):
    """lsh_exact_pairs_bounded must emit the same (pair, inter, union_sz,
    jaccard) rows as the inverted-index plan — identical verification
    semantics, different physical shape — on real corpus data."""
    from era_parser_spark.operators.dedup import (
        lsh_exact_pairs_bounded,
        minhash_lsh_dedup_pairs,
    )
    from era_parser_spark.queries.registry import table

    docs = table(spark, "/root/testdata/sf0.01", "documents")
    bounded = sorted(
        tuple(r)
        for r in lsh_exact_pairs_bounded(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    )
    index = sorted(
        tuple(r)
        for r in minhash_lsh_dedup_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    )
    assert bounded == index and len(bounded) > 0


def test_fuzzy_dedup_clone_semantics(spark):
    """Direct semantic pins: clones cluster to min id; near-dup joins the
    clone cluster; identical sub-shingle docs stay singletons."""
    from era_parser_spark.operators.dedup import fuzzy_dedup

    docs = _clone_corpus(spark)
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_sz"], r["kept"])
        for r in fuzzy_dedup(docs, "doc_id", "text", threshold=0.5).collect()
    }
    # group 1 + its near-dup: one cluster of 5, min id 10 kept
    for i in (10, 11, 12, 13, 20):
        assert out[i] == (10, 5, i == 10), (i, out[i])
    # group 2: cluster of 2, min id 30 kept
    assert out[30] == (30, 2, True) and out[31] == (30, 2, False)
    # singleton
    assert out[40] == (40, 1, True)
    # short identical docs: NO shingles => separate singletons (exactly
    # like the uncollapsed plan — the collapse must not merge them)
    for i in (50, 51, 52, 53):
        assert out[i] == (i, 1, True), (i, out[i])


def _pq_fixture(spark):
    """A PQ-representable corpus: each vector concatenates one of 16
    prototypes per subspace (+ small noise), and the 16 stride-seed ids
    (0,25,..,375) hold vectors whose subspace j uses prototype (s+j)%16 —
    gcd-style coverage, so every subspace codebook spans all 16
    prototypes.  This is the regime PQ exists for; on near-uniform random
    data 4x16 quantization is inherently coarse (measured 1-3/10 vs brute
    on the sf0.01 embeddings — documented, not a defect)."""
    import numpy as np

    rng = np.random.default_rng(7)
    m, d, K = 4, 16, 16
    protos = rng.normal(size=(m, K, d))
    rows = []
    for s in range(16):
        v = np.concatenate([protos[j, (s + j) % K] for j in range(m)])
        rows.append((s * 25, [float(x) for x in v]))
    nid = 400
    for _ in range(480):
        combo = rng.integers(0, K, size=m)
        v = np.concatenate(
            [protos[j, combo[j]] for j in range(m)]
        ) + rng.normal(scale=0.05, size=m * d)
        if nid % 25 == 0:
            nid += 1
        rows.append((nid, [float(x) for x in v]))
        nid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_pq_recall_vs_brute_force(spark):
    """recall@10 of the IVF-PQ ADC search vs the s1 brute-force baseline
    on the PQ-representable fixture.  Measured curve at nprobe=5: 9/7/6
    across the three queries (mean 0.73); pinned bounds leave noise room.
    The query vector itself must always be retrieved (its ADC distance is
    the distance to its own code centers — minimal by construction)."""
    from era_parser_spark.operators.similarity import cosine_topk, ivf_pq_topk

    emb = _pq_fixture(spark)
    recalls = []
    for qid in (405, 488, 696):
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        brute = [
            r.vec_id
            for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()
        ]
        approx = [
            r.vec_id
            for r in ivf_pq_topk(
                emb, "embedding", "vec_id", q, dim=64, k=10, nprobe=5
            ).collect()
        ]
        assert qid in approx, f"self not retrieved for {qid}"
        recalls.append(len(set(brute) & set(approx)))
    mean = sum(recalls) / (10 * len(recalls))
    print(f"ivf-pq recall@10: {recalls} mean={mean:.2f}")
    assert mean >= 0.55, recalls
    assert min(recalls) >= 4, recalls


def test_ivf_pq_results_come_from_probed_cells(spark):
    """Composition invariant on the real corpus: every returned id must
    belong to one of the nprobe probed IVF cells (the ADC ranking can
    only reorder the probed candidates, never escape them)."""
    from era_parser_spark.operators.similarity import (
        centroid_table,
        ivf_assign,
        ivf_pq_topk,
        lit_vector,
        sq_l2_expr,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    out = [
        r.vec_id
        for r in ivf_pq_topk(
            emb, "embedding", "vec_id", q, dim=64, k=10, nprobe=3
        ).collect()
    ]
    assert len(out) == 10 and 0 in out
    cents = centroid_table(emb, "embedding", "vec_id", 25, 64)
    probe = {
        r.centroid_id
        for r in cents.select(
            "centroid_id", sq_l2_expr(F.col("cvec"), lit_vector(q)).alias("d")
        )
        .orderBy("d", "centroid_id")
        .limit(3)
        .collect()
    }
    cell = {
        r.vec_id: r.centroid_id
        for r in ivf_assign(emb, "embedding", "vec_id", cents).collect()
    }
    assert all(cell[i] in probe for i in out), (out, probe)


def test_fuzzy_dedup_collapsed_plan_never_shingles_clones(spark):
    """The whole point: with collapse on, the pair/verify tier sees one
    row per DISTINCT text.  Pin it via the signature frame row count
    observable — minhash signatures are built from rep docs only, so a
    corpus of k clones produces 1 signature, not k.  (Cheap proxy: the
    collapsed pipeline on a pure-clone corpus must produce exactly one
    non-singleton cluster with zero LSH self-pairs — and doc_shingles
    over the rep frame has rows for one doc only.)"""
    from era_parser_spark.operators.dedup import fuzzy_dedup

    text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = spark.createDataFrame(
        [(i, text) for i in range(64)], "doc_id long, text string"
    )
    out = fuzzy_dedup(docs, "doc_id", "text", threshold=0.5)
    rows = out.collect()
    assert len(rows) == 64
    assert all(r["cluster_id"] == 0 and r["cluster_sz"] == 64 for r in rows)
    assert sum(r["kept"] for r in rows) == 1


def test_quality_classifier_separable_fixture(spark):
    """t19's gate: on a separable corpus (good docs use vocab A, bad docs
    vocab B, shared filler everywhere), the trained fixed-point model
    classifies HELD-OUT docs perfectly, and the weights have the right
    sign structure (good-vocab tokens positive, bad-vocab negative)."""
    from era_parser_spark.operators.text import quality_score, train_quality_model

    filler = "the of and to in for on"
    rows = []
    for i in range(40):
        good = i % 2 == 0
        vocab = (
            f"insight analysis rigorous method cite{i % 5} evidence"
            if good
            else f"click buy cheap spam winner{i % 5} free"
        )
        rows.append((i, f"{filler} {vocab} {filler}", good))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    train = docs.filter(F.col("doc_id") < 30)
    test = docs.filter(F.col("doc_id") >= 30)
    model = train_quality_model(train, "text", "label")
    w = {r["tok"]: r["w"] for r in model.collect()}
    assert w["insight"] > 0 and w["rigorous"] > 0
    assert w["click"] < 0 and w["spam"] < 0

    out = {
        r["doc_id"]: (r["quality_score"], r["is_good"])
        for r in quality_score(model, test, "doc_id", "text").collect()
    }
    assert len(out) == 10
    for i, (score, is_good) in out.items():
        want = i % 2 == 0
        assert is_good == want and (score > 0) == want, (i, score)

    # a doc with no in-vocabulary tokens scores 0 / not good
    odd = spark.createDataFrame([(99, "zzz qqq")], "doc_id long, text string")
    r = quality_score(model, odd, "doc_id", "text").first()
    assert r["quality_score"] == 0 and r["is_good"] is False


def test_bigram_lm_split_fluent_beats_shuffled_heldout(spark):
    """t17b's gate: with the model FIT on a reference slice, a fluent
    HELD-OUT doc (typical transitions) outscores a shuffled-token doc of
    the same vocabulary — and neither scored doc's own transitions are in
    the model (the self-reference the split removes)."""
    from era_parser_spark.operators.text import bigram_lm_score, bigram_lm_score_split

    sent = "the quick brown fox jumps over the lazy dog"
    fit_rows = [(i, sent) for i in range(20)]  # reference: fluent corpus
    fluent = (100, sent)
    shuffled = (101, "dog the over quick lazy jumps fox brown the")
    fit = spark.createDataFrame(fit_rows, "doc_id long, text string")
    score = spark.createDataFrame([fluent, shuffled], "doc_id long, text string")
    out = {
        r["doc_id"]: r["mean_prob"]
        for r in bigram_lm_score_split(fit, score, "doc_id", "text").collect()
    }
    assert out[100] > out[101], out

    # self-reference check: in the ONE-frame form a shuffled doc scores
    # itself (its own transitions are in the corpus counts); under the
    # split the same doc's unseen transitions contribute nothing
    both = fit.unionByName(score)
    one_frame = {
        r["doc_id"]: r["q_prob_sum"]
        for r in bigram_lm_score(both, "doc_id", "text").collect()
    }
    split_form = {
        r["doc_id"]: r["q_prob_sum"]
        for r in bigram_lm_score_split(fit, score, "doc_id", "text").collect()
    }
    assert one_frame[101] > 0 and split_form[101] < one_frame[101]


def test_tfidf_bounded_exact_scores_and_recall_contract(spark):
    """dd13b's two claims: (1) for pairs it finds, the cosine is the TRUE
    ungated TF-IDF cosine (viral terms included — where guarded dd13
    reports only a lower bound); (2) the recall contract is exactly
    'shares >= 1 rare term': rare-term pairs are found, viral-only pairs
    are not."""
    from era_parser_spark.operators.dedup import (
        tfidf_cosine_pairs,
        tfidf_pairs_bounded,
    )

    viral = "the common boilerplate header everyone shares " * 3
    rows = [
        (1, f"{viral} uniq_ab research alpha"),
        (2, f"{viral} uniq_ab research beta"),   # pair (1,2): rare uniq_ab
        (3, f"{viral} uniq_cd method gamma"),
        (4, f"{viral} uniq_cd method delta"),    # pair (3,4): rare uniq_cd
        (5, f"{viral} solo epsilon zeta"),       # viral-only overlaps
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # every term in <= 5 docs here, so rare cutoff 2 isolates uniq_* terms
    bounded = {
        (r["doc_a"], r["doc_b"]): (r["dot"], r["cosine"])
        for r in tfidf_pairs_bounded(
            docs, "doc_id", "text", threshold=0.0, max_df_candidates=2
        ).collect()
    }
    assert set(bounded) == {(1, 2), (3, 4)}  # recall contract

    # true (ungated) cosines for comparison
    true_pairs = {
        (r["doc_a"], r["doc_b"]): (r["dot"], r["cosine"])
        for r in tfidf_cosine_pairs(
            docs, "doc_id", "text", top_pairs=100, max_doc_freq=None
        ).collect()
    }
    for pair, (dot, cosine) in bounded.items():
        assert true_pairs[pair] == (dot, cosine), pair

    # guarded dd13 at the same cutoff understates the same pairs (its dot
    # drops the viral terms) — the deficiency dd13b exists to fix
    guarded = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(
            docs, "doc_id", "text", top_pairs=100, max_doc_freq=2
        ).collect()
    }
    for pair in bounded:
        assert guarded[pair] < bounded[pair][1], pair


def test_pq_kmeans_trainer_beats_pathological_stride_seeds(spark):
    """trainer='kmeans' for the PQ codebook (per-subspace Spark ML fits):
    deterministic for a fixed seed, and on a corpus whose stride-seed ids
    all fall in ONE cluster (so the stride codebook can't span the data)
    the trained codebook recovers the recall the stride path loses."""
    import numpy as np

    from era_parser_spark.operators.similarity import cosine_topk, ivf_pq_topk

    rng = np.random.default_rng(11)
    m, d, K = 4, 16, 16
    protos = rng.normal(size=(m, K, d))
    rows = []
    # ids 0,25,..,375 (the stride seeds) are all tiny variations of ONE
    # prototype combo — a degenerate codebook for the stride trainer
    combo0 = [0, 0, 0, 0]
    for s in range(16):
        v = np.concatenate(
            [protos[j, combo0[j]] for j in range(m)]
        ) + rng.normal(scale=0.01, size=m * d)
        rows.append((s * 25, [float(x) for x in v]))
    nid = 400
    for _ in range(480):
        combo = rng.integers(0, K, size=m)
        v = np.concatenate(
            [protos[j, combo[j]] for j in range(m)]
        ) + rng.normal(scale=0.05, size=m * d)
        if nid % 25 == 0:
            nid += 1
        rows.append((nid, [float(x) for x in v]))
        nid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    recalls = {"stride": [], "kmeans": []}
    for qid in (405, 488, 696):
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        brute = [
            r.vec_id
            for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()
        ]
        for trainer in ("stride", "kmeans"):
            approx = [
                r.vec_id
                for r in ivf_pq_topk(
                    emb, "embedding", "vec_id", q, dim=64, k=10, nprobe=5,
                    trainer=trainer,
                ).collect()
            ]
            recalls[trainer].append(len(set(brute) & set(approx)))
    s_mean = sum(recalls["stride"]) / 30
    k_mean = sum(recalls["kmeans"]) / 30
    print(f"pq recall stride={recalls['stride']} kmeans={recalls['kmeans']}")
    assert k_mean > s_mean, (recalls)
    assert k_mean >= 0.5, recalls


def test_ivf_pq_residual_beats_raw_on_clustered_data(spark):
    """IVFADC residual encoding (s11b): on a corpus of tight clusters
    around the coarse centroids — the regime residuals exist for — the
    same m x n_codes budget quantizes the small offsets finely, while
    raw-vector PQ burns its codes on cluster locations.  Measured:
    residual 9/9/10 vs plain 5/8/10 (pinned with slack).  Ids: %25==0
    hold the centroids, %25==1 the offset-covering codebook seeds."""
    import numpy as np

    from era_parser_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_residual_topk,
        ivf_pq_topk,
    )

    rng = np.random.default_rng(13)
    m, d, K, ncent = 4, 16, 16, 64
    cents = rng.normal(scale=5.0, size=(ncent, 64))
    offsets = rng.normal(scale=0.4, size=(m, K, d))
    rows = []
    for c in range(ncent):
        rows.append((c * 25, [float(x) for x in cents[c]]))
    for s in range(16):
        v = cents[s % ncent] + np.concatenate(
            [offsets[j, (s + j) % K] for j in range(m)]
        )
        rows.append((s * 25 + 1, [float(x) for x in v]))
    nid = 1601
    for _ in range(800):
        c = rng.integers(0, ncent)
        combo = rng.integers(0, K, size=m)
        v = cents[c] + np.concatenate(
            [offsets[j, combo[j]] for j in range(m)]
        ) + rng.normal(scale=0.03, size=64)
        while nid % 25 in (0, 1):
            nid += 1
        rows.append((nid, [float(x) for x in v]))
        nid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    totals = {"plain": 0, "residual": 0}
    for qid in (1612, 1840, 2274):
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        brute = {
            r.vec_id
            for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()
        }
        plain = {
            r.vec_id
            for r in ivf_pq_topk(
                emb, "embedding", "vec_id", q, dim=64, k=10, nprobe=5
            ).collect()
        }
        res = {
            r.vec_id
            for r in ivf_pq_residual_topk(
                emb, "embedding", "vec_id", q, dim=64, k=10, nprobe=5
            ).collect()
        }
        assert qid in res
        totals["plain"] += len(brute & plain)
        totals["residual"] += len(brute & res)
    print(f"ivf-pq clustered recall totals: {totals}")
    assert totals["residual"] >= totals["plain"]
    assert totals["residual"] >= 24  # measured 28/30; slack for noise


def test_ivf_pq_rerank_dominates_plain_adc(spark):
    """IVFADC+R on the regime it exists for: near-uniform data where 4x16
    codes are inherently coarse (the sf0.01 embeddings — plain ADC recall
    1-3/10 per _pq_fixture's docstring).  The re-rank replaces the
    approximate distances with exact squared L2 over the probed cells'
    shortlist, so vs the exact-L2 brute force it can only improve on
    plain ADC, and its recall is capped by the probe ceiling (true
    neighbors living in unprobed cells are unreachable).  Measured:
    plain 3/2/2, rerank 6/4/4, ceiling 8/4/4 across queries 0/7/13 —
    re-rank DOUBLES recall and hits the ceiling on two of three."""
    from era_parser_spark.operators.similarity import (
        centroid_table,
        ivf_assign,
        ivf_pq_rerank_topk,
        ivf_pq_topk,
        lit_vector,
        sq_l2_expr,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = centroid_table(emb, "embedding", "vec_id", 25, 64)
    totals = {"plain": 0, "rerank": 0, "ceiling": 0}
    for qid in (0, 7, 13):
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        brute = [
            r.vec_id
            for r in emb.select(
                "vec_id",
                sq_l2_expr(
                    F.col("embedding").cast("array<double>"), lit_vector(q)
                ).alias("d"),
            )
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        ]
        plain = {
            r.vec_id
            for r in ivf_pq_topk(
                emb, "embedding", "vec_id", q, dim=64, k=10, nprobe=3
            ).collect()
        }
        rer = ivf_pq_rerank_topk(
            emb, "embedding", "vec_id", q, dim=64, k=10, shortlist=40, nprobe=3
        ).collect()
        ids = {r.vec_id for r in rer}
        assert qid in ids
        # exact_dist of the query itself is 0 and must sort first
        assert rer[0].vec_id == qid and rer[0].exact_dist == 0.0
        # exact distances are ascending
        ds = [r.exact_dist for r in rer]
        assert ds == sorted(ds)
        probe = {
            r.centroid_id
            for r in cents.select(
                "centroid_id",
                sq_l2_expr(F.col("cvec"), lit_vector(q)).alias("d"),
            )
            .orderBy("d", "centroid_id")
            .limit(3)
            .collect()
        }
        cells = {
            r.vec_id: r.centroid_id
            for r in ivf_assign(
                emb.filter(F.col("vec_id").isin(brute)),
                "embedding",
                "vec_id",
                cents,
            ).collect()
        }
        totals["plain"] += len(set(brute) & plain)
        totals["rerank"] += len(set(brute) & ids)
        totals["ceiling"] += sum(1 for i in brute if cells[i] in probe)
    print(f"ivf-pq rerank recall totals (vs exact-L2 brute): {totals}")
    assert totals["rerank"] >= totals["plain"] + 5  # measured 14 vs 7
    assert totals["rerank"] >= 12
    assert totals["rerank"] <= totals["ceiling"]  # can't escape the probe


def test_gopher_rules_each_rule_binds(spark):
    """Per-rule separable fixture: one document passes every Gopher rule;
    each other document violates exactly one rule (word count, mean word
    length, symbol ratio, bullet lines, ellipsis lines, alpha fraction,
    stopwords) and must be rejected with the matching metric out of
    bounds."""
    from era_parser_spark.operators.text import gopher_quality_flags

    good = ("the cast with that done have gone to be sure of it and more "
            "word flow here " * 4)
    rows = [
        (0, good),
        (1, "the to of and"),                               # too few words
        (2, ("a b c d e f g h i j the to " * 10)),          # mean len < 3
        (3, good + " " + "#tag " * 30),                     # symbol ratio
        (4, good + ("\n- b" * 60)),                         # bullet lines
        (5, good + ("\nto go on..." * 30)),                 # ellipsis lines
        (6, good + " " + "123 456 " * 40),                  # alpha frac
        (7, ("spark table rows " * 20)),                    # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in gopher_quality_flags(
            df, "doc_id", "text", min_words=20
        ).collect()
    }
    assert out[0].gopher_keep, out[0]
    for i in range(1, 8):
        assert not out[i].gopher_keep, out[i]
    assert out[1].n_words < 20
    assert out[2].mean_word_len < 3.0
    assert out[3].symbol_word_ratio > 0.1
    assert out[4].bullet_line_frac > 0.9
    assert out[5].ellipsis_line_frac > 0.3
    assert out[6].alpha_word_frac < 0.8
    assert out[7].n_required_stopwords < 2


def test_weighted_sample_aes_semantics(spark):
    """A-ES weighted sampling: heavy-weight rows dominate the sample
    (P[u^(1/1024) beats a uniform] ~ 1), zero/negative weights can never
    be drawn, and the weight class is the exact floor(log2(w)) with the
    max_class clamp."""
    from era_parser_spark.operators.curation import weighted_sample

    rows = [(i, 1) for i in range(900)]
    rows += [(1000 + i, 1024) for i in range(100)]
    rows += [(2000, 0), (2001, 0)]          # never drawn
    df = spark.createDataFrame(rows, "id long, w long")
    out = weighted_sample(df, "id", "w", n=50).collect()
    assert len(out) == 50
    heavy = sum(1 for r in out if r.id >= 1000)
    assert heavy >= 45, heavy               # weight-1024 docs dominate
    assert all(r.id < 2000 for r in out)    # zero-weight excluded
    by_id = {r.id: r for r in out}
    for r in out:
        assert r.weight_class == (0 if r.weight == 1 else 10)
    # keys are valid probability powers in (0, 1]
    assert all(0.0 < r.sample_key <= 1.0 for r in out)
    # clamp: a 2^25 weight lands in class 20
    big = spark.createDataFrame([(1, 1 << 25)], "id long, w long")
    assert weighted_sample(big, "id", "w", n=1).first().weight_class == 20


def test_weighted_sample_deterministic_and_sorted(spark):
    """Same inputs => same sample regardless of partitioning, and the
    selection is the global top-n by key (ties impossible in practice,
    broken by id)."""
    from era_parser_spark.operators.curation import weighted_sample

    rows = [(i, (i % 7) + 1) for i in range(500)]
    a = spark.createDataFrame(rows, "id long, w long")
    b = spark.createDataFrame(rows, "id long, w long").repartition(13)
    sa = sorted(tuple(r) for r in weighted_sample(a, "id", "w", 40).collect())
    sb = sorted(tuple(r) for r in weighted_sample(b, "id", "w", 40).collect())
    assert sa == sb and len(sa) == 40


def test_perplexity_buckets_fluent_head_garbage_tail(spark):
    """CCNet bucket semantics: fluent held-out docs (bigrams seen in the
    reference fit) land in 'head'; scrambled/unseen-bigram docs land in
    'tail'; a language absent from the threshold sample falls to 'tail'
    (NULL thresholds)."""
    from era_parser_spark.operators.text import perplexity_buckets

    fluent = "the cat sat on the mat and the dog ran to the cat"
    fit = [(i * 2, fluent, "en") for i in range(10)]
    # target ids chosen so id%5==1 sampling sees both classes:
    # fluent: 1, 11, 21, 31 (1%5==1, 11%5==1 ...)
    targets = [(i, fluent, "en") for i in (1, 11, 21, 31)]
    # garbage: reversed word salad, unseen bigrams -> mean_prob 0
    targets += [(i, "mat cat ran dog zzz qqq xyz abc", "en") for i in (3, 13, 23, 33)]
    # unsampled language (no id % 5 == 1): NULL thresholds -> tail
    targets += [(5, fluent, "xx"), (7, fluent, "xx")]
    df = spark.createDataFrame(fit + targets, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r.bucket
        for r in perplexity_buckets(
            df.filter(F.col("doc_id") % 2 == 0),
            df.filter(F.col("doc_id") % 2 == 1),
            "doc_id",
            "text",
            "lang",
        ).collect()
    }
    for i in (1, 11, 21, 31):
        assert out[i] == "head", (i, out[i])
    for i in (3, 13, 23, 33):
        assert out[i] == "tail", (i, out[i])
    for i in (5, 7):
        assert out[i] == "tail", (i, out[i])


def test_band_pair_state_across_microbatches(spark, tmp_path_factory):
    """st9's per-bucket state must survive micro-batch boundaries: a
    near-dup arriving in a LATER batch pairs with the resident from the
    first batch, the pair set over any split equals the single-batch
    (= batch self-join) answer, and the viral-bucket cap stops emission
    without corrupting earlier pairs."""
    import uuid as _uuid

    from era_parser_spark.operators.dedup import row_band_buckets
    from era_parser_spark.streaming.incremental import (
        band_pair_monitor,
        run_stream_once,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark catalyst optimizer " * 3

    def bucket_rows(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return df.select(
            "doc_id", F.explode(row_band_buckets("text")).alias("bb")
        ).select("doc_id", "bb.band", "bb.bucket")

    src = tmp_path_factory.mktemp("st9_src")
    bucket_rows([(1, base), (50, other)]).coalesce(1).write.parquet(
        str(src / "a_batch1")
    )
    bucket_rows([(2, near), (3, base)]).coalesce(1).write.parquet(
        str(src / "b_batch2")
    )
    stream = (
        spark.readStream.schema("doc_id long, band int, bucket long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(
        band_pair_monitor(stream), f"st9t_{_uuid.uuid4().hex[:8]}"
    )
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    # cross-batch pair (1 from batch1, 2/3 from batch2) + intra-batch pair
    assert pairs == {(1, 2), (1, 3), (2, 3)}, pairs

    # single-batch run emits the same pair set (split-invariance)
    src2 = tmp_path_factory.mktemp("st9_src_one")
    bucket_rows([(1, base), (50, other), (2, near), (3, base)]).coalesce(
        1
    ).write.parquet(str(src2 / "only"))
    stream2 = (
        spark.readStream.schema("doc_id long, band int, bucket long")
        .parquet(f"{src2}/*")
    )
    out2 = run_stream_once(
        band_pair_monitor(stream2), f"st9u_{_uuid.uuid4().hex[:8]}"
    )
    assert {(r.doc_a, r.doc_b) for r in out2.collect()} == pairs

    # viral-bucket cap: max_bucket=2 stops emission after 2 residents
    src3 = tmp_path_factory.mktemp("st9_src_cap")
    bucket_rows([(i, base) for i in range(1, 6)]).coalesce(1).write.parquet(
        str(src3 / "only")
    )
    stream3 = (
        spark.readStream.schema("doc_id long, band int, bucket long")
        .parquet(f"{src3}/*")
    )
    out3 = run_stream_once(
        band_pair_monitor(stream3, max_bucket=2), f"st9v_{_uuid.uuid4().hex[:8]}"
    )
    capped = {(r.doc_a, r.doc_b) for r in out3.collect()}
    assert (1, 2) in capped and len(capped) < 10  # full clique would be 10


def test_mmr_breaks_up_near_dup_cluster(spark):
    """MMR's reason to exist: when a near-dup cluster dominates relevance,
    plain top-k returns the whole cluster; MMR keeps one representative
    and fills the rest with diverse results.  Rank 1 is always the plain
    argmax, and with lam=1.0 MMR degenerates to plain top-k order."""
    import numpy as np

    from era_parser_spark.operators.similarity import mmr_topk

    rng = np.random.default_rng(11)
    q = rng.normal(size=32)
    q /= np.linalg.norm(q)
    rows = [(0, [float(x) for x in q])]
    # cluster: 5 tiny perturbations of q (near-dups, highest relevance)
    for i in range(1, 6):
        v = q + rng.normal(scale=0.01, size=32)
        rows.append((i, [float(x) for x in v]))
    # diverse: clearly related to q but mutually orthogonal-ish
    for i in range(6, 12):
        d = rng.normal(size=32)
        d -= (d @ q) * q
        d /= np.linalg.norm(d)
        v = 0.75 * q + 0.66 * d
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # lam=0.3: diversity-weighted.  (With q itself selected first, every
    # candidate's penalty is at least its relevance — sim-to-q — so lam
    # must be < 0.5 for diversity to outweigh the cluster's relevance
    # edge; the classic MMR regime for dedup-style re-ranking.)
    out = mmr_topk(
        df, "embedding", "vec_id", [float(x) for x in q], k=5, pool=12, lam=0.3
    )
    sel = [r.vec_id for r in out.orderBy("rank").collect()]
    assert sel[0] == 0  # rank 1 = plain argmax (the query itself)
    cluster_hits = sum(1 for i in sel if 1 <= i <= 5)
    assert cluster_hits <= 1, sel  # the near-dup cluster collapsed
    assert len(sel) == 5
    # lam=1.0: pure relevance — the cluster fills the top-k again
    out1 = mmr_topk(
        df, "embedding", "vec_id", [float(x) for x in q], k=5, pool=12, lam=1.0
    )
    sel1 = [r.vec_id for r in out1.orderBy("rank").collect()]
    assert sum(1 for i in sel1 if 1 <= i <= 5) >= 4, sel1


def test_curation_v2_each_stage_binds(spark):
    """p12's three stages must each do real work on the fixture: the
    Gopher gate drops docs, the Bloom screen drops more, the survivors
    get all three split labels, and a doc violating a quality rule (or
    quoting the benchmark) never reaches the output."""
    from era_parser_spark.queries import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    out = QUERIES["p12_curation_v2"](spark, sf).collect()
    docs_n = spark.read.parquet(f"{sf}/documents.parquet").count()
    train_slice = docs_n - spark.read.parquet(f"{sf}/documents.parquet").filter(
        "doc_id % 17 = 0"
    ).count()
    assert 0 < len(out) < train_slice  # both gates bound
    splits = {r.split for r in out}
    assert splits == {"train", "val", "test"}
    # bench docs never appear
    assert all(r.doc_id % 17 != 0 for r in out)
    # survivors carry their shingle counts (>= min_words - 2 by the gate)
    assert all(r.n_shingles >= 1 for r in out)


def test_scene_keyframes_semantics(spark):
    """Crafted frame stream: two scenes split by one hard cut; the
    keyframe is the frame closest to its scene's mean energy (integer
    compare |e*n - sum|), ties to the earliest frame; single-frame media
    yield one scene with themselves as keyframe."""
    from era_parser_spark.operators.multimodal import scene_keyframes

    # 16-byte frames: energies 16*v for constant-value frames
    def frames(*vals):
        return b"".join(bytes([v]) * 16 for v in vals)

    rows = [
        # media 1: scene A energies [160,320,160] (mean 213.33 -> frame 0
        # |160*3-640|=160 vs f1 |960-640|=320 vs f2 160 -> tie f0,f2 ->
        # f0), then cut (delta 16*13=208>200) to scene B [16*23,16*23]
        (1, frames(10, 20, 10, 23, 23)),
        # media 2: single frame
        (2, frames(7)),
        # media 3: empty payload -> no rows
        (3, b""),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {
        (r.media_id, r.scene_idx): r for r in scene_keyframes(df).collect()
    }
    assert set(out) == {(1, 0), (1, 1), (2, 0)}
    a = out[(1, 0)]
    assert (a.start_idx, a.end_idx, a.n_frames) == (0, 2, 3)
    assert a.key_idx == 0 and a.key_energy == 160  # tie -> earliest
    b = out[(1, 1)]
    assert (b.start_idx, b.end_idx, b.n_frames) == (3, 4, 2)
    assert b.key_idx == 3 and b.key_energy == 16 * 23
    c = out[(2, 0)]
    assert (c.n_frames, c.key_idx, c.key_energy) == (1, 0, 7 * 16)


def test_canonical_url_each_rule(spark):
    """Each canonicalization rule pinned in isolation: case, default
    port, non-default port kept, fragment, trailing slash, tracking
    params stripped + survivors sorted, empty query."""
    from era_parser_spark.operators.text import canonical_url_col

    cases = [
        ("HTTPS://WWW.Ex.COM/Path", "https://www.ex.com/Path"),  # host only
        ("https://ex.com:443/a", "https://ex.com/a"),
        ("http://ex.com:80/a", "http://ex.com/a"),
        ("http://ex.com:8080/a", "http://ex.com:8080/a"),       # kept
        ("https://ex.com/a#frag", "https://ex.com/a"),
        ("https://ex.com/a/", "https://ex.com/a"),
        ("https://ex.com/a//", "https://ex.com/a"),
        ("https://ex.com/a?z=2&utm_source=x&a=1&fbclid=y",
         "https://ex.com/a?a=1&z=2"),
        ("https://ex.com/a?utm_campaign=x&gclid=1&ref=h",
         "https://ex.com/a"),
        ("https://ex.com/?utm_source=x", "https://ex.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url_col(F.col("u")).alias("c")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_ann_knn_join_matches_per_query_search(spark):
    """Batch-vs-scalar parity: for every query in the batch, s13's
    ranked neighbor list must equal the single-query IVF-PQ search over
    the same corpus (same codebook, same quantized ADC sums, same
    tie-break), minus the self-match the join contract excludes."""
    from era_parser_spark.operators.similarity import (
        ivf_pq_knn_join,
        ivf_pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 101 == 0)
    batch = {}
    for r in ivf_pq_knn_join(
        emb, queries, "embedding", "vec_id", dim=64, k=5, nprobe=3
    ).collect():
        batch.setdefault(r.query_id, []).append((r.rnk, r.nbr_id, r.adc_dist))
    assert len(batch) == queries.count()
    for qid in sorted(batch)[:3]:
        q = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        solo = [
            (r.vec_id, r.adc_dist)
            for r in ivf_pq_topk(
                emb, "embedding", "vec_id", q, dim=64, k=20, nprobe=3
            ).collect()
            if r.vec_id != qid
        ][:5]
        got = [(n, d) for _, n, d in sorted(batch[qid])]
        assert got == solo, (qid, got, solo)


# ---------------------------------------------------------------- x25 pagerank


def _py_pagerank(edges, iterations=3, d=(85, 100), scale=10**12):
    """Pure-Python twin of operators/graph.py::pagerank (same integer ops)."""
    e = sorted({(s, t) for s, t in edges if s != t})
    nodes = sorted({s for s, _ in e} | {t for _, t in e})
    n = len(nodes)
    deg = {}
    for s, _ in e:
        deg[s] = deg.get(s, 0) + 1
    d_num, d_den = d
    r0 = scale // n
    base = ((d_den - d_num) * r0) // d_den
    r = {v: r0 for v in nodes}
    for _ in range(iterations):
        dang = sum(r[v] for v in nodes if v not in deg)
        dterm = (d_num * (dang // n)) // d_den
        insum = {}
        for s, t in e:
            insum[t] = insum.get(t, 0) + r[s] // deg[s]
        r = {v: base + (d_num * insum.get(v, 0)) // d_den + dterm for v in nodes}
    return r


def test_pagerank_matches_python_twin_and_semantics(spark):
    """Hub structure: everyone links to 'hub'; 'dang' has no out-edges so
    the dangling term must spread its mass.  Spark ranks == the pure-Python
    integer twin bit-for-bit, the hub outranks every spoke, and repartition
    does not change a single rank (order-independent BIGINT sums)."""
    from era_parser_spark.operators.graph import pagerank

    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "dang"),
             ("a", "b"), ("b", "hub")]  # dup edge collapses
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["pr"] for r in pagerank(df, iterations=3).collect()}
    want = _py_pagerank(edges)
    assert got == want
    # hub drains into dang (its sole out-edge), so dang tops; hub beats
    # every spoke that merely links to it
    assert got["dang"] == max(got.values())
    assert all(got["hub"] > got[v] for v in ("a", "b", "c"))
    # dangling redistribution reached the no-in-edge node 'a': it holds
    # strictly more than the no-redistribution floor would give it
    assert got["a"] > 0
    got2 = {
        r["node"]: r["pr"]
        for r in pagerank(df.repartition(7), iterations=3).collect()
    }
    assert got2 == want


def test_pagerank_dangling_mass_redistributed(spark):
    """Two isolated-ish nodes where one is dangling: without the dangling
    term, b's rank would stay at base forever; with it, a (which b cannot
    reach by edges) still gains rank each round."""
    from era_parser_spark.operators.graph import pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r["node"]: r["pr"] for r in pagerank(df, iterations=2).collect()}
    want = _py_pagerank([("a", "b")], iterations=2)
    assert got == want
    scale, n = 10**12, 2
    base = ((100 - 85) * (scale // n)) // 100
    assert got["a"] > base  # dangling b's mass came back to a


def test_bm25_matches_python_twin_and_ranking(spark):
    """t22: integer BM25 equals a pure-Python twin on a hand fixture, and
    the ranking behaves like BM25 should (more hits up, rarer terms up,
    no-hit docs absent)."""
    from era_parser_spark.operators.text import bm25_topk

    rows = [
        (1, "hash join hash join hash"),          # heavy on both query terms
        (2, "hash scan scan scan scan scan"),     # one hit, long doc
        (3, "vector scan"),                       # rare term, short doc
        (4, "scan merge filter scan"),            # no hits
        (5, "hash"),                              # single-token doc, pure hit
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, "doc_id", "text", ["hash", "join", "vector"], k=10)
    got = {r["doc_id"]: (r["n_terms_hit"], r["bm25_score"]) for r in out.collect()}

    # Pure-Python twin of the integer formulas.
    docs = {i: t.split() for i, t in rows}
    n = len(docs)
    d = sum(len(t) for t in docs.values())
    tf = {}
    for i, toks in docs.items():
        for t in toks:
            if t in ("hash", "join", "vector"):
                tf[(i, t)] = tf.get((i, t), 0) + 1
    dft = {}
    for (_, t) in tf:
        dft[t] = dft.get(t, 0) + 1
    want = {}
    for (i, t), f in tf.items():
        dl = len(docs[i])
        idf = (1_000_000 * (2 * (n - dft[t]) + 1)) // (2 * dft[t] + 1)
        tfp = (1_000_000 * 44 * f * d) // (20 * f * d + 6 * d + 18 * dl * n)
        hits, score = want.get(i, (0, 0))
        want[i] = (hits + 1, score + idf * tfp // 1_000_000)
    assert got == want
    assert 4 not in got                           # no-hit doc absent
    # vector appears in exactly one doc => rarest => highest idf; doc 3
    # must outscore doc 2 (common term, diluted by length).
    assert got[3][1] > got[2][1]
    # doc 1 hits two terms repeatedly => top score overall.
    assert max(got.values(), key=lambda v: v[1]) == got[1]


def test_bm25_shuffle_never_carries_text(spark):
    """t22 plan: document text stays on the scan — every Exchange in the
    executed plan carries only (id, dl, term, tf)-shaped columns."""
    from era_parser_spark.operators.text import bm25_topk
    from era_parser_spark.queries.registry import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    out = bm25_topk(docs, "doc_id", "text", ["hash", "join"], k=5)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_sq8_topk_twin_and_recall(spark):
    """s14: int8 codes match the pure-Python twin; the shortlist+rerank
    recovers the exact brute-force top-k when shortlist covers the
    corpus; the fetch join broadcasts (no full-vector shuffle)."""
    import math

    from era_parser_spark.operators.similarity import sq8_topk

    # 40 vectors in 8 dims: two tight clusters plus noise-free ramps so
    # quantization order is unambiguous.
    def vec(i):
        return [math.sin(0.1 * i * (d + 1)) for d in range(8)]

    rows = [(i, vec(i)) for i in range(1, 41)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = vec(7)

    out = sq8_topk(df, "embedding", "vec_id", q, k=5, shortlist=40).collect()
    assert len(out) == 5

    # Python twin of phase 1 + phase 2 (floor semantics, same tie-break).
    smax = max(abs(x) for r in rows for x in r[1])
    enc = lambda v: [math.floor(x * 127 / smax) for x in v]
    q8 = [min(max(c, -127), 127) for c in enc(q)]
    dots = {i: sum(a * b for a, b in zip(enc(v), q8)) for i, v in rows}
    short = sorted(dots, key=lambda i: (-dots[i], i))[:40]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    want = sorted(short, key=lambda i: (-round(cos(dict(rows)[i], q), 6), i))[:5]
    assert [r["vec_id"] for r in out] == want
    assert all(r["int8_dot"] == dots[r["vec_id"]] for r in out)
    # Self-match first: the query IS vec 7.
    assert out[0]["vec_id"] == 7 and out[0]["cosine_sim"] == 1.0

    # Plan: the full-vector fetch is a broadcast join, never a shuffle of
    # the embedding column.
    plan = (
        sq8_topk(df, "embedding", "vec_id", q, k=5, shortlist=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "embedding#" not in m.group(0), m.group(0)


def test_speech_segments_semantics(spark):
    """mm8: voiced runs split on silence, clicks under min_frames drop,
    boundary frames land in the right segment, payloads never shuffle."""
    from era_parser_spark.operators.multimodal import speech_segments

    # 4-byte frames; threshold 400 => voiced iff all-high bytes.
    loud, quiet = bytes([120] * 4), bytes([10] * 4)
    payload = (
        loud * 3  # seg 1: frames 0-2
        + quiet * 2
        + loud * 1  # click at frame 5 (dropped by min_frames=2)
        + quiet * 1
        + loud * 2  # seg 3: frames 7-8
    )
    df = spark.createDataFrame([(1, bytearray(payload))], "media_id long, payload binary")
    out = {
        r["seg_idx"]: (r["start_idx"], r["end_idx"], r["n_frames"], r["seg_energy"])
        for r in speech_segments(df, frame_bytes=4, threshold=400, min_frames=2).collect()
    }
    assert out == {1: (0, 2, 3, 3 * 480), 3: (7, 8, 2, 2 * 480)}

    plan = (
        speech_segments(df, frame_bytes=4, threshold=400, min_frames=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "payload#" not in m.group(0), m.group(0)


def test_watermark_dedup_state_expires_and_reemits(spark, tmp_path_factory):
    """st10's native dropDuplicatesWithinWatermark: a duplicate inside the
    watermark window is dropped across micro-batch boundaries; once the
    watermark passes first_ts + delay the key's state is gone and the
    same key is emitted AGAIN — the state-bounded property st4's
    keep-forever monitor doesn't have."""
    import datetime as dt
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import run_stream_once

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def batch(name, rows, src):
        spark.createDataFrame(
            [(k, t0 + dt.timedelta(seconds=s)) for k, s in rows],
            "k string, ts timestamp",
        ).coalesce(1).write.parquet(str(src / name))

    src = tmp_path_factory.mktemp("st10_src")
    # delay = 10 s.  batch1: A,B at t=0.  batch2: dup A at t=5 (state
    # alive -> dropped) + C at t=100 (advances the watermark to 90 >
    # 0+10, so A's state expires).  batch3 exists because the advanced
    # watermark takes effect one batch later (measured: eviction in batch
    # N uses the watermark committed after batch N-1, which reflects data
    # through batch N-2).  batch4: A again at t=120 -> re-emitted.
    batch("a_b1", [("A", 0), ("B", 0)], src)
    batch("b_b2", [("A", 5), ("C", 100)], src)
    batch("c_b3", [("D", 110)], src)
    batch("d_b4", [("A", 120)], src)
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    dedup = (
        stream.withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark(["k"])
        .select("k")
    )
    out = [r.k for r in run_stream_once(dedup, f"st10t_{_uuid.uuid4().hex[:8]}").collect()]
    assert sorted(out) == ["A", "A", "B", "C", "D"], out


def test_label_propagation_keeps_cliques_apart(spark):
    """x26's reason to exist: two 4-cliques joined by one bridge edge are
    ONE connected component but TWO LPA communities — the density signal
    CC can't see.  Labels converge to each clique's min node id."""
    from era_parser_spark.operators.graph import label_propagation

    a = ["a1", "a2", "a3", "a4"]
    b = ["b1", "b2", "b3", "b4"]
    edges = [(x, y) for i, x in enumerate(a) for y in a[i + 1:]]
    edges += [(x, y) for i, x in enumerate(b) for y in b[i + 1:]]
    edges.append(("a1", "b1"))  # bridge
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {
        r["node"]: r["community"]
        for r in label_propagation(df, iterations=3).collect()
    }
    assert all(out[x] == "a1" for x in a), out
    assert all(out[x] == "b1" for x in b), out


def test_session_window_merges_across_microbatches(spark, tmp_path_factory):
    """st11: native session_window state must merge a later-batch event
    into the session opened in an earlier batch, and split on a >= gap
    jump."""
    import datetime as dt
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import run_stream_once

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = tmp_path_factory.mktemp("st11_src")

    def batch(name, offsets_min):
        spark.createDataFrame(
            [(1, t0 + dt.timedelta(minutes=m)) for m in offsets_min],
            "user_id long, ts timestamp",
        ).coalesce(1).write.parquet(str(src / name))

    batch("a_b1", [0, 10])
    batch("b_b2", [20, 120])  # 20 merges into the open session; 120 splits
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n_events",
        )
    )
    out = sorted(
        (r.s, r.e, r.n_events)
        for r in run_stream_once(
            agg, f"st11t_{_uuid.uuid4().hex[:8]}", output_mode="complete"
        ).collect()
    )
    mins = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    assert out == [
        (mins(0), mins(50), 3),     # 0,10,20 merged; end = 20 + 30
        (mins(120), mins(150), 1),  # the jump
    ], out


def test_kmv_intersection_exact_when_unsaturated_and_sane_at_scale(spark):
    """x27: below k the theta estimates ARE the exact counts; saturated
    sketches land near the true overlap (deterministic md5, so the bounds
    are stable, not flaky)."""
    from era_parser_spark.operators.sketch import kmv_intersection

    def setdf(vals):
        return spark.createDataFrame([(v,) for v in vals], "v string")

    # |A|=10, |B|=8, overlap 5 — both unsaturated at k=32 => exact.
    a = setdf([f"u{i}" for i in range(10)])
    b = setdf([f"u{i}" for i in range(5, 13)])
    r = kmv_intersection(a, b, "v", k=32).first()
    assert (r.n_common, r.union_size) == (5, 13)
    assert r.est_intersection == 5.0 and r.est_union == 13.0
    assert r.jaccard_est == 5 / 13

    # |A|=|B|=2000, overlap 1000 (true J=1/3, union 3000) — saturated.
    a = setdf([f"u{i}" for i in range(2000)])
    b = setdf([f"u{i}" for i in range(1000, 3000)])
    r = kmv_intersection(a, b, "v", k=32).first()
    assert 0.15 < r.jaccard_est < 0.55, r
    assert 1200 < r.est_union < 6000, r
    assert 300 < r.est_intersection < 2600, r


def test_fix_mojibake_each_rule_and_order(spark):
    """t23: every table entry repairs, the 3-char 'â€¢' family survives
    the shared 'â' head (order matters), clean text is untouched, and a
    python .replace chain over the same table agrees exactly."""
    from era_parser_spark.operators.text import MOJIBAKE_FIXES, fix_mojibake

    rows = [(i, f"x {bad} y") for i, (bad, _) in enumerate(MOJIBAKE_FIXES)]
    rows += [
        (100, "plain ascii stays put"),
        (101, "cafÃ© â€œnaÃ¯veâ€™ â‚¬5"),
        (102, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_fixed"], r["changed"])
        for r in fix_mojibake(df, "doc_id", "text").collect()
    }
    for i, (bad, good) in enumerate(MOJIBAKE_FIXES):
        assert got[i] == (f"x {good} y", True), (bad, got[i])
    assert got[100] == ("plain ascii stays put", False)

    def twin(s):
        for bad, good in MOJIBAKE_FIXES:
            s = s.replace(bad, good)
        return s

    assert got[101] == (twin("cafÃ© â€œnaÃ¯veâ€™ â‚¬5"), True)
    assert got[101][0] == "café “naïve’ €5"
    assert got[102] == ("", False)


def test_chunk_windows_semantics(spark):
    """t24: overlap, tail coverage, short/empty/null docs, and exact
    chunk content against a python twin."""
    from era_parser_spark.operators.text import chunk_windows

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
        (2, "a b c"),                               # shorter than chunk
        (3, ""),                                    # empty -> no chunks
        (4, None),                                  # null -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_tokens)
        for r in chunk_windows(df, "doc_id", "text", chunk_tokens=4, stride=3).collect()
    )

    def twin(i, text):
        toks = text.split()
        res = []
        ci = 0
        while ci * 3 < len(toks):
            w = toks[ci * 3 : ci * 3 + 4]
            res.append((i, ci, " ".join(w), len(w)))
            ci += 1
        return res

    want = sorted(twin(1, rows[0][1]) + twin(2, "a b c"))
    assert out == want, out
    # doc 1: chunks start at 0,3,6,9 — last covers the tail token alone
    d1 = [c for c in out if c[0] == 1]
    assert [c[1] for c in d1] == [0, 1, 2, 3]
    assert d1[-1] == (1, 3, "w9", 1)
    # consecutive chunks overlap by chunk-stride = 1 token
    assert d1[0][2].split()[-1] == d1[1][2].split()[0]


def test_grid_interpolate_semantics(spark):
    """x29: linear values between brackets (incl. negative slope), exact
    value when the grid lands on a sample, locf past the last sample's
    hour, truncating-division parity with a python twin."""
    import datetime as dt

    from era_parser_spark.queries.registry import QUERIES

    # Build a tiny events frame shaped like the registry input by calling
    # the operator body directly through a temp view is overkill — the
    # query function only needs (user_id, ts, value); monkey-build it.
    import era_parser_spark.queries.extended as X

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: 100.0 at 00:30, 400.0 at 02:30 -> hourly grid 01:00,02:00
        (1, t0 + dt.timedelta(minutes=30), 100.0),
        (1, t0 + dt.timedelta(minutes=150), 400.0),
        # user 2: falling series 10 -> 4, grid point ON the first sample
        (2, t0, 10.0),
        (2, t0 + dt.timedelta(hours=2), 4.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")

    orig = X.table
    try:
        # extended.py binds `table` by from-import; patch ITS name
        X.table = lambda spark, sf_dir, name: ev
        out = {
            (r.user_id, r.grid_us): r.v_micro
            for r in QUERIES["x29_grid_interpolate"](spark, "ignored").collect()
        }
    finally:
        X.table = orig

    us = lambda m: int((t0 + dt.timedelta(minutes=m)).timestamp() * 1e6)  # noqa: E731
    # user 1: slope (400-100)e6 micro over 7200 s; at 01:00 (1800 s in):
    # 100e6 + 300e6*1800//7200 = 175e6; at 02:00 (5400 s in): 325e6
    assert out[(1, us(60))] == 175_000_000
    assert out[(1, us(120))] == 325_000_000
    # user 2: grid at 00:00 IS the sample -> exact; 01:00 midpoint of a
    # falling line: 10e6 + (-6e6)*3600//7200 = 7e6; 02:00 = the sample
    assert out[(2, us(0))] == 10_000_000
    assert out[(2, us(60))] == 7_000_000
    assert out[(2, us(120))] == 4_000_000
    assert len(out) == 5


def test_grid_interpolate_plan_budget(spark):
    """x29 plan: no joins, exactly ONE exchange — the explicit
    repartition(user_id) that both the (user,µs) collapse and the
    lead() window reuse (round-7's union+two-unbounded-window plan
    sorted the full samples+grid frame behind TWO exchanges and cost
    14 s solo at sf0.1; the span-aggregate formulation before that
    recomputed the collapse per branch: 6 exchanges)."""
    import __spark_entry__ as m

    df = m.queries()["x29_grid_interpolate"](spark, "/root/testdata/sf0.001")
    df.collect()
    # AQE's toString appends the pre-adaptive "Initial Plan" — count only
    # the final plan section
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    import re

    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex == 1, f"{n_ex} exchanges\n{plan}"
    # the one sort is the user-window's — over sample rows only, never
    # the exploded grid frame (the round-7 regression's root cause)
    assert plan.count("Sort ") <= 1 or plan.count("Sort [") <= 1, plan


def test_kmv_sketch_mergeability(spark):
    """x27's mergeability contract: union-then-sketch == merge of the two
    per-slice sketches (array union + re-truncate to k) — the
    DataSketches property that lets partial sketches roll up."""
    from era_parser_spark.operators.sketch import _kmv_one_row

    a = spark.createDataFrame([(f"u{i}",) for i in range(200)], "v string")
    b = spark.createDataFrame([(f"u{i}",) for i in range(150, 400)], "v string")
    k = 16
    ka = _kmv_one_row(a, "v", k, 4).first()["ks"]
    kb = _kmv_one_row(b, "v", k, 4).first()["ks"]
    merged = sorted(set(ka) | set(kb))[:k]
    whole = _kmv_one_row(a.unionByName(b), "v", k, 4).first()["ks"]
    assert merged == list(whole)


def test_ngram_novelty_semantics(spark):
    """t25: a fully-copied doc scores 0, an original doc scores 1, a
    half-shared doc lands exactly on its shingle ratio, short docs are
    absent."""
    from era_parser_spark.operators.text import ngram_novelty

    orig = "alpha beta gamma delta epsilon zeta"       # 4 shingles, unique
    rows = [
        (1, orig),
        (2, orig),                                     # exact copy -> both 0
        (3, "alpha beta gamma mu nu xi"),              # shares 'alpha beta gamma'
        (4, "totally fresh words nobody else uses"),   # fully novel
        (5, "too short"),                              # < 3 tokens -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_shingles, r.n_unique, r.novelty)
        for r in ngram_novelty(df, "doc_id", "text").collect()
    }
    assert out[1] == (4, 0, 0.0) and out[2] == (4, 0, 0.0)
    # doc 3: 4 shingles, 'alpha beta gamma' shared with docs 1/2 -> 3 unique
    assert out[3] == (4, 3, 0.75)
    assert out[4] == (4, 4, 1.0)
    assert 5 not in out


def test_corpus_report_semantics(spark):
    """p13: per (lang, source) volumes, exact-dup membership counts, and
    integer mean/min/max line up on a hand fixture."""
    import era_parser_spark.queries.pipeline as P

    rows = [
        (1, "a b c", "en", "web", 5),
        (2, "a b c", "en", "web", 5),     # exact dup of 1
        (3, "d e f g", "en", "web", 7),
        (4, "h i", "de", "web", 3),
    ]
    ev = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from era_parser_spark.queries.registry import QUERIES

    orig = P.table
    try:
        P.table = lambda spark, sf_dir, name: ev
        out = {
            (r.lang, r.source): r
            for r in QUERIES["p13_corpus_report"](spark, "ignored").collect()
        }
    finally:
        P.table = orig
    en = out[("en", "web")]
    assert (en.n_docs, en.total_tokens, en.mean_tokens) == (3, 10, 3)
    assert (en.n_dup_member_docs, en.min_tokens, en.max_tokens) == (2, 3, 4)
    assert en.dup_frac == 2 / 3
    de = out[("de", "web")]
    assert (de.n_docs, de.n_dup_member_docs, de.dup_frac) == (1, 0, 0.0)


def test_hash_embed_semantics(spark):
    """t26: hashing-trick embeddings are an exact function of the token
    multiset — identical texts get identical vectors, the vector's L1
    mass is bounded by the token count, norm_sq matches the vector, and
    empty docs embed to the present zero vector."""
    from era_parser_spark.operators.text import hash_embed

    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "alpha beta gamma alpha"),   # clone of 1
        (3, "gamma alpha beta alpha"),   # same multiset, other order
        (4, "delta"),
        (5, ""),                          # zero vector, still present
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in hash_embed(df, "doc_id", "text", dim=16).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].feat == out[2].feat == out[3].feat  # multiset function
    assert len(out[1].feat) == 16
    # signed sums: |feat| summed <= token count; norm_sq consistent
    assert sum(abs(v) for v in out[1].feat) <= 4
    for r in out.values():
        assert r.norm_sq == sum(v * v for v in r.feat)
    assert out[5].feat == [0] * 16 and out[5].norm_sq == 0
    # single token lands in exactly one bucket with weight +-1
    assert sorted(abs(v) for v in out[4].feat) == [0] * 15 + [1]


def _run_on_events(spark, name, rows, schema):
    """Run a registry entry against a hand fixture standing in for events."""
    import era_parser_spark.queries.extended as X
    from era_parser_spark.queries.registry import QUERIES

    ev = spark.createDataFrame(rows, schema)
    orig = X.table
    try:
        X.table = lambda spark, sf_dir, name: ev
        return QUERIES[name](spark, "ignored").collect()
    finally:
        X.table = orig


def test_window_funnel_semantics(spark):
    """x30: sliding 6h window from the CHAIN start; greedy latest-view
    chain selection; strict event order by (ts, event_id)."""
    from datetime import datetime as DT

    def t(h):
        return DT(2024, 1, 1, h)

    rows = [
        # user 1: clean 3-chain inside 6h
        (1, "view", 1, t(0)), (1, "click", 2, t(1)), (1, "purchase", 3, t(2)),
        # user 2: purchase 7h after the only view -> level 2 only
        (2, "view", 4, t(0)), (2, "click", 5, t(5)), (2, "purchase", 6, t(7)),
        # user 3: greedy must pick the LATER view (4h) to finish at 8h
        (3, "view", 7, t(0)), (3, "view", 8, t(4)),
        (3, "click", 9, t(5)), (3, "purchase", 10, t(8)),
        # user 4: no view at all -> level 0
        (4, "click", 11, t(0)), (4, "purchase", 12, t(1)),
        # user 5: reversed order -> only the view counts
        (5, "purchase", 13, t(0)), (5, "click", 14, t(1)), (5, "view", 15, t(2)),
        # user 6: purchase BEFORE the click -> level 2
        (6, "view", 16, t(0)), (6, "purchase", 17, t(1)), (6, "click", 18, t(2)),
    ]
    out = {
        r.user_id: r.funnel_level
        for r in _run_on_events(
            spark, "x30_window_funnel", rows,
            "user_id long, event_type string, event_id long, ts timestamp",
        )
    }
    assert out == {1: 3, 2: 2, 3: 3, 4: 0, 5: 1, 6: 2}


def test_retention_cohorts_semantics(spark):
    """x31: cohort = first signup day; pre-signup activity excluded;
    never-signed-up users absent."""
    from datetime import datetime as DT

    rows = [
        (1, "signup", 1, DT(2024, 1, 1)), (1, "view", 2, DT(2024, 1, 1, 5)),
        (1, "click", 3, DT(2024, 1, 2)), (1, "view", 4, DT(2024, 1, 5)),
        # user 2: pre-signup click on d1 must not count
        (2, "click", 5, DT(2024, 1, 1)), (2, "signup", 6, DT(2024, 1, 2)),
        (2, "view", 7, DT(2024, 1, 3)),
        # user 3: never signs up
        (3, "view", 8, DT(2024, 1, 1)),
    ]
    out = {
        (str(r.cohort_d), r.day_offset): r.n_users
        for r in _run_on_events(
            spark, "x31_retention_cohorts", rows,
            "user_id long, event_type string, event_id long, ts timestamp",
        )
    }
    assert out == {
        ("2024-01-01", 0): 1, ("2024-01-01", 1): 1, ("2024-01-01", 4): 1,
        ("2024-01-02", 0): 1, ("2024-01-02", 1): 1,
    }


def test_remove_shared_spans_semantics(spark):
    """dd16: the min-id copy of a shared run survives, the higher-id
    occurrence is cut; exact clones collapse to empty text; untouched
    docs round-trip."""
    from era_parser_spark.operators.dedup import remove_shared_spans

    run = " ".join(f"w{i}" for i in range(14))          # 14-token shared run
    rows = [
        (1, run),                                       # span source (kept)
        (2, "x y z " + run + " q"),                     # loses the 14 tokens
        (3, run),                                       # exact clone -> ''
        (4, "p q r s t u v"),                           # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in remove_shared_spans(
            df, "doc_id", "text", l=8, min_span_tokens=12
        ).collect()
    }
    assert out[1].n_removed == 0 and out[1].clean_text == run
    assert (out[2].n_tokens, out[2].n_removed) == (18, 14)
    assert out[2].clean_text == "x y z q"
    assert (out[3].n_removed, out[3].clean_text) == (14, "")
    assert out[4].n_removed == 0 and out[4].clean_text == "p q r s t u v"


def test_readability_semantics(spark):
    """t27: run-count heuristics and the FK formula on hand fixtures."""
    from era_parser_spark.operators.text import readability_scores

    rows = [
        (1, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
        (2, "no punctuation here"),          # fragment -> 1 sentence
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in readability_scores(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences) == (6, 2)
    # syllable runs: the-e, cat-a, sat-a, the-e, dog-o, ran-a = 6
    assert r1.n_syllables == 6
    assert abs(r1.fk_grade - (0.39 * 3 + 11.8 * 1.0 - 15.59)) < 1e-12
    assert out[2].n_sentences == 1


def test_hashed_semantic_pairs_semantics(spark):
    """s15: clones land in one cell with cosine 1; disjoint-vocab docs
    never pair; the threshold is decided exactly."""
    from era_parser_spark.operators.similarity import hashed_semantic_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),      # clone of 1
        (3, "alpha beta gamma delta epsilon eta"),       # 5/6 overlap
        (4, "one two three four five six seven"),        # disjoint vocab
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b): r
        for r in hashed_semantic_pairs(
            df, "doc_id", "text", dim=64, min_cos=0.9
        ).collect()
    }
    assert (1, 2) in out and abs(out[(1, 2)].cosine - 1.0) < 1e-12
    assert not any(4 in p for p in out)
    # the 5/6-overlap pair passes only if its exact cosine clears 0.9
    for (a, b), r in out.items():
        assert r.cosine >= 0.9 - 1e-12


def test_triangle_count_semantics(spark):
    """x32: a 4-clique has 4 triangles (3 per node); a pendant node and
    a square (4-cycle, no diagonal) contribute none; hub orientation
    counts each triangle exactly once."""
    from era_parser_spark.operators.graph import triangle_count

    clique = [(a, b) for i, a in enumerate("abcd") for b in "abcd"[i + 1:]]
    square = [("p", "q"), ("q", "r"), ("r", "s"), ("s", "p")]
    edges = clique + square + [("a", "z")]          # z pendant off the clique
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_triangle_count_duplicate_and_reversed_edges(spark):
    """x32: duplicate edges, reversed duplicates, and self-loops don't
    change the count (simple-graph semantics)."""
    from era_parser_spark.operators.graph import triangle_count

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
             ("a", "b"), ("a", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: r.n_triangles for r in triangle_count(df).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_hll_distinct_matches_python_twin_and_accuracy(spark):
    """x33: the register state and raw estimate are a pure function of
    the value set — a Python twin reproduces them; linear counting puts
    the estimate within a few percent at this fill factor; permutation
    invariance holds."""
    import hashlib
    import math

    from era_parser_spark.operators.sketch import (
        _hll_numerator,
        _hll_shift,
        hll_distinct,
    )

    def twin(vals, p=10):
        m, sh = 1 << p, _hll_shift(p)
        regs = [0] * m
        for v in set(vals):
            h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
            regs[h % m] = max(regs[h % m], sh - (h >> p).bit_length())
        s = sum(1 << (sh - r) for r in regs)
        v0 = regs.count(0)
        raw = _hll_numerator(m, p) / s
        n_present = m - v0
        est = m * math.log(m / v0) if (raw <= 2.5 * m and v0 > 0) else raw
        return n_present, v0, raw, est

    rows = [(f"g{(i * 7) % 3}", i % 400) for i in range(3000)]
    df = spark.createDataFrame(rows, "grp string, val long")
    out = {r.grp: r for r in hll_distinct(df, "grp", "val", p=10).collect()}
    truth = {
        g: {v for gg, v in rows if gg == g} for g in ("g0", "g1", "g2")
    }
    for g, vals in truth.items():
        npres, v0, raw, est = twin(vals)
        r = out[g]
        assert (r.n_present_registers, r.n_zero_registers) == (npres, v0)
        assert r.est_raw == raw                      # bit-deterministic
        assert abs(r.est_distinct - round(est, 2)) < 0.011
        assert abs(r.est_distinct - len(vals)) / len(vals) < 0.08
    # permutation invariance: reversed input, same sketch
    df2 = spark.createDataFrame(rows[::-1], "grp string, val long")
    out2 = {r.grp: r for r in hll_distinct(df2, "grp", "val", p=10).collect()}
    for g in truth:
        assert out2[g].est_distinct == out[g].est_distinct
    # non-default p must use the matching bit constants (the review
    # finding: hardcoded 51s silently biased any p != 10), and NULL
    # values are ignored like count(DISTINCT)
    rows8 = [("g", i % 150) for i in range(1000)] + [("g", None)]
    df8 = spark.createDataFrame(rows8, "grp string, val long")
    r8 = hll_distinct(df8, "grp", "val", p=8).collect()[0]
    npres8, v08, raw8, est8 = twin({v for _, v in rows8 if v is not None}, p=8)
    assert (r8.n_present_registers, r8.n_zero_registers) == (npres8, v08)
    assert r8.est_raw == raw8
    assert abs(r8.est_distinct - 150) / 150 < 0.15


def test_stream_window_funnel_levels_across_microbatches(spark, tmp_path_factory):
    """st12: the 3-longs-per-user state carries the funnel across
    micro-batches — a chain completing in a later batch deepens the
    level, out-of-window purchases don't, and a no-change batch emits
    nothing for that user."""
    import uuid as _uuid
    from datetime import datetime as DT

    from era_parser_spark.streaming.incremental import (
        funnel_monitor,
        run_stream_once,
    )

    def rows_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string, us long"
        )

    def us(h):
        return int(DT(2024, 1, 1, h).timestamp() * 1_000_000)

    src = tmp_path_factory.mktemp("st12_src")
    # batch1: u1 view+click (level 2); u2 view (level 1)
    rows_df([
        (1, 1, "view", us(0)), (1, 2, "click", us(1)),
        (2, 3, "view", us(0)),
    ]).coalesce(1).write.parquet(str(src / "a_b1"))
    # batch2: u1 purchase at 2h -> level 3 (chain within 6h);
    # u2 purchase (no click ever) -> still level 1 => NO emission
    rows_df([
        (1, 4, "purchase", us(2)),
        (2, 5, "purchase", us(2)),
    ]).coalesce(1).write.parquet(str(src / "b_b2"))
    # batch3: u2 click at 9h (view was 0h -> OUT of 6h window) -> stays 1
    rows_df([
        (2, 6, "click", us(9)),
    ]).coalesce(1).write.parquet(str(src / "c_b3"))
    stream = (
        spark.readStream.schema("user_id long, event_id long, event_type string, us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(funnel_monitor(stream), f"st12t_{_uuid.uuid4().hex[:8]}")
    emitted = [(r.user_id, r.funnel_level) for r in out.collect()]
    # u1: level 2 in batch1 then 3 in batch2; u2: level 1 once, never again
    assert sorted(emitted) == [(1, 2), (1, 3), (2, 1)]


def test_semantic_decontaminate_semantics(spark):
    """dd17: a paraphrase-free clone of a bench doc is flagged with
    cos^2*10^4 = 10000; a high-overlap doc flags iff it clears the
    threshold; disjoint-vocab docs never flag; train never shuffles
    (no Exchange in the plan)."""
    from era_parser_spark.operators.similarity import semantic_decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # clone
            (2, "one two three four five six"),           # disjoint
            (3, ""),                                      # zero vector
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in semantic_decontaminate(
            train, bench, "doc_id", "text", dim=64, min_cos=0.9
        ).collect()
    }
    assert out[1].contaminated and out[1].max_cos_q == 10000
    assert out[1].n_bench_hits == 1
    assert not out[2].contaminated and out[2].max_cos_q == 0
    assert not out[3].contaminated
    # the SCREEN is join-free (the dd14 invariant one tier up): dd17's
    # plan has exactly the joins/exchanges of hash_embed(train) alone —
    # the bench matrix rides the task closure, never a join operator
    import re

    from era_parser_spark.operators.text import hash_embed

    def counts(d):
        p = d._jdf.queryExecution().executedPlan().toString()
        return (
            len(re.findall(r"Exchange hashpartitioning", p)),
            len(re.findall(r"\wJoin", p)),
        )

    df = semantic_decontaminate(train, bench, "doc_id", "text", dim=64)
    assert counts(df) == counts(hash_embed(train, "doc_id", "text", dim=64))


def test_snapshot_diff_semantics(spark):
    """p14: all four statuses on a hand fixture; null vs empty text is a
    real change; digest-only shuffle (no text column past the scan)."""
    from era_parser_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None), (5, "e")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, ""), (6, "f")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.status for r in snapshot_diff(old, new, "doc_id", "text").collect()}
    assert out == {
        1: "unchanged", 2: "changed", 3: "removed",
        4: "changed",                       # None -> "" IS a change
        5: "removed", 6: "added",
    }


def test_gopher_repetition_semantics(spark):
    """t29: hand-computed char masses; repeated bigram dominates; short
    and empty docs score 0 and keep."""
    from era_parser_spark.operators.text import gopher_repetition_flags

    rows = [
        (1, "ab cd ab cd ab cd"),      # "ab cd" bigram x3 (+ "cd ab" x2)
        (2, "one"),                     # no grams at any width
        (3, ""),                        # empty
        (4, " ".join(f"tok{i:02d}" for i in range(32))),  # all grams unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_repetition_flags(df, "doc_id", "text").collect()}
    r1 = out[1]
    # doc 1: 17 chars; top 2-gram "ab cd" count 3, len 5 -> 15/17
    assert r1.n_chars == 17 and abs(r1.top2_frac - 15 / 17) < 1e-12
    # top 3-gram "ab cd ab" count 2, len 8 -> 16/17
    assert abs(r1.top3_frac - 16 / 17) < 1e-12
    # dup 5-grams: "ab cd ab cd ab" x2? positions 1..3 of width5 over 6
    # tokens: "ab cd ab cd ab"(1), "cd ab cd ab cd"(2) -> both unique
    assert r1.dup5_frac == 0.0
    assert not r1.rep_keep
    assert out[2].top2_frac == 0.0 and out[2].rep_keep
    assert out[3].n_chars == 0 and out[3].rep_keep
    assert out[4].rep_keep and out[4].top2_frac > 0  # unique top gram still has mass


def test_c4_rules_semantics(spark):
    """t28: line retention needs terminal punctuation AND >= 5 words;
    page gates (sentences, lorem, brace, blocklist) behave per rule."""
    from era_parser_spark.operators.text import c4_rules

    rows = [
        (1, "one two three four five six.\nshort line.\nno punct here at all\n"
            'quoted line with five words"\nsecond real sentence here now!'
            "\nthird real sentence right here."),
        (2, "only two sentences here today.\nanother good sentence right here."),
        (3, "lorem ipsum is here.\ngood sentence one two three.\nmore words "
            "here for sentences.\nthird sentence with five words."),
        (4, "code page { with brace.\ngood sentence one two three!\nmore "
            "good words in here.\nfourth sentence with five words?"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_rules(df, "doc_id", "text").collect()}
    r1 = out[1]
    # kept: line1 (6w + .), quoted line (5w + "), sentences 2 and 3;
    # dropped: "short line." (2 words), "no punct here at all"
    assert (r1.n_lines, r1.n_kept_lines) == (6, 4)
    assert r1.c4_keep
    assert not out[2].c4_keep and out[2].n_sentences == 2   # < 3 sentences
    assert not out[3].c4_keep and out[3].has_lorem
    assert not out[4].c4_keep and out[4].has_brace
    r5 = out[5]
    assert not r5.c4_keep and r5.n_kept_lines == 0 and r5.clean_text == ""


def test_hll_sliding_merge_equals_window_rebuild(spark):
    """x34: register-wise MAX merge over a window must give EXACTLY the
    sketch (and estimate) of building one sketch over the window's
    union of values — the mergeability contract, pinned by equality."""
    from datetime import date, timedelta

    from era_parser_spark.operators.sketch import hll_distinct, hll_sliding_distinct

    d0 = date(2024, 1, 1)
    rows = [
        (d0 + timedelta(days=d), (d * 37 + i) % 90)
        for d in range(5)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "day date, val long")
    slid = {
        str(r.day): r
        for r in hll_sliding_distinct(
            df, F.col("day"), "val", p=10, window_days=3
        ).collect()
    }
    # rebuild day 2024-01-03's trailing window (days 1-3) as ONE group
    target = d0 + timedelta(days=2)
    win = df.filter(
        (F.col("day") >= d0) & (F.col("day") <= target)
    ).select(F.lit("w").alias("g"), "val")
    rebuilt = hll_distinct(win, "g", "val", p=10).collect()[0]
    s = slid[str(target)]
    assert (s.n_present_registers, s.n_zero_registers) == (
        rebuilt.n_present_registers, rebuilt.n_zero_registers
    )
    assert s.est_raw == rebuilt.est_raw
    assert s.est_distinct == rebuilt.est_distinct
    # head-of-range: day 1's "window" is just day 1
    one = df.filter(F.col("day") == d0).select(F.lit("w").alias("g"), "val")
    r1 = hll_distinct(one, "g", "val", p=10).collect()[0]
    assert slid[str(d0)].est_distinct == r1.est_distinct


def test_curation_v3_stage_composition(spark):
    """p15: a verbatim bench clone dies at the semantic screen, a short
    doc dies at the Gopher gate, a doc sharing a long run with a
    lower-id doc loses exactly that run, and clean docs survive with a
    split label."""
    import era_parser_spark.queries.pipeline as P
    from era_parser_spark.queries.registry import QUERIES

    def words(prefix, n, stop=("the", "of")):
        ws = [f"{prefix}{i:02d}" for i in range(n - len(stop))]
        return " ".join(list(stop) + ws)

    bench_text = words("bench", 45)
    run = " ".join(f"shared{i:02d}" for i in range(14))
    rows = [
        (17, bench_text),                          # bench slice (17 % 17 == 0)
        (1, bench_text),                           # clone -> semantic screen
        (2, "the of xx"),                          # too short -> Gopher gate
        (3, words("clean", 45)),                   # survives untouched
        (4, words("fill", 30) + " " + run),        # keeps its copy (min id)
        (5, words("other", 46) + " " + run),       # loses the run (14 tokens)
    ]
    ev = spark.createDataFrame(rows, "doc_id long, text string")
    orig = P.table
    try:
        P.table = lambda spark, sf_dir, name: ev
        out = {
            r.doc_id: r for r in QUERIES["p15_curation_v3"](spark, "x").collect()
        }
    finally:
        P.table = orig
    assert 17 not in out                           # bench never in output
    assert 1 not in out                            # clone screened out
    assert 2 not in out                            # Gopher-gated
    assert out[3].n_removed == 0 and out[3].split in ("train", "val", "test")
    assert out[4].n_removed == 0
    assert out[5].n_removed == 14


# ------------------------------------------------------- s16/dd18: k-means


def test_kmeans_lloyd_separates_blobs(spark):
    """Two well-separated blobs, one init seed in each (ids 0/1 alternate
    blobs): Lloyd's must recover the blob structure exactly; malformed
    rows (null vector, wrong dim) are filtered JVM-side, never reaching
    the numpy kernel."""
    from era_parser_spark.operators.similarity import kmeans_lloyd

    rows = []
    for i in range(20):
        if i % 2 == 0:
            rows.append((i, [1.0 + 0.001 * i, 0.0, 0.0, 0.0]))
        else:
            rows.append((i, [0.0, 0.0, 1.0 + 0.001 * i, 0.0]))
    rows.append((98, None))
    rows.append((99, [1.0, 2.0]))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = kmeans_lloyd(df, "id", "v", k=2, iters=2, quant=1000, dim=4).collect()
    by = {r.id: r.cluster for r in out}
    assert set(by) == set(range(20))  # malformed rows dropped
    assert {by[i] for i in range(0, 20, 2)} == {0}
    assert {by[i] for i in range(1, 20, 2)} == {1}
    assert all(r.dist_sq >= 0 for r in out)


def test_kmeans_lloyd_tie_breaks_to_smallest_cid(spark):
    """iters=0 assigns against the init centroids; a point equidistant
    from both lands in the smaller cluster id, matching the SQL twin's
    ORDER BY (d2, cid)."""
    from era_parser_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [1.0, 0.0])],
        "id long, v array<double>",
    )
    out = {r.id: r for r in kmeans_lloyd(df, "id", "v", k=2, iters=0, quant=1000, dim=2).collect()}
    assert out[2].cluster == 0
    assert out[2].dist_sq == 1000 * 1000


def test_kmeans_lloyd_drops_empty_clusters(spark):
    """Identical init vectors: every point ties to cluster 0, cluster 1
    empties after the first update and must drop out (not resurface as
    NaN centroids), leaving a single surviving cluster."""
    from era_parser_spark.operators.similarity import kmeans_lloyd

    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0])],
        "id long, v array<double>",
    )
    out = kmeans_lloyd(df, "id", "v", k=2, iters=1, quant=1000, dim=2).collect()
    assert {r.cluster for r in out} == {0}
    assert all(r.dist_sq == 0 for r in out)


def test_semdedup_kmeans_keeps_farthest_from_centroid(spark):
    """A cos=1 clique of three magnitudes plus one orthogonal vector in a
    single cluster: only the clique member farthest from the centroid
    survives (the SemDeDup paper's keeper), and the non-duplicate plus
    any zero vector are always kept."""
    from era_parser_spark.operators.similarity import semdedup_kmeans

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [2.0, 0.0]),
            (3, [3.0, 0.0]),
            (4, [0.0, 5.0]),
            (5, [0.0, 0.0]),
        ],
        "id long, v array<double>",
    )
    out = {
        r.id: r
        for r in semdedup_kmeans(
            df, "id", "v", k=1, iters=1, quant=512, min_cos=0.9, dim=2
        ).collect()
    }
    assert {i for i, r in out.items() if r.kept} == {3, 4, 5}
    assert out[3].dist_sq > out[2].dist_sq


def test_semdedup_kmeans_overflow_guard():
    from era_parser_spark.operators.similarity import semdedup_kmeans

    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim \\* quant\\^2"):
        semdedup_kmeans(None, "id", "v", quant=1024, dim=64)


def test_kmeans_assignment_plan_never_shuffles_corpus(spark):
    """s16's final frame is scan -> project/filter -> mapInPandas: zero
    Exchange (the corpus never shuffles; only k*dim partials did, in the
    already-executed update jobs).  dd18 adds exactly the one cluster
    exchange for the per-cluster kernel."""
    from era_parser_spark.plans import formatted_plan
    from era_parser_spark.queries import load_all

    q, _ = load_all()
    import re

    plan = formatted_plan(q["s16_kmeans_lloyd"](spark, SF_SMALL))
    assert "Exchange" not in plan
    plan18 = q["dd18_semdedup_kmeans"](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan18)) == 1


# ------------------------------------------------------------- p16: DSIR


def test_dsir_importance_separable(spark):
    """Target-like raw docs must outscore off-target ones; exact clones
    score identically; an empty doc surfaces with zero weight (the
    every-key-appears contract)."""
    from era_parser_spark.operators.curation import dsir_importance

    fruit = "apple banana cherry mango papaya lychee guava " * 4
    tech = "kernel compiler pointer segfault mutex thread socket " * 4
    target = spark.createDataFrame(
        [(100, fruit), (101, "apple mango banana lychee " * 6)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, fruit), (2, fruit), (3, tech), (4, "")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dsir_importance(raw, target, "doc_id", "text").collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # on-target beats off-target (absolute scale sits below 1.0 on tiny
    # fixtures: Laplace smoothing with m=256 dominates single-digit counts)
    assert out[1].w_mean > out[3].w_mean
    assert (out[1].w_sum, out[1].n_tokens) == (out[2].w_sum, out[2].n_tokens)
    assert out[4].n_tokens == 0 and out[4].w_sum == 0 and out[4].w_mean == 0.0


def test_dsir_plan_shuffles_longs_only(spark):
    """p16's corpus shuffles carry (id, bucket, tf) longs — the text
    column never enters an Exchange; the id join-back's second scan is
    pruned to doc_id."""
    from era_parser_spark.plans import read_schema_columns
    from era_parser_spark.queries import load_all

    q, _ = load_all()
    df = q["p16_dsir_importance"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for ex in re.findall(r"Exchange hashpartitioning\([^\n]*", plan):
        assert "text" not in ex
    assert {"doc_id"} in read_schema_columns(df)


# ---------------------------------------------------- s17: k-center greedy


def test_kcenter_greedy_farthest_point_sequence(spark):
    """Points on a line at 0,1,10,11,100 with k=3: greedy starts at the
    smallest id (position 0), picks the farthest point (100), then the
    max-min point (11: min(121, 7921) beats 10's min(100, 8100));
    assignment goes to the nearest chosen center."""
    from era_parser_spark.operators.similarity import kcenter_greedy

    pos = {0: 0.0, 1: 1.0, 2: 10.0, 3: 11.0, 4: 100.0}
    df = spark.createDataFrame(
        [(i, [p, 0.0]) for i, p in pos.items()], "id long, v array<double>"
    )
    out = {r.id: r for r in kcenter_greedy(df, "id", "v", k=3, quant=1000, dim=2).collect()}
    assert {i for i, r in out.items() if r.selected} == {0, 3, 4}
    assert out[1].center_id == 0 and out[2].center_id == 3
    assert out[2].d2 == 1000 * 1000  # |10-11|^2 at quant 1000
    assert all(out[i].d2 == 0 for i in (0, 3, 4))


def test_kcenter_greedy_tie_and_degenerate(spark):
    """Equidistant farthest candidates tie to the smaller id; an all-
    identical corpus keeps re-selecting the first center, so the final
    coreset is a single id on both engines."""
    from era_parser_spark.operators.similarity import kcenter_greedy

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 0.0]), (2, [-5.0, 0.0])],
        "id long, v array<double>",
    )
    out = {r.id: r for r in kcenter_greedy(df, "id", "v", k=2, quant=1000, dim=2).collect()}
    assert {i for i, r in out.items() if r.selected} == {0, 1}  # tie -> id 1 < id 2

    same = spark.createDataFrame(
        [(7, [1.0, 1.0]), (8, [1.0, 1.0]), (9, [1.0, 1.0])],
        "id long, v array<double>",
    )
    out2 = {r.id: r for r in kcenter_greedy(same, "id", "v", k=3, quant=1000, dim=2).collect()}
    assert {i for i, r in out2.items() if r.selected} == {7}
    assert all(r.d2 == 0 for r in out2.values())


# ------------------------------------------------------------- t30: RAKE


def test_rake_keywords_hand_scores(spark):
    """'red apple and red fruit, green apple': 'and' is a stopword,
    'fruit,' a punctuation delimiter, so the candidates are [red apple],
    [red], [green apple].  freq: red 2, apple 2, green 1; deg: red 3,
    apple 4, green 2; wscore(x1000): red 1500, apple 2000, green 2000;
    phrase scores 3500 / 1500 / 4000 — ranks follow."""
    from era_parser_spark.operators.text import rake_keywords

    df = spark.createDataFrame(
        [(1, "red apple and red fruit, green apple")],
        "doc_id long, text string",
    )
    out = {r.phrase: r for r in rake_keywords(df, "doc_id", "text").collect()}
    assert out["green apple"].score_q == 4000 and out["green apple"].rank == 1
    assert out["red apple"].score_q == 3500 and out["red apple"].rank == 2
    assert out["red"].score_q == 1500 and out["red"].rank == 3


def test_rake_keywords_top_n_and_empty(spark):
    """Ties rank alphabetically; docs with no content tokens emit no
    rows; top_n truncates."""
    from era_parser_spark.operators.text import rake_keywords

    df = spark.createDataFrame(
        [(1, "zz yy xx ww"), (2, "and the of !!!"), (3, None)],
        "doc_id long, text string",
    )
    rows = rake_keywords(df, "doc_id", "text", top_n=2).collect()
    assert {r.doc_id for r in rows} == {1}
    # one 4-token phrase (no delimiters) -> a single candidate
    assert rows[0].phrase == "zz yy xx ww" and rows[0].rank == 1


def test_rake_single_token_exchange(spark):
    """t30's token rows shuffle exactly once (all word/phrase stats are
    windows over finer partitions of the one doc_id repartition); the
    only other exchange carries ranked phrases, and there is no Join."""
    import re

    from era_parser_spark.queries import load_all

    q, _ = load_all()
    df = q["t30_rake_keywords"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert 1 <= n_ex <= 2  # the groupBy+self-join formulation planned 4
    assert "Join" not in plan


# ----------------------------------------------------- p17: drift chi2


def test_token_drift_chi2_detects_shift(spark):
    """A source speaking a disjoint vocabulary scores far above sources
    drawn from the same distribution; a single-source corpus (empty
    complement) emits chi2 0; empty-text groups appear with zeros."""
    from era_parser_spark.operators.curation import token_drift_chi2

    same = "alpha beta gamma delta epsilon " * 10
    rows = [("a", same), ("b", same), ("c", "zulu yankee xray whiskey " * 10), ("d", "")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r.source: r for r in token_drift_chi2(df, "source", "text").collect()}
    assert set(out) == {"a", "b", "c", "d"}
    # c is the strict argmax (a/b also score: with 3 speaking sources a's
    # complement contains c's alien vocabulary — the statistic is
    # two-sample, not one-vs-truth)
    assert out["c"].chi2 > 4 * max(out["a"].chi2, out["b"].chi2)
    assert out["a"].chi2_q == out["b"].chi2_q  # identical slices tie exactly
    assert out["d"].n_tokens == 0 and out["d"].chi2_q == 0

    solo = spark.createDataFrame([("only", same)], "source string, text string")
    o = token_drift_chi2(solo, "source", "text").collect()[0]
    assert o.chi2_q == 0 and o.n_tokens == 50


def test_semdedup_kmeans_max_cell_bounds_pathological_cluster(spark):
    """300 bit-identical vectors in one cluster with max_cell=50: every
    sub-cell is bounded (Gram memory O(max_cell^2)), exact clones land
    in the SAME sub-cell (xxhash64 of the quantized vector), so each
    sub-cell keeps exactly one row — the capped-cluster contract."""
    from era_parser_spark.operators.similarity import semdedup_kmeans

    df = spark.createDataFrame(
        [(i, [1.0, 0.5]) for i in range(300)], "id long, v array<double>"
    )
    out = semdedup_kmeans(
        df, "id", "v", k=1, iters=1, quant=512, min_cos=0.9, dim=2, max_cell=50
    ).collect()
    assert len(out) == 300
    kept = [r.id for r in out if r.kept]
    # identical vectors -> one sub-cell (same hash): exactly one keeper
    assert len(kept) == 1
    # and unguarded gives the same single keeper
    out2 = semdedup_kmeans(
        df, "id", "v", k=1, iters=1, quant=512, min_cos=0.9, dim=2
    ).collect()
    assert [r.id for r in out2 if r.kept] == kept


# ------------------------------------------- st13: streaming model serving


def test_st13_stream_serves_batch_model_exactly(spark):
    """The streamed cluster counts equal the batch k-means assignment
    grouped by the same hour windows — the trained integer model is
    engine-location-independent (JVM zip_with fold in the stream vs the
    numpy kernel in batch)."""
    from era_parser_spark.operators.similarity import kmeans_lloyd
    from era_parser_spark.queries import load_all

    q, _ = load_all()
    sf = "/root/testdata/sf0.001"
    stream_rows = {
        (r.window_start, r.cluster): r.cnt
        for r in q["st13_stream_cluster_counts"](spark, sf).collect()
    }
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    batch = kmeans_lloyd(
        emb, "vec_id", "embedding", k=8, iters=2, quant=1_000_000, dim=64
    )
    batch_rows = {
        (r.window_start, r.cluster): r.cnt
        for r in batch.groupBy(
            F.window(
                F.timestamp_micros(F.col("vec_id") * 60_000_000), "1 hour"
            ).alias("w"),
            "cluster",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "cluster", "cnt")
        .collect()
    }
    assert stream_rows == batch_rows and len(stream_rows) > 0


def test_kmeans_model_is_partitioning_invariant(spark):
    """The trained model (integer partial sums + floor-division means)
    must be bit-identical under any row order / partitioning — the
    property that makes the SQL oracle possible at all.  Train on the
    natural layout and on a reversed, repartitioned layout: same
    centroids, same assignments."""
    import numpy as np

    from era_parser_spark.operators.similarity import kmeans_fit, kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    shuffled = emb.orderBy(F.desc("vec_id")).repartition(7)
    cids_a, C_a, _ = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2, dim=64)
    cids_b, C_b, _ = kmeans_fit(shuffled, "vec_id", "embedding", k=8, iters=2, dim=64)
    assert list(cids_a) == list(cids_b)
    assert np.array_equal(C_a, C_b)
    a = {r.vec_id: (r.cluster, r.dist_sq) for r in kmeans_lloyd(
        emb, "vec_id", "embedding", k=8, iters=2, dim=64).collect()}
    b = {r.vec_id: (r.cluster, r.dist_sq) for r in kmeans_lloyd(
        shuffled, "vec_id", "embedding", k=8, iters=2, dim=64).collect()}
    assert a == b


def test_dsir_weights_are_partitioning_invariant(spark):
    """p16's weights are pure functions of the token multisets — row
    order and partitioning must not move a single integer."""
    from era_parser_spark.operators.curation import dsir_importance

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw, tgt = docs.filter("doc_id % 17 != 0"), docs.filter("doc_id % 17 = 0")
    a = {r.doc_id: (r.w_sum, r.n_tokens) for r in dsir_importance(
        raw, tgt, "doc_id", "text").collect()}
    raw2 = raw.orderBy(F.desc("doc_id")).repartition(5)
    b = {r.doc_id: (r.w_sum, r.n_tokens) for r in dsir_importance(
        raw2, tgt, "doc_id", "text").collect()}
    assert a == b and len(a) > 0


def test_kmeans_kcenter_init_uses_farthest_seeds(spark):
    """init='kcenter' seeds Lloyd's with the farthest-point set: on two
    tight blobs whose first TWO ids sit in the same blob, first_k init
    (iters=0) lumps blob B with one A-seed, while kcenter init separates
    the blobs immediately — and cluster indexes follow seed-id rank."""
    from era_parser_spark.operators.similarity import kmeans_lloyd

    rows = [(i, [1.0 + 0.001 * i, 0.0]) for i in range(10)]
    rows += [(i, [0.0, 1.0 + 0.001 * i]) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    kc = {r.id: r.cluster for r in kmeans_lloyd(
        df, "id", "v", k=2, iters=0, quant=1000, dim=2, init="kcenter").collect()}
    assert {kc[i] for i in range(10)} == {0}        # seed id 0 -> cluster 0
    assert {kc[i] for i in range(10, 20)} == {1}    # farthest seed in blob B
    fk = {r.id: r.cluster for r in kmeans_lloyd(
        df, "id", "v", k=2, iters=0, quant=1000, dim=2).collect()}
    assert {fk[i] for i in range(10, 20)} == {0}    # first_k: both seeds in A


# ------------------------------------------------- p18: budget waterfill


def test_budget_waterfill_hand_allocation(spark):
    """caps a=10, b=100, c=100, budget=110: a is capped (10*3 <= 110),
    b/c split the remaining 100 as 50/50; with budget=109 the odd token
    goes to the first uncapped group in (cap, name) order."""
    from era_parser_spark.operators.curation import budget_waterfill

    df = spark.createDataFrame(
        [("a", 10), ("b", 100), ("c", 100)], "src string, nt long"
    )
    out = {r.src: r for r in budget_waterfill(df, "src", "nt", budget=110).collect()}
    assert (out["a"].allocated_tokens, out["a"].capped) == (10, True)
    assert out["b"].allocated_tokens == 50 and not out["b"].capped
    assert out["c"].allocated_tokens == 50
    out = {r.src: r for r in budget_waterfill(df, "src", "nt", budget=109).collect()}
    assert (out["b"].allocated_tokens, out["c"].allocated_tokens) == (50, 49)
    assert sum(r.allocated_tokens for r in out.values()) == 109


def test_budget_waterfill_edges(spark):
    """budget >= total -> every group capped at availability; budget 0 ->
    zero allocations; allocations never exceed availability."""
    from era_parser_spark.operators.curation import budget_waterfill

    df = spark.createDataFrame(
        [("a", 7), ("b", 3), ("c", 0)], "src string, nt long"
    )
    out = {r.src: r for r in budget_waterfill(df, "src", "nt", budget=100).collect()}
    assert all(out[s].capped for s in "abc")
    assert [out[s].allocated_tokens for s in "abc"] == [7, 3, 0]
    out0 = budget_waterfill(df, "src", "nt", budget=0).collect()
    assert all(r.allocated_tokens == 0 for r in out0)


# ---------------------------------------------------------- mm9: pHash


def test_phash_brightness_invariance_vs_ahash(spark):
    """pHash's reason to exist: a uniform brightness shift moves every
    cell, flipping aHash-style mean-threshold bits, but only scales the
    DC term — the 63 AC-coefficient comparisons against their median are
    unchanged, so the pHash is IDENTICAL; a real content change is not."""
    from era_parser_spark.operators.multimodal import phash_signatures

    base = bytes(range(40, 160))
    brighter = bytes(b + 40 for b in base)
    changed = bytes(base[:60] + bytes([255, 0, 255, 0]) + base[64:])
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(brighter)), (3, bytearray(changed)),
         (4, None), (5, bytearray(b""))],
        "media_id long, payload binary",
    )
    out = {r.media_id: r.phash for r in phash_signatures(df).collect()}
    assert set(out) == {1, 2, 3}          # null/empty payloads emit no row
    assert out[1] == out[2]               # brightness-invariant
    assert out[1] != out[3]               # content-sensitive


def test_phash_near_pairs_finds_perturbed_twin(spark):
    """A few flipped bytes = small hamming; unrelated payloads sit far
    apart; the banding finds the twin pair pigeonhole-exactly."""
    from era_parser_spark.operators.multimodal import phash_near_pairs

    a = bytes((i * 7) % 256 for i in range(300))
    twin = bytearray(a); twin[13] ^= 0xFF
    other = bytes((i * 131 + 17) % 256 for i in range(300))
    df = spark.createDataFrame(
        [(1, bytearray(a)), (2, twin), (3, bytearray(other))],
        "media_id long, payload binary",
    )
    pairs = {(r.media_a, r.media_b): r.hamming
             for r in phash_near_pairs(df, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_p19_curation_v4_composition(spark):
    """Fixture traces every v4 stage: off-target docs fall to the DSIR
    median gate, semantic clones of a kept doc lose all but the
    farthest-from-centroid copy, the bench slice never appears, and
    survivors carry a split."""
    import era_parser_spark.queries.pipeline as P
    from era_parser_spark.queries import load_all

    q, _ = load_all()
    fruit = "apple banana cherry mango papaya lychee guava durian " * 5
    tech = "kernel mutex pointer segfault compiler linker symbol stack " * 5
    rows = [
        (17, fruit),            # bench slice (17 % 17 == 0) — never output
        (1, fruit),             # on-target, survives the gate
        (2, fruit + "x "),      # near-clone of 1 -> same cluster, one keeper
        (3, tech),              # off-target -> below the median gate
        (4, tech + "y "),       # off-target
        (5, fruit[: len(fruit) // 2]),  # on-target, shorter
    ]
    ev = spark.createDataFrame(rows, "doc_id long, text string")
    orig = P.table
    try:
        P.table = lambda spark, sf_dir, name: ev
        out = {r.doc_id: r for r in q["p19_curation_v4"](spark, "x").collect()}
    finally:
        P.table = orig
    assert 17 not in out and 3 not in out and 4 not in out
    # the fruit clones: exactly one of {1, 2} survives the semantic dedup
    assert len({1, 2} & set(out)) == 1
    assert all(r.split in ("train", "val", "test") for r in out.values())


# ------------------------------------------------- x35: sequenceMatch


def test_sequence_match_chain_semantics(spark):
    """Earliest-chain rule: a click BEFORE the first view doesn't count;
    the chain's t2 is the first click AFTER t1; matched iff the full
    chain completes in order at any horizon."""
    from era_parser_spark.queries import load_all
    import era_parser_spark.queries.extended as X

    q, _ = load_all()
    rows = [
        # u1: click(1) precedes view(2) -> t2 is the later click(5); buys(7)
        (1, 1, "click"), (1, 2, "view"), (1, 5, "click"), (1, 7, "purchase"),
        # u2: right order but purchase precedes click -> unmatched
        (2, 1, "view"), (2, 5, "purchase"), (2, 6, "click"),
        # u3: no view at all
        (3, 2, "click"), (3, 3, "purchase"),
    ]
    ev = spark.createDataFrame(
        [(u, __import__("datetime").datetime(2024, 1, 1, 0, 0, s), e)
         for u, s, e in rows],
        "user_id long, ts timestamp, event_type string",
    )
    orig = X.table
    try:
        X.table = lambda spark, sf_dir, name: ev
        out = {r.user_id: r for r in q["x35_sequence_match"](spark, "x").collect()}
    finally:
        X.table = orig
    assert out[1].matched and out[1].t2.second == 5 and out[1].t3.second == 7
    assert not out[2].matched and out[2].t2.second == 6 and out[2].t3 is None
    assert not out[3].matched and out[3].t1 is None


def test_sequence_match_single_exchange(spark):
    """All three chained windows and the per-user collapse share ONE
    user_id exchange; no Join operator."""
    import re

    from era_parser_spark.queries import load_all

    q, _ = load_all()
    df = q["x35_sequence_match"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan


def test_sequence_count_non_overlapping(spark):
    """CH restart-after-match semantics: vcp|vcp counts 2; interleaved
    vvccpp counts 1 (the chain consumes through the first p); a chain
    missing its click counts 0."""
    from era_parser_spark.queries import load_all
    import era_parser_spark.queries.extended as X
    import datetime as dt

    q, _ = load_all()
    seqs = {1: "vcpvcp", 2: "vvccpp", 3: "vpvp", 4: "cvpcp"}
    rows = []
    eid = 0
    for u, s in seqs.items():
        for i, ch in enumerate(s):
            ev = {"v": "view", "c": "click", "p": "purchase"}[ch]
            rows.append((eid, u, dt.datetime(2024, 1, 1, 0, 0, i), ev))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    orig = X.table
    try:
        X.table = lambda spark, sf_dir, name: ev
        out = {r.user_id: r.n_chains for r in q["x36_sequence_count"](spark, "x").collect()}
    finally:
        X.table = orig
    assert out == {1: 2, 2: 1, 3: 0, 4: 1}


def test_stream_sequence_count_across_microbatches(spark, tmp_path_factory):
    """st14: the 2-int automaton state carries a half-open chain across
    micro-batches — a chain completing in a later batch bumps the count
    and emits; a batch that advances the stage without completing a
    chain emits nothing."""
    import uuid as _uuid

    from era_parser_spark.streaming.incremental import (
        run_stream_once,
        sequence_count_monitor,
    )

    def rows_df(rows):
        return spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string, us long"
        )

    src = tmp_path_factory.mktemp("st14_src")
    # batch1: u1 completes one chain AND starts another (v c p v);
    # u2 reaches stage 2 (v c) — no chain yet
    rows_df([
        (1, 1, "view", 10), (1, 2, "click", 20), (1, 3, "purchase", 30),
        (1, 4, "view", 40),
        (2, 5, "view", 10), (2, 6, "click", 20),
    ]).coalesce(1).write.parquet(str(src / "a_b1"))
    # batch2: u1's open chain completes (c p) -> count 2 and emits;
    # u2 sees another click (still stage 2) -> NO emission
    rows_df([
        (1, 7, "click", 50), (1, 8, "purchase", 60),
        (2, 9, "click", 55),
    ]).coalesce(1).write.parquet(str(src / "b_b2"))
    # batch3: u2's purchase completes the cross-batch chain -> count 1
    rows_df([
        (2, 10, "purchase", 70),
    ]).coalesce(1).write.parquet(str(src / "c_b3"))
    stream = (
        spark.readStream.schema("user_id long, event_id long, event_type string, us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = run_stream_once(
        sequence_count_monitor(stream), f"st14t_{_uuid.uuid4().hex[:8]}"
    )
    emitted = [(r.user_id, r.n_chains) for r in out.collect()]
    assert sorted(emitted) == [(1, 1), (1, 2), (2, 0), (2, 1)]


def test_sequence_count_strict_order(spark):
    """strict_order: an intervening tracked event (the stray v in vcvp)
    breaks the chain; untracked events (signup/error) pass through; a
    failed start retries from the next tracked event (vvcp counts 1)."""
    from era_parser_spark.queries import load_all
    import era_parser_spark.queries.extended as X
    import datetime as dt

    q, _ = load_all()
    seqs = {1: "vcp", 2: "vsecp", 3: "vcvp", 4: "vvcp", 5: "vcpvcp"}
    names = {"v": "view", "c": "click", "p": "purchase", "s": "signup", "e": "error"}
    rows = []
    eid = 0
    for u, s in seqs.items():
        for i, ch in enumerate(s):
            rows.append((eid, u, dt.datetime(2024, 1, 1, 0, 0, i), names[ch]))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    orig = X.table
    try:
        X.table = lambda spark, sf_dir, name: ev
        out = {r.user_id: r.n_chains
               for r in q["x37_sequence_count_strict"](spark, "x").collect()}
    finally:
        X.table = orig
    assert out == {1: 1, 2: 1, 3: 0, 4: 1, 5: 2}
