"""LLM-tier operational rehearsal: the dedup/curation pipeline at 8x the
bench corpus, with per-phase wall time AND shuffle bytes (Spark REST API).

Round-5 verdict items #4 and #6: the position-window cost of dd10/t11
(shared_token_spans posexplodes the full token stream and window-sorts it
per doc) was unmeasured beyond sf0.1, and the era rehearsal never covered
the LLM tier.  This runs dd10, t11, dd9 (fuzzy dedup), t9 (boilerplate
strip), and p7 (global order) over an 8x documents corpus (40k docs) with
realistic duplicate structure (each replica appends a distinct tail, so
cross-replica docs are near-dups with high containment), recording for
every phase: wall seconds, shuffle write bytes, input bytes — and for the
position-window ops, bytes-shuffled-per-token.

Usage: python tools/rehearsal_llm.py [--replicas 8] [--base /tmp/llm_rehearsal]
Prints one JSON dict.  Run SOLO (never concurrently with bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _rest(spark) -> str:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    return f"{ui}/api/v1/applications/{app}"


def shuffle_totals(spark) -> dict:
    """Cumulative stage totals off the Spark REST API (bytes)."""
    with urllib.request.urlopen(f"{_rest(spark)}/stages?status=complete") as r:
        stages = json.load(r)
    return {
        "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "input": sum(s.get("inputBytes", 0) for s in stages),
    }


def build_corpus(spark, path: str, replicas: int, clone_mode: str = "tail") -> dict:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        df = spark.read.parquet(path)
        return {"docs": df.count(), "cached": True}
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    parts = []
    for k in range(replicas):
        if clone_mode == "exact" or k == 0:
            # clone-mode "exact": every replica is VERBATIM — bit-identical
            # clone groups of size `replicas` (the re-crawled-page shape the
            # md5 collapse in fuzzy_dedup defuses).  Replica 0 is always
            # verbatim.
            text = F.col("text")
        else:
            # clone-mode "tail": later replicas append a distinct tail so
            # cross-replica pairs are near-dups (high containment) that NO
            # exact-collapse can merge — the structure that separates the
            # pair-bounded verify from the sum(df^2) index verify
            text = F.concat(
                F.col("text"),
                F.lit(f" replica tail {k} marker appended for rehearsal"),
            )
        parts.append(
            base.select(
                (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
                text.alias("text"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    allp.repartition(32).write.mode("overwrite").parquet(path)
    return {"docs": spark.read.parquet(path).count(), "cached": False}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=8)
    ap.add_argument("--base", default="/tmp/llm_rehearsal")
    ap.add_argument(
        "--clone-mode", choices=("tail", "exact"), default="tail",
        help="replica structure: 'tail' = near-dup replicas (distinct "
        "tails); 'exact' = bit-identical clone groups",
    )
    ap.add_argument(
        "--uncollapsed", action="store_true",
        help="also measure the round-6 dd9 plan (inverted-index verify, "
        "no exact-collapse) for a before/after in the same host window",
    )
    ap.add_argument(
        "--dd9-only", action="store_true",
        help="run only the dd9 phases (skip dd10/t11/t9/p7)",
    )
    # Exactly one tier runs per invocation — the blocks below are
    # if/elif-shaped, so two flags would silently run only the first and
    # misattribute the artifact.  argparse enforces it instead.
    tier = ap.add_mutually_exclusive_group()
    tier.add_argument(
        "--sim", action="store_true",
        help="run the similarity/pair-join tier (s6 SRP-LSH, dd8 SemDeDup, "
        "dd13 TF-IDF pairs) at 8x instead of the text phases",
    )
    tier.add_argument(
        "--retrieval", action="store_true",
        help="run the retrieval tier (t22 BM25, s14 SQ8 ANN, x26 label "
        "propagation) at 8x instead of the text phases",
    )
    tier.add_argument(
        "--select", action="store_true",
        help="run the session-4 data-selection tier (s16 exact k-means, "
        "dd18 SemDeDup-kmeans, s17 k-center, p16 DSIR, p17 drift, t30 "
        "RAKE) at 8x instead of the text phases",
    )
    tier.add_argument(
        "--cut", action="store_true",
        help="run the session-3 tier (dd16 span cut, t26 hash embed, s15 "
        "hashed pairs, x32 triangles) at 8x instead of the text phases",
    )
    tier.add_argument(
        "--suffix", action="store_true",
        help="run the suffix/BPE tier (t33 per-doc suffix ranks, t34 "
        "longest repeat, t35 cross-doc span, t31 distributed BPE "
        "training, t32 BPE token counts) at 8x instead of the text "
        "phases — round-8 verdict item #5: these had ad-hoc 8x/32x "
        "sessions only; this makes the measurement repeatable",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from era_parser_spark.session import get_spark
    from era_parser_spark.shipping import ensure_package_shipped

    spark = get_spark(
        app_name="llm_rehearsal", extra_conf={"spark.ui.enabled": "true"}
    )
    ensure_package_shipped(spark)

    out: dict = {
        "replicas": args.replicas, "sf_dir": SF_DIR,
        "clone_mode": args.clone_mode,
    }
    suffix = "" if args.clone_mode == "tail" else f"_{args.clone_mode}"
    corpus_path = os.path.join(args.base, f"docs_x{args.replicas}{suffix}")
    t0 = time.perf_counter()
    out["corpus"] = build_corpus(spark, corpus_path, args.replicas, args.clone_mode)
    out["corpus"]["build_sec"] = round(time.perf_counter() - t0, 1)
    docs = spark.read.parquet(corpus_path)
    n_tokens = docs.select(
        F.sum(F.size(F.split(F.trim(F.lower(F.coalesce("text", F.lit("")))), r"\s+")))
    ).first()[0]
    out["corpus"]["tokens"] = int(n_tokens)
    print(f"corpus: {out['corpus']}", file=sys.stderr)

    from era_parser_spark.operators.curation import global_order
    from era_parser_spark.operators.dedup import fuzzy_dedup, shared_token_spans
    from era_parser_spark.operators.text import boilerplate_strip, intra_doc_span_strip

    def phase(name, fn):
        before = shuffle_totals(spark)
        t0 = time.perf_counter()
        n = fn()
        sec = time.perf_counter() - t0
        after = shuffle_totals(spark)
        rec = {
            "sec": round(sec, 1),
            "rows": n,
            "shuffle_write_mb": round(
                (after["shuffle_write"] - before["shuffle_write"]) / 1e6, 1
            ),
            "shuffle_read_mb": round(
                (after["shuffle_read"] - before["shuffle_read"]) / 1e6, 1
            ),
            "input_mb": round((after["input"] - before["input"]) / 1e6, 1),
        }
        out[name] = rec
        print(f"{name}: {rec}", file=sys.stderr)
        return rec

    def build_emb_corpus():
        # embeddings corpus: replicas are NEAR-dups in cosine space (dim 0
        # gets a small per-replica additive offset — deterministic, no
        # RNG), so cross-replica pairs sit above every verify threshold:
        # the dense-cluster stress the bucket/cell guards exist for.
        emb_path = os.path.join(args.base, f"emb_x{args.replicas}")
        if not os.path.exists(os.path.join(emb_path, "_SUCCESS")):
            base_e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
                "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
            )
            eparts = []
            for kk in range(args.replicas):
                pert = F.concat(
                    F.array(F.element_at("embedding", 1) + F.lit(kk * 0.01)),
                    F.slice("embedding", 2, 63),
                )
                eparts.append(
                    base_e.select(
                        (F.col("vec_id") + kk * 1_000_000).alias("vec_id"),
                        (F.col("embedding") if kk == 0 else pert).alias("embedding"),
                    )
                )
            alle = eparts[0]
            for p in eparts[1:]:
                alle = alle.unionByName(p)
            alle.repartition(32).write.mode("overwrite").parquet(emb_path)
        emb8 = spark.read.parquet(emb_path)
        out["emb_corpus"] = {"vectors": emb8.count()}
        print(f"emb corpus: {out['emb_corpus']}", file=sys.stderr)
        return emb8

    if args.retrieval:
        # -- retrieval tier at 8x: the query-serving shapes --
        from era_parser_spark.operators.graph import label_propagation
        from era_parser_spark.operators.similarity import sq8_topk
        from era_parser_spark.operators.text import bm25_topk

        emb8 = build_emb_corpus()
        q = [
            float(x)
            for x in emb8.filter(F.col("vec_id") == 0).first()["embedding"]
        ]
        phase(
            "t22_bm25_topk",
            lambda: bm25_topk(
                docs, "doc_id", "text", ["hash", "join", "vector"], k=10
            ).count(),
        )
        phase(
            "s14_sq8_topk",
            lambda: sq8_topk(
                emb8, "embedding", "vec_id", q, k=10, shortlist=50
            ).count(),
        )
        # link graph off the 8x corpus ids (x25/x26's derived-edge shape):
        # ~320 src hosts x 424 dst hosts over 40k docs
        mk = lambda mult, add, mod: F.concat(  # noqa: E731
            F.lit("h"), ((F.col("doc_id") * mult + add) % mod).cast("string")
        )
        e1 = docs.select(mk(1, 0, 320).alias("src"), mk(7, 3, 424).alias("dst"))
        e2 = docs.select(mk(1, 0, 320).alias("src"), mk(13, 5, 424).alias("dst"))
        edges = e1.unionByName(e2)
        phase(
            "x26_label_propagation",
            lambda: label_propagation(edges, iterations=3).count(),
        )
        print(json.dumps(out))
        return 0

    if args.cut:
        # -- session-3 tier at 8x: the ExactSubstr CUT transform (the one
        # new op whose shuffle is token-granular by design), the hashing-
        # trick embed, its blocked-pair consumer, and triangle counting
        # over the 8x host graph --
        from era_parser_spark.operators.dedup import remove_shared_spans
        from era_parser_spark.operators.graph import triangle_count
        from era_parser_spark.operators.similarity import hashed_semantic_pairs
        from era_parser_spark.operators.text import hash_embed

        # noop writes, NOT .count(): Catalyst prunes the agg/join
        # branches under count() (the left-join base alone answers it),
        # which zeroed these phases' first measurement
        def _noop(d):
            d.write.format("noop").mode("overwrite").save()
            return -1

        r = phase(
            "dd16_remove_shared_spans",
            lambda: _noop(remove_shared_spans(docs, "doc_id", "text")),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        r = phase(
            "t26_hash_embed",
            lambda: _noop(hash_embed(docs, "doc_id", "text", dim=64)),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        # dim scaled with the corpus: cells ~ dim, so 256 cells for 40k
        # docs (the registry's 64 is sized for sf0.01's 500 docs);
        # max_cell bounds the clone-concentration skew
        phase(
            "s15_hashed_pairs_d256",
            lambda: hashed_semantic_pairs(
                docs, "doc_id", "text", dim=256, min_cos=0.9, max_cell=1024
            ).count(),
        )
        phase(
            "s15_hashed_pairs_unguarded",
            lambda: hashed_semantic_pairs(
                docs, "doc_id", "text", dim=256, min_cos=0.9
            ).count(),
        )
        # the registry's dense 53-host graph shape (the 320x424 bipartite
        # derivation has no triangles at all), driven by all 40k docs
        mk = lambda mult, add, mod: F.concat(  # noqa: E731
            F.lit("h"), ((F.col("doc_id") * mult + add) % mod).cast("string")
        )
        e1 = docs.select(mk(1, 0, 40).alias("src"), mk(7, 3, 53).alias("dst"))
        e2 = docs.select(mk(1, 0, 40).alias("src"), mk(13, 5, 53).alias("dst"))
        phase(
            "x32_triangle_count",
            lambda: triangle_count(e1.unionByName(e2)).count(),
        )
        print(json.dumps(out))
        return 0

    if args.select:
        # -- session-4 data-selection tier at 8x: exact k-means (and the
        # SemDeDup built on it), k-center coreset, DSIR weights, drift
        # audit, RAKE.  The kmeans family's per-iteration cost is the
        # number to watch (corpus scans + k*dim partial shuffles) --
        from era_parser_spark.operators.curation import (
            dsir_importance,
            token_drift_chi2,
        )
        from era_parser_spark.operators.similarity import (
            kcenter_greedy,
            kmeans_lloyd,
            semdedup_kmeans,
        )
        from era_parser_spark.operators.text import rake_keywords

        emb8 = build_emb_corpus()
        # k sized to the corpus (the registry's 8 fits 500-2000 vectors;
        # 64 cells over 16k keeps ~250/cell for dd18's Gram kernel)
        phase(
            "s16_kmeans_k64_it2",
            lambda: kmeans_lloyd(
                emb8, "vec_id", "embedding", k=64, iters=2, quant=1_000_000, dim=64
            ).count(),
        )
        phase(
            "dd18_semdedup_kmeans_k64",
            lambda: semdedup_kmeans(
                emb8, "vec_id", "embedding", k=64, iters=2, quant=512,
                min_cos=0.9, dim=64,
            ).count(),
        )
        phase(
            "s17_kcenter_k16",
            lambda: kcenter_greedy(
                emb8, "vec_id", "embedding", k=16, quant=1_000_000, dim=64
            ).count(),
        )
        phase(
            "s18_kmeans_kcenter_init_k16",
            lambda: kmeans_lloyd(
                emb8, "vec_id", "embedding", k=16, iters=2,
                quant=1_000_000, dim=64, init="kcenter",
            ).count(),
        )
        tgt = docs.filter(F.col("doc_id") % 17 == 0)
        raw = docs.filter(F.col("doc_id") % 17 != 0)

        def _noop_w(d):
            # count() lets Catalyst ELIMINATE the final left join (the
            # weight side is unique-keyed) — same pruning trap as the
            # cut tier; a noop write drives every column
            d.write.format("noop").mode("overwrite").save()
            return -1

        r = phase(
            "p16_dsir_importance",
            lambda: _noop_w(dsir_importance(raw, tgt, "doc_id", "text", m=256)),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        # replica index as the drift group: tail replicas carry their
        # appended marker tokens, so groups 1..7 genuinely drifted
        grouped = docs.withColumn(
            "source", (F.col("doc_id") / 1_000_000).cast("long").cast("string")
        )
        phase(
            "p17_drift_chi2_8groups",
            lambda: token_drift_chi2(grouped, "source", "text", m=256).count(),
        )
        r = phase(
            "t30_rake_top3",
            lambda: rake_keywords(docs, "doc_id", "text", top_n=3).count(),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        # p19: the composed v4 pipeline (DSIR median gate -> learned-
        # cluster SemDeDup over hashed embeddings -> split) at the
        # registry's k=8 AND at corpus-sized k — cluster populations
        # scale as n/k and the Gram kernel is quadratic in them, so the
        # FIXED k is the pipeline's scale hazard (measured 129 s vs
        # 16.6 s at 32x; the operator docstring carries the rule)
        from era_parser_spark.operators.curation import curation_v4

        phase(
            "p19_curation_v4_k8",
            lambda: curation_v4(docs, "doc_id", "text", k=8).count(),
        )
        phase(
            "p19_curation_v4_k64",
            lambda: curation_v4(docs, "doc_id", "text", k=64).count(),
        )
        print(json.dumps(out))
        return 0

    if args.suffix:
        # -- suffix-array / tokenizer tier at 8x: the exact-substring
        # family (per-doc + global prefix doubling) and distributed BPE.
        # The numbers to watch: t33/t35 shuffle bytes PER TOKEN (the
        # construction is O(n log n) longs; 8x->32x must stay linear in
        # positions) and t31's per-round shuffle (must be
        # volume-INDEPENDENT — O(distinct words), the property that
        # makes distributed tokenizer training safe at corpus scale) --
        from era_parser_spark.operators.dedup import tokens_col
        from era_parser_spark.operators.suffix import (
            longest_cross_doc_span,
            longest_repeated_span,
            suffix_ranks,
        )
        from era_parser_spark.operators.tokenizer import bpe_merges_distributed

        def _noop(d):
            # noop writes, NOT .count(): count() can prune join/window
            # branches (the cut/select tiers' lesson) — drive every column
            d.write.format("noop").mode("overwrite").save()
            return -1

        r = phase(
            "t33_suffix_ranks",
            lambda: _noop(suffix_ranks(docs, "doc_id", "text")),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        r = phase(
            "t34_longest_repeat",
            lambda: _noop(longest_repeated_span(docs, "doc_id", "text")),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        # the 8x corpus is the WORST CASE for t35: every tail-mode
        # replica shares its entire base text with 7 others, so the
        # global rank table refines for ~log2(max doc len) rounds with
        # massive tie classes — exactly the cross-doc duplication
        # structure ExactSubstr dedup exists for
        r = phase(
            "t35_cross_doc_span",
            lambda: _noop(longest_cross_doc_span(docs, "doc_id", "text")),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        # chunked routing (round 11) with a cap that forces ~every doc
        # through chunking (cap 64 / overlap 32 on ~99-token docs -> 3
        # chunks each): the price of routing is the position multiplier
        # ~ C/(C-V) (~1.9x here) plus the unit-map join; bytes are
        # reported per ORIGINAL token so the multiplier is visible
        from era_parser_spark.operators.suffix import (
            longest_cross_doc_span_chunked,
        )

        r = phase(
            "t39_chunked_c64_v32",
            lambda: _noop(
                longest_cross_doc_span_chunked(
                    docs, "doc_id", "text", max_doc_tokens=64, chunk_overlap=32
                )
            ),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        from era_parser_spark.operators.suffix import (
            longest_repeated_span_chunked,
        )

        r = phase(
            "t40_repeat_chunked_c64_v32",
            lambda: _noop(
                longest_repeated_span_chunked(
                    docs, "doc_id", "text", max_doc_tokens=64, chunk_overlap=32
                )
            ),
        )
        r["shuffle_bytes_per_token"] = round(
            r["shuffle_write_mb"] * 1e6 / n_tokens, 1
        )
        r = phase(
            "t31_bpe_merges_8rounds",
            lambda: bpe_merges_distributed(docs, "text", n_merges=8).count(),
        )
        # per-round shuffle is the volume-independence claim; 8 rounds +
        # the one corpus-volume word-table build
        r["shuffle_write_mb_per_round"] = round(r["shuffle_write_mb"] / 8, 2)
        from era_parser_spark.operators.tokenizer import (
            wordpiece_merges_distributed,
        )

        r = phase(
            "t36_wordpiece_merges_8rounds",
            lambda: wordpiece_merges_distributed(
                docs, "text", n_merges=8, min_pair_count=3
            ).count(),
        )
        r["shuffle_write_mb_per_round"] = round(r["shuffle_write_mb"] / 8, 2)

        def _t32():
            _, vocab = bpe_merges_distributed(
                docs, "text", n_merges=8, return_vocab=True
            )
            words = (
                docs.filter(F.col("text").isNotNull() & (F.trim("text") != ""))
                .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w"))
                .filter(F.length("w") > 0)
            )
            return _noop(
                words.join(vocab.select("w", F.size("syms").alias("__n")), "w")
                .groupBy("doc_id")
                .agg(F.sum("__n").cast("long").alias("bpe_tokens"))
            )

        phase("t32_bpe_token_counts", _t32)
        print(json.dumps(out))
        return 0

    if args.sim:
        # -- similarity / pair-join tier at 8x (round-7 verdict item #4) --
        from era_parser_spark.operators.dedup import tfidf_cosine_pairs
        from era_parser_spark.operators.similarity import (
            centroid_table,
            semantic_dedup,
            srp_lsh_pairs,
        )

        emb8 = build_emb_corpus()

        # planes sized to the corpus (12 bits ~ 4096 buckets for 16k
        # vectors; the registry's 8 bits is sized for sf0.01's 500)
        phase(
            "s6_srp_lsh_pairs",
            lambda: srp_lsh_pairs(
                emb8, "embedding", "vec_id",
                n_tables=4, n_planes=12, top_pairs=100, dim=64,
            ).count(),
        )
        cents = centroid_table(emb8, "embedding", "vec_id", stride=5, k=256)
        phase(
            "dd8_semantic_dedup",
            lambda: semantic_dedup(
                emb8, "embedding", "vec_id", cents, threshold=0.95
            ).count(),
        )
        phase(
            "dd13_tfidf_pairs",
            lambda: tfidf_cosine_pairs(
                docs, "doc_id", "text", top_pairs=100, max_doc_freq=100
            ).count(),
        )
        from era_parser_spark.operators.dedup import tfidf_pairs_bounded

        # the round-7 composition: rare-term blocking + pair-bounded TRUE
        # cosine — cutoff sized to the 8x corpus (base df x8)
        phase(
            "dd13b_tfidf_bounded",
            lambda: tfidf_pairs_bounded(
                docs, "doc_id", "text", threshold=0.8, max_df_candidates=800
            ).count(),
        )
        print(json.dumps(out))
        return 0

    if not args.dd9_only:
        r = phase(
            "dd10_shared_spans",
            lambda: shared_token_spans(docs, "doc_id", "text").count(),
        )
        r["shuffle_bytes_per_token"] = round(r["shuffle_write_mb"] * 1e6 / n_tokens, 1)
        r = phase(
            "t11_intra_doc_strip",
            lambda: intra_doc_span_strip(docs, "doc_id", "text").count(),
        )
        r["shuffle_bytes_per_token"] = round(r["shuffle_write_mb"] * 1e6 / n_tokens, 1)
    phase(
        "dd9_fuzzy_dedup",
        lambda: fuzzy_dedup(docs, "doc_id", "text", threshold=0.5).filter("kept").count(),
    )
    phase(
        "dd9_fuzzy_dedup_estimate",
        lambda: fuzzy_dedup(
            docs, "doc_id", "text", threshold=0.5, verify="estimate"
        ).filter("kept").count(),
    )
    if args.uncollapsed:
        # the round-6 plan: inverted-index verification over every
        # document (no exact-clone collapse), then CC; kept = min id
        from era_parser_spark.operators.dedup import minhash_lsh_dedup_pairs
        from era_parser_spark.operators.graph import (
            cluster_sizes,
            connected_components,
        )

        def _uncollapsed():
            edges = minhash_lsh_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
            comps = connected_components(
                docs.select("doc_id"), edges.select("doc_a", "doc_b"),
                id_col="doc_id", src_col="doc_a", dst_col="doc_b",
            )
            return cluster_sizes(comps, id_col="doc_id").filter(
                F.col("doc_id") == F.col("cluster_id")
            ).count()

        phase("dd9_fuzzy_dedup_round6_plan", _uncollapsed)
    if not args.dd9_only:
        phase(
            "t9_boilerplate_strip",
            lambda: boilerplate_strip(docs, "doc_id", "text").count(),
        )
        phase(
            "p7_global_order",
            lambda: global_order(
                docs.select("doc_id", F.length("text").alias("n")), "n", "doc_id"
            ).count(),
        )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
