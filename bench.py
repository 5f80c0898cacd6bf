"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized through the noop sink (no driver collect
cost, no result truncation), timed end-to-end including planning.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "e03_time_bucket",
    "e05_topk",
    "e07_join_left_group",
    "e10_gap_detect",
    "e15_collect_list",
    "d2_latest_state",
    "dd1_exact_dedup",
    "dd2_ngram_jaccard_topk",
    "dd3_minhash_lsh",
    "dd5_dup_clusters",
    "p1_curation_pipeline",
    "p2_sequence_packing",
    "t2_quality_score",
    "t3_lang_id",
    "t6_term_salience",
    "t7_repetition_ratio",
    "s1_cosine_topk",
    "s3_embedding_dup_pairs",
    "s5_knn_join",
    "s6_srp_lsh_pairs",
    "dd8_semdedup",
    "t9_boilerplate_strip",
    "x10_salted_skew_join",
    "x12_kmv_distinct",
    "x13_funnel_stages",
    # round-5 session-2 additions (like-for-like vs r4: these three add
    # ~8 s to the suite total; r4's list is the first 29 entries)
    "t10_pii_redact",
    "dd9_fuzzy_dedup_pipeline",
    "dd10_shared_spans",
    # round-6 additions (like-for-like vs r5: list above is unchanged)
    "dd9b_fuzzy_dedup_estimate",
    "dd13_tfidf_cosine_pairs",
    "t15_line_dedup",
    "t17_bigram_lm_score",
    "s10_pq_codes",
    "x23_countmin_sketch",
    # round-7 additions (like-for-like vs r6: list above is unchanged)
    "s11_ivf_pq_search",
    "t19_quality_classifier",
    "s11b_ivf_pq_residual",
    "s11c_ivf_pq_rerank",
    "t20_gopher_rules",
    "p11_weighted_sample",
    "t21_perplexity_buckets",
    "p12_curation_v2",
    "s13_ann_knn_join",
    "t22_bm25_topk",
    "s14_sq8_topk",
    "mm8_speech_segments",
    "x26_label_propagation",
    "x27_kmv_intersection",
    "t23_fix_mojibake",
    "t24_chunk_windows",
    "x29_grid_interpolate",
    "t25_ngram_novelty",
    "p13_corpus_report",
    # round-7 session-3 additions (like-for-like vs earlier r7 sessions:
    # list above is unchanged)
    "t26_hash_embed",
    "t27_readability",
    "x30_window_funnel",
    "x31_retention_cohorts",
    "x32_triangle_count",
    "x33_hll_distinct",
    "dd16_remove_shared_spans",
    "s15_hashed_semantic_pairs",
    "dd17_semantic_decontaminate",
    "p14_snapshot_diff",
    "t28_c4_rules",
    "t29_gopher_repetition",
    "x34_hll_sliding",
    "p15_curation_v3",
    # round-7 session-4 additions
    "s16_kmeans_lloyd",
    "dd18_semdedup_kmeans",
    "p16_dsir_importance",
    "s17_kcenter_greedy",
    "t30_rake_keywords",
    "p17_source_drift_chi2",
    "st13_stream_cluster_counts",
    "s18_kmeans_kcenter_init",
    "p18_budget_waterfill",
    "mm9_image_phash_pairs",
    "p19_curation_v4",
    "x35_sequence_match",
    "x36_sequence_count",
    "st14_stream_sequence_count",
    "x37_sequence_count_strict",
    # round-8 additions
    "dd9c_fuzzy_dedup_quality_keeper",
    "t31_bpe_merges",
    "t32_bpe_token_counts",
    "p20_curation_v5",
    "t33_suffix_ranks",
    # exact SA+LCP walk: 9 levels x 2 pair joins — the priciest entry by
    # design (exact longest-repeat); volume-justified in docs/PLANS.md
    "t34_longest_repeat",
    "x38_peak_concurrency",
    # round-9 additions
    # t35 is the new priciest entry BY DESIGN (global suffix ranks +
    # full 14-level LCP walk, no early stop possible on real corpora
    # with cross-doc duplication) — ~31 s at sf0.1 in a quiet window;
    # volume-justified in docs/PLANS.md (per-token shuffle measured
    # FLAT 8x->32x), dd10/dd16 are its cheap l-gram approximations
    "t35_cross_doc_span",
    "t36_wordpiece_merges",
    "t37_wordpiece_token_counts",
    "x39_kcore",
    "x40_mad_outliers",
    "st15_stream_mad_outlier_counts",
    "x41_state_durations",
    # round-10 additions (t35 itself re-planned this round: fused
    # construction + pair-count-adaptive LCP walk, 31 -> ~14 s solo)
    "t38_wordpiece_greedy_counts",
    "x42_bfs_distances",
    "st16_stream_asof_enrich",
    "x43_gapfill_locf",
    "p21_curation_v6",
    # round-11 additions: chunked suffix routing for oversized docs
    "t39_cross_doc_span_chunked",
    "t40_longest_repeat_chunked",
    "st17_stream_token_budget",
    "mm10_phash_dup_clusters",
]


ERA_BENCH_FILES = 64
# Per-file block count: real era files hold up to 8192 slots; 4096 keeps
# one-time generation manageable while making the corpus big enough that
# measured throughput reflects the parse kernel, not Spark's fixed per-job
# overhead (at 512 blocks/file the job floor dominated the number).
ERA_BENCH_BLOCKS = 4096


def _gen_one_era(args: tuple[str, int]) -> int:
    path, era = args
    from era_parser_spark.testing.era_gen import write_synthetic_era

    return len(write_synthetic_era(path, era, "gnosis", blocks=ERA_BENCH_BLOCKS))


def _era_bench_dir() -> tuple[str, int]:
    """Cached synthetic era corpus for parse-throughput measurement."""
    import glob
    from concurrent.futures import ProcessPoolExecutor

    from era_parser_spark.testing.era_gen import era_filename

    d = f"/tmp/era_bench_{ERA_BENCH_FILES}x{ERA_BENCH_BLOCKS}"
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        jobs = [
            (os.path.join(d, era_filename("gnosis", 1800 + i)), 1800 + i)
            for i in range(ERA_BENCH_FILES)
        ]
        workers = min(16, os.cpu_count() or 4)
        with ProcessPoolExecutor(max_workers=workers) as pool:
            n = sum(pool.map(_gen_one_era, jobs))
        with open(marker, "w") as f:
            f.write(str(n))
    else:
        n = int(open(marker).read())
    assert glob.glob(os.path.join(d, "*.era"))
    return d, n


def bench_era_parse(spark, times: dict[str, float]) -> dict:
    """End-to-end era parse throughput: binary scan -> snappy+SSZ decode ->
    typed blocks DF -> attestations explode + aggregate.  The reference's
    single-process baseline is ~7k blocks/s on deneb
    (docs/NETWORK_FORKS.md:272); this measures the same work distributed."""
    from era_parser_spark.operators.normalize import attestations_table
    from era_parser_spark.sources.era import read_era_blocks

    d, n_blocks = _era_bench_dir()
    # pre-touch the corpus into the page cache: the "full" number measures
    # the engine's first-scan cost (codegen, python workers, parse), not
    # whatever this host's disk happens to be doing — whether the previous
    # process evicted the cache swings raw first-reads 2.5s vs 9s
    import glob as _glob

    for f in _glob.glob(os.path.join(d, "*.era")):
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass
    t0 = time.perf_counter()
    blocks = read_era_blocks(spark, d, glob="*.era")
    got = blocks.count()
    dt = time.perf_counter() - t0
    times["era_parse_scan"] = round(dt, 3)
    # warm-executor scans: the steady-state number a long-lived job sees
    # (the reference's figure is also from a warm process loop).  Best-of-2
    # like every other bench query — the first warm pass still pays some
    # Python-worker/JIT warmup.
    dt_warm = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        read_era_blocks(spark, d, glob="*.era").count()
        dt_warm = min(dt_warm, time.perf_counter() - t0)
    times["era_parse_scan_warm"] = round(dt_warm, 3)

    t1 = time.perf_counter()
    atts = attestations_table(
        read_era_blocks(spark, d, glob="*.era", tables=["attestations"])
    )
    atts.groupBy("committee_index").count().write.format("noop").mode("overwrite").save()
    times["era_parse_pruned_normalize"] = round(time.perf_counter() - t1, 3)

    assert got == n_blocks, f"parse dropped blocks: {got} != {n_blocks}"
    return {
        "era_files": ERA_BENCH_FILES,
        "era_blocks": n_blocks,
        "blocks_per_sec_full": round(n_blocks / dt, 1),
        "blocks_per_sec_warm": round(n_blocks / dt_warm, 1),
        "reference_single_core_blocks_per_sec": 7000,
    }


def bench_scaling(spark) -> dict:
    """Marginal per-core scan efficiency at 1/8/32 tasks.

    The headline blocks/s number conflates fixed job overhead with marginal
    parse cost on a 2-second job; this isolates scaling by pinning the scan
    to n tasks (paths-only repartition) and comparing per-task throughput
    against the 1-task run.  The 1-task run uses a quarter of the corpus so
    it stays ~5 s; throughput ratios don't need equal corpora.

    Note on reading the numbers: n tasks == n concurrent cores with equal
    files per task, so there are no extra waves to hide a slow core — the
    wall-clock is gated by the slowest core (saturated worst case).  The
    era_parse section's warm number (64 tasks on 32 cores, 2 waves) shows
    the same corpus with overdecomposition smoothing that tail out; the
    gap between them is scheduler headroom, not kernel cost.
    """
    import glob as _glob

    from era_parser_spark.sources.era import read_era_blocks

    d, _ = _era_bench_dir()
    files = sorted(_glob.glob(os.path.join(d, "*.era")))
    runs: dict[str, dict] = {}
    for n_tasks, subset in ((1, files[: len(files) // 4]), (8, files), (32, files)):
        best, blocks = float("inf"), 0
        for _ in range(2):  # best-of-2: steady-state, page cache warm
            t0 = time.perf_counter()
            blocks = read_era_blocks(spark, subset, partitions=n_tasks).count()
            best = min(best, time.perf_counter() - t0)
        runs[str(n_tasks)] = {
            "files": len(subset),
            "blocks": blocks,
            "sec": round(best, 3),
            "blocks_per_sec": round(blocks / best, 1),
        }
    b1 = runs["1"]["blocks_per_sec"]
    # the pruned blocks+attestations scan at 8/32 pinned tasks
    pruned: dict[str, dict] = {}
    for n_tasks in (8, 32):
        best, blocks = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            blocks = read_era_blocks(
                spark, files, partitions=n_tasks, tables=["blocks", "attestations"],
            ).count()
            best = min(best, time.perf_counter() - t0)
        pruned[str(n_tasks)] = {
            "sec": round(best, 3),
            "blocks_per_sec": round(blocks / best, 1),
        }
    return {
        "runs": runs,
        "per_core_efficiency_vs_1_task": {
            n: round(r["blocks_per_sec"] / (int(n) * b1), 3)
            for n, r in runs.items()
            if n != "1"
        },
        "pruned_scan": pruned,
    }


def _quiesce_and_stop(spark) -> None:
    """Make sure NOTHING gets emitted after the caller prints the JSON line.

    The streaming entries (st13/st14) leave a StateStore maintenance thread
    behind; after ``spark.stop()`` its next tick logs an async
    ``WARN StateStore: ... SparkEnv not active`` stack trace, which trailed
    the round-7 JSON line and made BENCH_r07 unparseable for the driver.
    Order matters: silence the state package's logger first (belt), stop the
    maintenance task itself (braces), then stop the session — only after all
    of that does the caller print.
    """
    for q in spark.streams.active:
        try:
            q.stop()
        except Exception:
            pass
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        off = jvm.org.apache.logging.log4j.Level.OFF
        configurator.setLevel("org.apache.spark.sql.execution.streaming.state", off)
    except Exception:
        pass
    try:
        state_pkg = spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state
        getattr(getattr(state_pkg, "StateStore$"), "MODULE$").stop()
    except Exception:
        pass
    try:
        spark.stop()
    except Exception:
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from era_parser_spark.queries import load_all
    from era_parser_spark.session import get_spark

    queries, _ = load_all()
    # --all: time EVERY registry entry (outlier hunt; wn1's 35s hid outside
    # the headline list for two rounds).  Off by default — the driver's
    # number stays the stable headline suite.
    run_all = "--all" in sys.argv
    headline = (
        [n for n in sorted(queries) if not n.startswith("st")] if run_all else HEADLINE
    )
    # No console progress bar: its \r-rewritten fragments can end up on the
    # same physical line as the final JSON in combined captured output.
    spark = get_spark(
        app_name="era_parser_spark_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # Warm the JVM/codegen paths and the Python worker pool once, so
    # per-query times measure the engine, not first-call class loading or
    # interpreter spawn (the reference's numbers are from a warm process
    # loop too).
    queries["e05_topk"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    from era_parser_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    spark.range(1024).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    for name in headline:
        # best of 2: first run absorbs codegen compile + any host-noise
        # spike; the report is the engine's steady-state cost.  Entries
        # whose best-of-2 still exceeds 8 s get ONE extra run (best-of-3):
        # the heavy pipelines (p20/dd9c class) read 1.5-1.8x high in
        # single-session driver runs two rounds running from one noisy
        # neighbor window — a bounded third sample de-noises the artifact
        # (round-10 verdict #4).
        best = float("inf")
        runs = 0
        while runs < 2 or (runs == 2 and best > 8.0):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            runs += 1
            # intra-query caches (shingle indexes) must not leak across runs
            spark.catalog.clearCache()
        times[name] = round(best, 3)

    era = bench_era_parse(spark, times)
    scaling = bench_scaling(spark)

    detail = json.dumps(
        {
            "metric": "headline_suite_runtime",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "queries": times,
            "sf": sf,
            "era_parse": era,
            "scaling": scaling,
        }
    )
    # The driver keeps only the LAST 2,000 characters of output and parses
    # the final line as the round's BENCH artifact — the full-detail line
    # above is 3.6k+ chars and truncates mid-line (BENCH_r07/r08 were
    # `parsed: null`).  Print full detail FIRST for humans/logs, then a
    # compact final summary line guaranteed to fit the tail window: suite
    # total, era-parse throughput, and the 15 slowest queries.
    top = dict(sorted(times.items(), key=lambda kv: -kv[1])[:15])
    compact = json.dumps(
        {
            "metric": "headline_suite_runtime",
            "value": round(sum(times.values()), 2),
            "unit": "sec",
            "sf": sf,
            "n_queries": len(times),
            "queries": {k: round(v, 2) for k, v in top.items()},
            "queries_note": f"15 slowest of {len(times)}; full set on the detail line above",
            "era_parse": {
                "blocks_per_sec_full": era["blocks_per_sec_full"],
                "blocks_per_sec_warm": era["blocks_per_sec_warm"],
                "reference_single_core_blocks_per_sec": era[
                    "reference_single_core_blocks_per_sec"
                ],
            },
        }
    )
    assert len(compact) < 1900, f"compact bench line too long: {len(compact)}"
    # The JSON line must be the LAST bytes this process emits (the driver
    # tail-parses combined output): quiesce + stop Spark BEFORE printing.
    _quiesce_and_stop(spark)
    print(detail)
    print(compact)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
