"""Query registry: named DataFrame builders + their DuckDB oracle SQL.

Every operator from SURVEY.md §2 that we claim as implemented registers here;
``__spark_entry__.py`` re-exports the two dicts for the driver's correctness
gate.  Callables take ``(spark, sf_dir)`` and return a DataFrame; the oracle
SQL runs in DuckDB over the same parquet files (views pre-registered by the
driver).

Determinism rules (so the order-insensitive value-hash matches DuckDB):
  * every computed column is aliased identically on both sides;
  * aggregates over doubles go through DECIMAL(18,4) so the sum is exact and
    order-independent, then cast back to DOUBLE (see exprs.dsum/davg);
  * row-level double arithmetic is left raw — IEEE ops are bit-identical;
  * every LIMIT carries a total tie-breaking ORDER BY.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Register a query builder, optionally with its DuckDB oracle SQL.

    Builders are wrapped to ship the package to executors first, so queries
    that carry Python UDF closures (simhash, mapInPandas feature extractors)
    work regardless of the driver's working directory.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from era_parser_spark.shipping import ensure_package_shipped

            ensure_package_shipped(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Columns written as parquet TIMESTAMP(NANOS) — Spark can't scan those
# natively, so we read them as raw nanos (legacy flag) and truncate to µs,
# matching how DuckDB surfaces them to Python (datetime is µs-precision).
_NANOS_TS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Read one benchmark table.

    ``fan_out=True`` (round 12, guide §2.3): round-robin-repartition the
    scan to the session's parallelism WHEN its planned split count is
    lower.  A small single-row-group parquet file plans as ONE split
    (file splitting can't cross row groups), so a CPU-heavy narrow
    pipeline over it — tokenize / shingle / hash / gate per row —
    serializes on one core.  Scale-adaptive by construction: any corpus
    big enough to split past the cluster's core count is untouched, so
    the one bounded round-robin pass (<= corpus bytes) fires exactly
    when the scan undersubscribes the cluster.  Opt-in per call site
    because it trades one exchange for parallelism: right for the
    composite curation/dedup pipelines whose scan feeds seconds of
    per-row CPU, wrong for the zero-shuffle projection operators (their
    plan-audit pins keep them exchange-free) and for fact tables whose
    consumers re-exchange on join/group keys immediately anyway."""
    if name in _NANOS_TS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS.get(name, ()):
        field = df.schema[col]
        if field.dataType.simpleString() == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if fan_out:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


# The driver's external correctness gate samples the FIRST 50 registry
# entries (dict insertion order).  Rounds 1-8 registered by module, so the
# gate checked the same e/dd/mm/s1 prefix every round and never externally
# verified the selection, BPE, suffix, pipeline, sequence-analytics, or
# streaming tiers (round-8 verdict, "Next round #2").  This list reorders
# the first 50 to a representative cross-section of every family — e01-e20
# (SURVEY §2.E), flagship dedup / similarity / text / pipeline / analytics /
# streaming entries, state ops, and a TPC-H query.  Oracles are untouched;
# everything not listed keeps its module registration order after these.
_FIRST_50 = [
    # §2.E analytical workload (kept: maps SURVEY §2.E one-to-one)
    "e01_filter_project",
    "e02_group_agg",
    "e03_time_bucket",
    "e04_count_distinct",
    "e05_topk",
    "e06_having",
    "e07_join_left_group",
    "e08_full_outer",
    "e09_union_conform",
    "e10_gap_detect",
    "e11_window_over_all",
    "e12_pct_of_total",
    "e13_case_classify",
    "e14_json_extract",
    "e15_collect_list",
    "e16_stddev",
    "e17_derived_metric",
    "e18_string_cast",
    "e19_empty_guard",
    "e20_health_union",
    # ROTATION POLICY (round 11, verdict #3): each round swaps ~10 of the
    # 30 non-e slots for flagships the external gate has never sampled,
    # keeping every family represented — cycling the whole registry
    # through the driver's 50-entry gate over ~15 rounds.  Round 12 out:
    # dd10, dd16, dd17, s13, s17, t32, t36, t38, t39, p16, x32, x43, st14
    # (all gated in r11 or earlier).  In: dd19, dd20, mm10, s11, s12, t28,
    # t40, t41, st16, st17, p21, x39, x40 (dd20/t41 are new this round;
    # none ever driver-gated; 90 never-gated remained after r11 — this
    # puts the round-11/12 additions and long-ungated flagships through
    # the external gate).
    # Local-frames rotation out: dd18, s11c, s18, t31, t34, p2, p15, p19,
    # x38, st8, st13, d2, q1 (each gated since r11 or earlier).  In: x6,
    # t37, p17 — the only never-gated entries that build a frame through
    # session.rows_frame (range-join bands, the WordPiece driver trainer,
    # the chi2 drift table) — plus never-gated s10, s11b, t22, p13, p18,
    # x25, st9, st15, d6, q5.  "Never gated" = in no _FIRST_50 of this
    # file's history and not in the module-order prefix rounds 1-8
    # sampled; 92 remain.
    # One-ingest-path rotation out: mm10, s11, s12, t28, t40, t41, p20,
    # p21, x39, x40, st16, st17 (each gated since r12 or earlier).  In:
    # never-gated mm9, s5, s14, t10, t13, t26, p5, p10, x26, x41, st4,
    # st12.  Counted strictly — an entry in the module-order first 50 at
    # ANY commit of this file's package history counts as gated — 63 were
    # never gated before this swap and 51 remain.
    # Generated-decoder rotation out: s11b, s14, t10, t13, t22, t26, p13,
    # p18, x25, x26, st9, st15 (each gated in the two rotations above).
    # In: never-gated s4, s6, t8, t9, t11, t12, p4, p6, x16, x17, st3, st5.
    # Same strict count: 39 remain.
    # dedup flagship: full pipeline w/ quality keeper, ExactSubstr cut +
    # routed drop, multimodal pHash pairs
    "dd9c_fuzzy_dedup_quality_keeper",
    "dd19_exactsubstr_drop_routed",
    "dd20_exactsubstr_drop_refined",
    "mm9_image_phash_pairs",
    # similarity / selection: kNN join, PQ codes, label centroids, SRP
    # LSH pairs
    "s4_label_centroids",
    "s5_knn_join",
    "s6_srp_lsh_pairs",
    "s10_pq_codes",
    # text: rarity score, boilerplate strip, intra-doc dedup, text
    # normalization, WordPiece train + count, suffix family
    "t8_rarity_score",
    "t9_boilerplate_strip",
    "t11_intra_doc_dedup",
    "t12_normalize_text",
    "t35_cross_doc_span",
    "t37_wordpiece_token_counts",
    # curation pipelines: stratified sample, temperature mix, domain
    # filter, token budget cap, chi2 drift
    "p4_stratified_sample",
    "p5_temperature_mix",
    "p6_domain_filter",
    "p10_token_budget_cap",
    "p17_source_drift_chi2",
    # analytics / graph: range-join bands, retention cohorts, time-weighted
    # average, state durations, BFS landmarks
    "x6_range_join",
    "x16_retention_cohorts",
    "x17_time_weighted_avg",
    "x41_state_durations",
    "x42_bfs_distances",
    # streaming: sessionize, KMV distinct, exact dedup, window funnel
    "st3_stream_sessionize",
    "st4_stream_exact_dedup",
    "st5_stream_kmv_distinct",
    "st12_stream_window_funnel",
    # state management + TPC-H
    "d6_status_summary",
    "q5_local_supplier_volume",
]


def load_all():
    """Import every query module so registration side effects run, then
    reorder so the first 50 entries span every operator family (the
    driver's correctness gate samples the first 50)."""
    from era_parser_spark.queries import (  # noqa: F401
        analytics,
        dedup,
        extended,
        pipeline,
        similarity,
        state_ops,
        streaming_q,
        text,
        tpch,
    )
    first = [n for n in _FIRST_50 if n in QUERIES]
    ordered = first + [n for n in QUERIES if n not in set(first)]
    for d in (QUERIES, ORACLES):
        re_ordered = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(re_ordered)
    return QUERIES, ORACLES
