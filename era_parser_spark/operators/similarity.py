"""Embedding similarity search over array<float> columns.

Three tiers, mirroring how similarity is actually deployed on big corpora:

* brute-force cosine top-k — exact baseline against one query vector.
  Pure JVM column expressions (zip_with + aggregate fold), so
  Catalyst/codegen runs it; per-row cost is O(dim) with no shuffle.
* IVF (inverted-file) — a FIXED number of centroids chosen by a
  deterministic id rule (never collected to the driver as an unbounded
  sample), every vector assigned to its nearest centroid by a broadcast
  single-row centroid array evaluated in codegen; queries probe only the
  closest nprobe cells via a semi join.  At 100 TB the assignment is one
  broadcast pass and each query touches ~nprobe/k of the data.
* exact all-pairs top-N — block-grid formulation: vectors hash into B
  blocks, one row per block (collect_list), the B(B+1)/2 block pairs fan
  out as tasks, and each task runs a numpy blocked matmul to nominate
  candidates whose exact cosine it then recomputes with a sequential
  float64 fold (bitwise-identical to the JVM/DuckDB fold).  Nothing ever
  collects to the driver; shuffle volume is O(n*dim*B) and per-task memory
  is two blocks.  This replaces the old driver-side full-matrix broadcast.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from era_parser_spark.session import rows_frame


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in doubles (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sumsq_expr(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def norm_expr(a: Column) -> Column:
    return F.sqrt(sumsq_expr(a))


def cosine_expr(a: Column, b: Column) -> Column:
    # Single sqrt over the product of squared norms (not sqrt(a)*sqrt(b)):
    # one fewer rounding, and self-similarity lands exactly on 1.0 — this is
    # also how DuckDB's list_cosine_similarity evaluates.
    return dot_expr(a, b) / F.sqrt(sumsq_expr(a) * sumsq_expr(b))


def sq_l2_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lit_vector(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def quantized_cosine(c: Column) -> Column:
    """DECIMAL(10,6)-quantized cosine surfaced as DOUBLE: engines disagree
    on the last ulp of a float reduction; this representation is stable."""
    return c.cast("decimal(10,6)").cast("double")


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k against one query vector (brute-force baseline)."""
    emb = F.col(vec_col).cast("array<double>")
    q = lit_vector(query)
    return (
        df.select(
            F.col(id_col),
            quantized_cosine(cosine_expr(emb, q)).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def centroid_table(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    stride: int = 25,
    k: int = 64,
    trainer: str = "stride",
    seed: int = 42,
    max_train_rows: int = 10_000,
) -> DataFrame:
    """IVF centroid table: (centroid_id, cvec array<double>).

    trainer="stride" (default): the first k vectors whose id is a multiple
    of `stride` — bounded regardless of corpus size, reproducible in plain
    SQL (it's the oracle-checkable path), and never materialized on the
    driver.

    trainer="kmeans": Spark ML KMeans fit on a bounded training sample
    (`max_train_rows` — a narrow limit(), so at corpus scale only the
    first partitions are read; the fit shuffles only k×dim aggregates).
    Real centroid quality for production recall; the model's k×dim
    centers are tiny and safe to materialize.  Same output schema, so
    ivf_assign / ivf_topk work unchanged.
    """
    if trainer == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = (
            df.select(F.col(vec_col).cast("array<double>").alias("v"))
            .limit(max_train_rows)
            .select(array_to_vector("v").alias("features"))
        )
        n_train = train.count()
        if n_train < 2:
            raise ValueError(
                "kmeans centroid trainer needs >= 2 training vectors "
                f"(got {n_train}); use trainer='stride' for tiny corpora"
            )
        k_eff = min(k, n_train)
        model = KMeans(k=k_eff, seed=seed, maxIter=20).fit(train)
        cents = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
        return rows_frame(
            df.sparkSession, cents, "centroid_id long, cvec array<double>"
        )
    if trainer != "stride":
        raise ValueError(f"unknown centroid trainer: {trainer!r}")
    return (
        df.filter(F.col(id_col) % stride == 0)
        .orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
    )


def _ivf_assign_expr(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Expression-tree assignment (the pre-round-12 plan): one-row struct
    array broadcast + array_min over a transform.  Kept as the semantics
    reference — the numpy fast path routes malformed rows (null / wrong
    dim vectors, degenerate centroid tables) through THIS code so its
    null/ordering behavior stays the single source of truth."""
    cents = centroids.agg(
        F.collect_list(F.struct("centroid_id", "cvec")).alias("cents")
    )
    emb = F.col(vec_col).cast("array<double>")
    best = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(
                sq_l2_expr(emb, c.getField("cvec")).alias("dist"),
                c.getField("centroid_id").alias("centroid_id"),
            ),
        )
    )
    return df.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        best.getField("centroid_id").alias("centroid_id"),
        best.getField("dist").alias("centroid_dist"),
        *[F.col(c) for c in extra_cols],
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared-L2 argmin).

    Round-12 kernel (guide §4, the srp_signatures precedent): the
    transform/array_min expression tree is INTERPRETED per row — k
    centroids x dim element evals each, measured 1.6 s single-task for a
    2000 x 64c x 64d assignment — so well-formed rows take an
    Arrow-batched numpy kernel instead: one (rows, k) accumulator updated
    sequentially per dimension (acc += (x_i - c_i)^2), which reproduces
    sq_l2_expr's left fold BIT-IDENTICALLY in IEEE float64, then argmin
    over centroid-id-sorted columns (first-min == the (dist, id) struct
    tie).  Rows whose distance picks up a NaN re-run through an exact
    Python replica of the fold + Spark's NaN-greatest struct ordering.
    Null / wrong-dimension vectors and degenerate centroid tables
    (ragged / empty) keep the expression path (`_ivf_assign_expr`), so
    every edge case inherits the original semantics verbatim
    (differential pin: tests/test_round12_ops.py).

    The centroid table is materialized on the driver (k x dim doubles —
    the same "tiny model artifact" contract as the kmeans trainer) and
    ships in the kernel closure.  ``extra_cols`` passes additional df
    columns through — semantic_dedup's quality-keeper score rides here.
    """
    cent_rows = centroids.select("centroid_id", "cvec").collect()
    cvecs = [r["cvec"] for r in cent_rows]
    # Degenerate centroid tables keep the expression path: empty, a NULL
    # centroid id (np.int64 / sort would raise), a NULL vector, ragged
    # dims, a null ELEMENT inside a vector (np.array would silently read
    # None as NaN and diverge from sq_l2_expr's SQL-null distance), or a
    # NaN element (every row's distance turns NaN, which would send the
    # whole input through the per-row Python fold).
    if (
        not cent_rows
        or any(r["centroid_id"] is None for r in cent_rows)
        or any(v is None for v in cvecs)
        or len({len(v) for v in cvecs}) != 1
        or any(any(e is None or math.isnan(e) for e in v) for v in cvecs)
    ):
        return _ivf_assign_expr(df, vec_col, id_col, centroids, extra_cols)
    cent_rows.sort(key=lambda r: r["centroid_id"])
    cmat = np.array([list(r["cvec"]) for r in cent_rows], dtype=np.float64)
    cids = np.array([r["centroid_id"] for r in cent_rows], dtype=np.int64)
    dim = cmat.shape[1]

    import pyspark.sql.types as T

    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType(
        [
            in_fields[id_col],
            in_fields[vec_col],
            T.StructField("centroid_id", T.LongType()),
            T.StructField("centroid_dist", T.DoubleType()),
        ]
        + [in_fields[c] for c in extra_cols]
    )

    def _fold_row(x: list[float]) -> tuple[int, float]:
        # exact replica of sq_l2_expr's fold + array_min's struct order
        # (NaN greater than every double, ties on centroid id) for the
        # rare NaN/Inf rows the vectorized argmin cannot order
        import math

        best_key, best = None, None
        for ci in range(len(cids)):
            acc = 0.0
            for i in range(dim):
                d = x[i] - cmat[ci, i]
                acc += d * d
            key = (math.isnan(acc), acc if not math.isnan(acc) else 0.0, cids[ci])
            if best_key is None or key < best_key:
                best_key, best = key, (int(cids[ci]), acc)
        return best

    def assign_batches(it):
        # mapInArrow, not mapInPandas: a pandas round-trip re-reads float64
        # NaN as MISSING (Arrow from_pandas semantics), silently turning a
        # NaN distance into SQL NULL — arrow batches keep NaN as NaN, skip
        # the pandas materialization entirely, and let the vector column
        # pass through zero-copy.
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            vc = batch.column(1)
            # well_formed guarantees every list has exactly `dim` non-null
            # items, so the flattened child is dense
            x = (
                vc.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, dim)
            )
            acc = np.zeros((n, len(cids)), dtype=np.float64)
            for i in range(dim):
                diff = x[:, i : i + 1] - cmat[:, i][None, :]
                acc += diff * diff
            nan_rows = np.isnan(acc).any(axis=1)
            best = np.argmin(acc, axis=1)
            cid_out = cids[best]
            dist_out = acc[np.arange(n), best]
            if nan_rows.any():
                for ri in np.flatnonzero(nan_rows):
                    cid_out[ri], dist_out[ri] = _fold_row(list(x[ri]))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    vc,
                    pa.array(cid_out, type=pa.int64()),
                    pa.array(dist_out, type=pa.float64()),
                ]
                + [batch.column(2 + j) for j in range(len(extra_cols))],
                names=[id_col, vec_col, "centroid_id", "centroid_dist", *extra_cols],
            )

    # null elements INSIDE a vector take the expression path too (they
    # produce SQL-null distances there); array_compact is a native array
    # pass, so this stays a cheap codegen filter
    well_formed = (
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & (F.size(F.array_compact(vec_col)) == dim)
    )
    fast = (
        df.where(well_formed)
        .select(id_col, vec_col, *extra_cols)
        .mapInArrow(assign_batches, out_schema)
    )
    slow = _ivf_assign_expr(
        df.where(~well_formed), vec_col, id_col, centroids, extra_cols
    )
    return fast.unionByName(slow)


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    stride: int = 25,
    n_centroids: int = 64,
    nprobe: int = 3,
    trainer: str = "stride",
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest cells, brute inside.

    Probe-cell selection is a tiny orderBy/limit on the centroid table and
    reaches the corpus as a broadcast semi join — no centroid or vector data
    ever rides through the driver.  trainer="kmeans" swaps in Spark ML
    trained centroids (see centroid_table); the registry oracle stays on
    the deterministic stride path.
    """
    centroids = centroid_table(df, vec_col, id_col, stride, n_centroids, trainer=trainer)
    q = lit_vector(query)
    probe = (
        centroids.select(
            "centroid_id", sq_l2_expr(F.col("cvec"), q).alias("qdist")
        )
        .orderBy("qdist", "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    assigned = ivf_assign(df, vec_col, id_col, centroids)
    emb = F.col(vec_col).cast("array<double>")
    return (
        assigned.join(F.broadcast(probe), "centroid_id", "semi")
        .select(
            F.col(id_col),
            quantized_cosine(cosine_expr(emb, q)).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def all_pairs_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    top_pairs: int = 20,
    block_size: int = 512,
    candidates_per_pair: int = 64,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact most-similar pairs via a distributed block-grid matmul.

    Vectors hash into B = ceil(n/block_size) blocks; each block becomes one
    row (id+vector chunk), the B(B+1)/2 block pairs fan out as independent
    tasks, and each task nominates its top `candidates_per_pair` pairs with
    one numpy matmul then recomputes those candidates' cosines with a
    sequential float64 fold, so the surfaced values are bitwise identical to
    the JVM zip_with/aggregate fold (and DuckDB's list_cosine_similarity).
    Correctness: the global top-N is contained in the union of per-block-pair
    top-N, and candidates_per_pair >= top_pairs.

    Scale: no driver collect; shuffle is O(n*dim) for the grouping plus each
    block travelling to its B grid partners; per-task memory is two blocks.
    Tune block_size so a block pair fits an executor; for near-dup mining at
    extreme scale prefer the LSH tier (operators/dedup.py) which prunes the
    grid to colliding buckets.
    """
    if candidates_per_pair < top_pairs:
        raise ValueError("candidates_per_pair must be >= top_pairs")
    # null / wrong-dim vectors would make a block's numpy matrix ragged
    # (object dtype -> task death); drop everything off the DOMINANT size
    # before blocking — same per-record resilience contract as the SRP
    # kernel above (an arbitrary first() row is not a safe dim witness)
    dim = _mode_dim(df, vec_col)
    if dim is None:
        return rows_frame(
            df.sparkSession, [], "doc_a long, doc_b long, cosine_sim double"
        )
    df = df.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    if n_rows is None:
        n_rows = df.count()
    n_blocks = max(1, math.ceil(n_rows / block_size))
    blocks = (
        df.select(
            F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("blk"),
            F.col(id_col).alias("pair_id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("pair_id", "vec")).alias("chunk"))
    )
    # Triangular grid as an EQUI-join: block i serves the cells (i, i..B-1)
    # on the a-side and (0..j, j) on the b-side, so each block is exploded
    # to its grid partners and the join shuffles on the cell key.  A naive
    # `a.join(b, blk_a <= blk_b)` is a non-equi join — Catalyst can only
    # run it as a BroadcastNestedLoopJoin, i.e. broadcast the whole blocked
    # corpus to every task: exactly the full-matrix broadcast this operator
    # exists to avoid (pinned in tests/test_plan_audit.py).
    a = blocks.select(
        F.col("blk").alias("blk_a"),
        F.col("chunk").alias("chunk_a"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("cell_b"),
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"),
        F.col("chunk").alias("chunk_b"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("cell_a"),
    )
    grid = a.join(
        b,
        (F.col("blk_a") == F.col("cell_a")) & (F.col("cell_b") == F.col("blk_b")),
    )

    topc = candidates_per_pair

    def block_pairs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_a: list[int] = []
            out_b: list[int] = []
            out_sim: list[float] = []
            for row in pdf.itertuples(index=False):
                ids_a = np.array([c["pair_id"] for c in row.chunk_a], dtype=np.int64)
                mat_a = np.array([c["vec"] for c in row.chunk_a], dtype=np.float64)
                ids_b = np.array([c["pair_id"] for c in row.chunk_b], dtype=np.int64)
                mat_b = np.array([c["vec"] for c in row.chunk_b], dtype=np.float64)
                na = mat_a / np.linalg.norm(mat_a, axis=1, keepdims=True)
                nb = mat_b / np.linalg.norm(mat_b, axis=1, keepdims=True)
                sims = na @ nb.T
                if row.blk_a == row.blk_b:
                    # diagonal cell: each unordered pair appears twice —
                    # keep one triangle.  Off-diagonal cells hold each
                    # unordered pair exactly once (ids need not be ordered
                    # by block, so no id mask there; order is normalized on
                    # emit instead).
                    sims[ids_a[:, None] >= ids_b[None, :]] = -np.inf
                flat = sims.ravel()
                kk = min(topc, flat.size)
                cand = np.argpartition(-flat, kk - 1)[:kk]
                cand = cand[np.isfinite(flat[cand])]
                for c in cand:
                    i, j = divmod(int(c), sims.shape[1])
                    va, vb = mat_a[i], mat_b[j]
                    # sequential fold — same rounding sequence as the JVM
                    # aggregate/zip_with expression and DuckDB
                    dot = 0.0
                    sa = 0.0
                    sb = 0.0
                    for x, y in zip(va.tolist(), vb.tolist()):
                        dot += x * y
                        sa += x * x
                        sb += y * y
                    lo, hi = int(ids_a[i]), int(ids_b[j])
                    if lo > hi:
                        lo, hi = hi, lo
                    out_a.append(lo)
                    out_b.append(hi)
                    out_sim.append(dot / math.sqrt(sa * sb))
            yield pd.DataFrame(
                {"doc_a": out_a, "doc_b": out_b, "cosine_sim": out_sim}
            )

    cand = grid.mapInPandas(
        block_pairs, "doc_a long, doc_b long, cosine_sim double"
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            quantized_cosine(F.col("cosine_sim")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "doc_a", "doc_b")
        .limit(top_pairs)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
    max_cell: int | None = None,
    _assigned: DataFrame | None = None,
    keeper: str | tuple = "min_id",
) -> DataFrame:
    """SemDeDup-style embedding-space dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster vectors, then within each cluster drop
    every vector that has a BETTER neighbor with cosine >= threshold.
    "Better" is the ``keeper`` policy: "min_id" (default — the exact-
    dedup convention: a smaller-id neighbor wins) or ``(score_col,
    "max"|"min")`` — the neighbor with the better NUMERIC score wins,
    ties broken by smaller id (production pipelines keep the highest-
    quality near-duplicate, not the smallest id; the deterministic total
    order keeps it oracle-able).  Returns the survivors as
    (id, centroid_id).

    Scale shape: the corpus never self-joins globally — candidate pairs
    come from an EQUI-join on centroid_id, so the quadratic term is
    bounded per cluster; pick k ~ n/target_cluster_size (SemDeDup itself
    clusters for exactly this reason).  The assignment projection is
    cached because it feeds three plan branches (both pair sides + the
    anti-join); uncached, Catalyst re-runs the scan and the broadcast
    argmin once per branch.  Cosines are DECIMAL(10,6)-quantized BEFORE
    the threshold compare so the keep/drop decision is reproducible
    across engines and partitionings.

    ``max_cell`` is the skew guard (the dd2 `max_doc_freq` pattern): with
    stride or KMeans centroids cells stay balanced, but an adversarial /
    degenerate embedding distribution (one spam mode repeated millions of
    times) can land n vectors in ONE cell and the pair join becomes n^2 in
    a single task group.  When set, any cell larger than ``max_cell`` is
    handled in two exact-where-it-matters steps:

    1. **Exact-duplicate collapse** (linear, exact): bit-identical vectors
       in the oversized cell keep only the min id — identical nonzero
       vectors have cosine exactly 1 >= any threshold <= 1, so this is
       the uncapped semantics, not an approximation.  This alone defuses
       the realistic spam mode (mass-duplicated embeddings), which no
       hash-split could bound (identical vectors hash identically).
    2. **Hash sub-split** (bounded, approximate across sub-cells): the
       remaining DISTINCT vectors are split into ceil(n/max_cell)
       sub-cells by a hash of the vector, and pairs are only scored
       within a sub-cell.  Distinct vectors spread ~uniformly, so the
       per-task pair count is O(max_cell^2) w.h.p.; near-(but not
       exactly-)duplicate pairs landing in different sub-cells of a
       capped cell are missed — the documented recall cost of the cap.
       `semantic_dedup_with_stats` reports which cells were capped.

    Cells at or under ``max_cell`` (and everything when ``max_cell`` is
    None) take the exact path unchanged.
    """
    # squared norm is precomputed once per vector in the cached projection
    # (same sequential fold as cosine_expr's sumsq, so dot/sqrt(ssa*ssb)
    # stays bit-identical to list_cosine_similarity) — per candidate pair
    # only the dot product remains, ~3x fewer fold ops in the quadratic part
    if keeper != "min_id" and not (
        isinstance(keeper, tuple)
        and len(keeper) == 2
        and keeper[1] in ("max", "min")
    ):
        raise ValueError(
            f"keeper must be 'min_id' or (score_col, 'max'|'min'), got {keeper!r}"
        )
    if _assigned is not None:
        assigned = _assigned
        if keeper != "min_id" and "__sc" not in assigned.columns:
            raise ValueError(
                "a pre-built _assigned frame must carry the keeper score as '__sc'"
            )
    else:
        v = F.col(vec_col).cast("array<double>")
        extra = () if keeper == "min_id" else (keeper[0],)
        assigned = (
            ivf_assign(df, vec_col, id_col, centroids, extra_cols=extra)
            .select(
                F.col(id_col),
                v.alias("__v"),
                sumsq_expr(v).alias("__ss"),
                "centroid_id",
                *([] if keeper == "min_id" else [F.col(keeper[0]).alias("__sc")]),
            )
            .cache()
        )

    def _rank(idc: Column, scc: Column | None) -> Column:
        """Orderable badness: the MINIMUM rank wins the keep.  min_id ->
        (id); (score, max) -> (-score, id); (score, min) -> (score, id) —
        numeric scores only, ties always fall to the smaller id."""
        if keeper == "min_id":
            return F.struct(idc)
        sc = scc.cast("double")
        return F.struct(-sc if keeper[1] == "max" else sc, idc)
    pre_dropped = None
    if max_cell is None:
        pair_src = assigned
        join_keys = ["centroid_id"]
    else:
        if max_cell < 1:
            raise ValueError(f"max_cell must be >= 1, got {max_cell}")
        sizes = assigned.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("__n")
        )
        work = assigned.join(F.broadcast(sizes), "centroid_id")
        under = work.filter(F.col("__n") <= max_cell).select(
            *assigned.columns, F.lit(0).cast("long").alias("__sub")
        )
        over = work.filter(F.col("__n") > max_cell)
        # step 1: collapse bit-identical vectors to their keeper (min id,
        # or best score under a quality keeper — min_by over the same rank
        # the pair path uses).  Zero vectors are exempt (their cosine is
        # undefined, so the exact path never drops them either), as is a
        # nonsensical threshold > 1.
        sc = None if keeper == "min_id" else F.col("__sc")
        dmin = over.groupBy("centroid_id", "__v").agg(
            F.min_by(F.col(id_col), _rank(F.col(id_col), sc)).alias("__minid")
        )
        over = over.join(dmin, ["centroid_id", "__v"])
        collapse = (
            (F.col(id_col) != F.col("__minid"))
            & (F.col("__ss") > 0)
            & F.lit(threshold <= 1.0)
        )
        pre_dropped = over.filter(collapse).select(F.col(id_col))
        # step 2: sub-split the distinct survivors of the oversized cell
        n_sub = F.ceil(F.col("__n") / F.lit(max_cell)).cast("long")
        reps = over.filter(~collapse).select(
            *assigned.columns,
            F.pmod(F.xxhash64("__v"), n_sub).alias("__sub"),
        )
        pair_src = under.unionByName(reps)
        join_keys = ["centroid_id", "__sub"]
    # zero-norm vectors have no defined cosine: they can neither drop nor
    # be dropped, so keep them out of the pair join entirely (under ANSI
    # mode the 0/0 divide would otherwise abort the job; they still
    # survive via the anti-join)
    pair_src = pair_src.filter(F.col("__ss") > 0)
    sc_a = [F.col("__sc").alias("__sca")] if keeper != "min_id" else []
    sc_b = [F.col("__sc").alias("__scb")] if keeper != "min_id" else []
    a = pair_src.select(
        F.col(id_col).alias("__ida"), F.col("__v").alias("__va"),
        F.col("__ss").alias("__ssa"), *join_keys, *sc_a,
    )
    b = pair_src.select(
        F.col(id_col).alias("__idb"), F.col("__v").alias("__vb"),
        F.col("__ss").alias("__ssb"), *join_keys, *sc_b,
    )
    # each unordered pair is generated once (id order); the LOSER under
    # the keeper rank is dropped — for min_id that is always __ida (the
    # larger id), the original convention
    rank_a = _rank(F.col("__ida"), F.col("__sca") if keeper != "min_id" else None)
    rank_b = _rank(F.col("__idb"), F.col("__scb") if keeper != "min_id" else None)
    loser = F.when(rank_b < rank_a, F.col("__ida")).otherwise(F.col("__idb"))
    dropped = (
        a.join(b, join_keys)
        .where(F.col("__ida") > F.col("__idb"))
        .where(
            quantized_cosine(
                dot_expr(F.col("__va"), F.col("__vb"))
                / F.sqrt(F.col("__ssa") * F.col("__ssb"))
            )
            >= threshold
        )
        .select(loser.alias(id_col))
        .distinct()
    )
    if pre_dropped is not None:
        dropped = dropped.union(pre_dropped).distinct()
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, "centroid_id"
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Batch k-NN join: for every query vector, its k nearest corpus
    vectors by cosine — the retrieval-eval / cross-corpus-dedup shape.
    Output: (query_id, nbr_id, cosine_sim, rnk), rnk 1..k per query with
    ties broken on neighbor id ascending.

    The query side collapses to ONE row (array of id+vector structs) and
    broadcasts — the k-NN analog of a broadcast hash join's build side;
    contract: the query set fits an executor (thousands, not billions).
    Scoring is a codegen'd explode(transform(qs, ...)) per corpus row, so
    only (query_id, nbr_id, sim) scalars ever materialize.  Per-query
    top-k then reduces in two phases so the shuffle carries
    O(partitions * n_queries * k) rows, never the n_queries * n scored
    set: (1) an Arrow-batched per-partition streaming heap (Python
    justified: a bounded-memory running top-k over batches has no
    DataFrame expression; the cosines arrive already computed and
    quantized from the JVM), (2) a tiny JVM sort_array/slice merge per
    query_id.
    """
    import heapq

    qv = F.col(vec_col).cast("array<double>")
    qs = queries.agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("qid"),
                qv.alias("qv"),
                sumsq_expr(qv).alias("qss"),
            )
        ).alias("qs")
    )
    # squared norms precomputed per corpus row and per query (inside the
    # broadcast struct): the per-(row, query) work is one dot product —
    # dot/sqrt(ss_a*ss_q) is the same math as cosine_expr, bit-identical
    emb = F.col(vec_col).cast("array<double>")
    scored = (
        corpus.select(
            F.col(id_col).alias("nbr_id"),
            emb.alias("__v"),
            sumsq_expr(emb).alias("__ss"),
        )
        .crossJoin(F.broadcast(qs))
        .select(
            F.col("nbr_id"),
            F.explode(
                F.transform(
                    F.col("qs"),
                    lambda q: F.struct(
                        q.getField("qid").alias("query_id"),
                        quantized_cosine(
                            dot_expr(F.col("__v"), q.getField("qv"))
                            / F.sqrt(F.col("__ss") * q.getField("qss"))
                        ).alias("cosine_sim"),
                    ),
                )
            ).alias("s"),
        )
        .select(F.col("s.query_id"), F.col("nbr_id"), F.col("s.cosine_sim"))
        # null/zero vectors score null (NaN quantizes to null) — drop them
        # HERE: a null reaching the partition heap becomes NaN, and a NaN
        # at the heap root compares greater-than-nothing, wedging real
        # neighbors out of the top-k permanently
        .where(
            (F.col("nbr_id") != F.col("query_id"))
            & F.col("cosine_sim").isNotNull()
        )
    )

    def part_topk(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # min-heap of (sim, -nbr_id): evicts the worst under the exact
        # global order (sim desc, nbr_id asc), k entries per query max
        best: dict[int, list[tuple[float, int]]] = {}
        for pdf in it:
            for qid, nbr, sim in zip(
                pdf["query_id"], pdf["nbr_id"], pdf["cosine_sim"]
            ):
                heap = best.setdefault(int(qid), [])
                item = (float(sim), -int(nbr))
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
        rows = [(q, -ni, s) for q, h in best.items() for s, ni in h]
        yield pd.DataFrame(
            {
                "query_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "nbr_id": pd.Series([r[1] for r in rows], dtype="int64"),
                "cosine_sim": pd.Series(
                    [r[2] for r in rows], dtype="float64"
                ),
            }
        )

    local = scored.mapInPandas(
        part_topk, "query_id long, nbr_id long, cosine_sim double"
    )
    merged = local.groupBy("query_id").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("cosine_sim").alias("cosine_sim"),
                        (-F.col("nbr_id")).alias("__negid"),
                    )
                ),
                asc=False,
            ),
            1,
            k,
        ).alias("top")
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("__pos", "t")
    ).select(
        "query_id",
        (-F.col("t.__negid")).alias("nbr_id"),
        F.col("t.cosine_sim").alias("cosine_sim"),
        (F.col("__pos") + 1).cast("int").alias("rnk"),
    )


def label_centroids(
    df: DataFrame, vec_col: str, label_col: str, quant: int = 1_000_000
) -> DataFrame:
    """Per-label centroid components, deterministic by quantization.

    A float mean is order-dependent under parallel summation, so the
    components are quantized first — q = floor(v * quant) — and summed as
    exact integers; the mean is reconstructed as a double at the end.  The
    result is bit-identical across any partitioning (and in plain SQL),
    at a 1/quant resolution floor nobody training on float32 will notice.

    One map-side-combinable shuffle of (label, dim) partial sums — the
    vectors themselves never move; output is |labels| x dims rows.
    """
    ex = df.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"),
    )
    return (
        ex.groupBy(label_col, "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("v") * quant).cast("long")).alias("qsum"),
        )
        .withColumn("mean_v", F.col("qsum") / (F.lit(float(quant)) * F.col("n")))
    )


def _mode_dim(df: DataFrame, vec_col: str) -> int | None:
    """Dominant vector dimensionality: the most frequent non-null size
    (ties break to the smaller size).  An arbitrary first() row is NOT a
    safe dim witness — if the physically first vector is the malformed
    one, a size==first filter would invert and drop the healthy corpus.
    One tiny pruned aggregate; None on an all-null/empty column."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .groupBy(F.size(vec_col).alias("__d"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("__d"))
        .first()
    )
    return None if row is None else int(row[0])


def srp_plane_signs(
    n_tables: int, n_planes: int, dim: int
) -> list[list[list[int]]]:
    """Deterministic random-hyperplane signs for SRP (sign-random-projection)
    LSH: sign[t][p][d] = +1 if the first hex digit of md5("t_p_d") is even,
    else -1.  md5 makes the planes reproducible in plain SQL (DuckDB md5 of
    the same string), so the whole approximate pipeline stays oracle-exact —
    the same trick as the 60-bit SimHash token hash (dedup.py).

    Charikar 2002 (STOC, rounding schemes): for sign hyperplanes,
    P[bit match] = 1 - theta(a,b)/pi, so near-parallel vectors collide with
    high probability per table and L independent tables boost recall.
    Plane components only need symmetric +-1 — not gaussians — for the
    collision-probability bound to hold.
    """
    import hashlib

    return [
        [
            [
                1
                if int(
                    hashlib.md5(f"{t}_{p}_{d}".encode()).hexdigest()[0], 16
                )
                % 2
                == 0
                else -1
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def srp_signatures(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int | None = None,
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-vector SRP-LSH signatures: (id, table_id, sig).

    Embeddings are quantized to integers first — q[d] = floor(v[d]*quant)
    — so every plane dot product is EXACT integer math: the signature is
    order-independent and bit-identical in any engine (a float dot's sign
    can flip with summation order exactly when it matters most, near the
    hyperplane).  Each of the L*P dots is a codegen'd zip_with/aggregate
    fold against a literal +-1 array; bit p of table t's signature is
    sign(dot), packed into a small integer bucket key.

    Scale shape: one narrow projection pass, no shuffle — signatures are
    O(L) small integers per vector.
    """
    if dim is None:
        dim = _mode_dim(df, vec_col)
        if dim is None:  # empty / all-null column: empty typed result
            return df.select(
                F.col(id_col),
                F.lit(0).alias("table_id"),
                F.lit(0).cast("long").alias("sig"),
            ).where(F.lit(False))
    signs = srp_plane_signs(n_tables, n_planes, dim)
    # int64 (L*P, dim) sign matrix, shipped to workers via UDF closure
    sign_mat = np.array(
        [signs[t][p] for t in range(n_tables) for p in range(n_planes)],
        dtype=np.int64,
    )
    pack = (np.ones(n_planes, dtype=np.int64) << np.arange(n_planes)).reshape(
        1, n_planes
    )
    nt, npl, q = n_tables, n_planes, float(quant)

    # Arrow-batched numpy kernel (Python justified: L*P interpreted
    # zip_with/aggregate folds per row cost ~2k interpreted expression
    # evals each — measured ~10x slower than one int64 matmul per batch).
    # Exactness is unchanged: floor(v*quant) int64 quantization then an
    # integer matmul — the same numbers the SQL oracle derives.
    def sig_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array([list(v) for v in pdf["__v"]], dtype=np.float64)
            qm = np.floor(mat * q).astype(np.int64)
            bits = (qm @ sign_mat.T >= 0).astype(np.int64)  # (n, L*P)
            sigs = (bits.reshape(-1, nt, npl) * pack).sum(axis=2)  # (n, L)
            ids = np.repeat(pdf["__id"].to_numpy(), nt)
            yield pd.DataFrame(
                {
                    "__id": ids,
                    "table_id": np.tile(
                        np.arange(nt, dtype=np.int32), len(pdf)
                    ),
                    "sig": sigs.ravel(),
                }
            )

    # null / wrong-dim vectors would turn the batch matrix ragged (object
    # dtype -> task death); drop them JVM-side — at corpus scale malformed
    # embedding rows are a fact of life, and a broken row must not kill
    # the job (the same per-record resilience contract as the era scan)
    out = df.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).mapInPandas(sig_batches, "__id long, table_id int, sig long")
    return out.select(F.col("__id").alias(id_col), "table_id", "sig")


def srp_lsh_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_tables: int = 4,
    n_planes: int = 8,
    top_pairs: int = 20,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate most-similar pairs by cosine via SRP-LSH.

    Candidates are id pairs sharing a full P-bit signature in ANY of the L
    tables (equi-join on (table_id, sig) — never an all-pairs join); their
    exact quantized cosines are then verified with the same precomputed-
    sumsq fold as semantic_dedup.  Complements the other two pair tiers:
    s3's block-grid is exact but O(n^2/B) compute; dd8 needs a centroid
    model; SRP needs nothing but the vectors and prunes to colliding
    buckets, the classic shape for billion-vector near-dup mining.

    `max_bucket` (optional) drops buckets larger than the cap before the
    pair join — same role as dd2's hot-shingle guard: a degenerate
    embedding mode (all-zero vectors, spam clusters) otherwise re-creates
    the quadratic blowup inside one bucket.  Off by default; the oracle
    path runs unguarded.

    Scale: signature pass is shuffle-free; the bucket self-join shuffles
    (table_id, sig, id) triples only; vectors rejoin ONLY for surviving
    candidate pairs via the slim cached norm projection.
    """
    # cached: the (id, table_id, sig) projection feeds BOTH sides of the
    # bucket self-join (plus the hot-bucket subtree when guarded) —
    # uncached, Catalyst re-runs the Arrow signature kernel and the
    # embedding scan once per branch (the dd4 SimHash lesson, f67872d);
    # the cache holds L small integers per vector, never the vectors
    sigs = srp_signatures(
        df, vec_col, id_col, n_tables, n_planes, dim=dim
    ).cache()
    if max_bucket is not None:
        hot = (
            sigs.groupBy("table_id", "sig")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("table_id", "sig")
        )
        sigs = sigs.join(hot, ["table_id", "sig"], "left_anti")
    a = sigs.select(
        "table_id", "sig", F.col(id_col).alias("doc_a")
    )
    b = sigs.select(
        "table_id", "sig", F.col(id_col).alias("doc_b")
    )
    cand = (
        a.join(b, ["table_id", "sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    v = F.col(vec_col).cast("array<double>")
    norms = df.select(
        F.col(id_col).alias("__nid"),
        v.alias("__v"),
        sumsq_expr(v).alias("__ss"),
    ).cache()
    # vectors rejoin candidates on 8-byte id keys; the candidate side is the
    # small one (bounded by bucket collisions), so AQE broadcasts IT — the
    # corpus-sized norm projection must never be the broadcast side
    pairs = (
        norms.join(cand, F.col("__nid") == F.col("doc_a"))
        .select(
            "doc_a", "doc_b",
            F.col("__v").alias("__va"), F.col("__ss").alias("__ssa"),
        )
        .join(norms, F.col("doc_b") == F.col("__nid"))
        .select(
            "doc_a", "doc_b",
            quantized_cosine(
                dot_expr(F.col("__va"), F.col("__v"))
                / F.sqrt(F.col("__ssa") * F.col("__ss"))
            ).alias("cosine_sim"),
        )
    )
    return pairs.orderBy(F.desc("cosine_sim"), "doc_a", "doc_b").limit(top_pairs)


def semantic_dedup_with_stats(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
    max_cell: int | None = None,
) -> tuple[DataFrame, dict]:
    """`semantic_dedup` plus the cluster-skew stats that bound its cost.

    The pair join is quadratic PER CLUSTER, so the operational health
    number is the cluster-size distribution: stats =
    {"n_clusters", "max_cluster", "mean_cluster", "candidate_pairs"
    (sum of n_c*(n_c-1)/2 — the exact number of cosines the uncapped
    pair join would evaluate)}.  If max_cluster grows out of proportion
    (a boilerplate/spam embedding mode), raise k, or pass ``max_cell`` to
    enforce the bound (see `semantic_dedup`); with ``max_cell`` set the
    stats additionally report {"capped_cells", "capped_rows"} — the cells
    whose pairs were collapse+sub-split rather than scored exhaustively,
    i.e. exactly where the documented recall caveat applies.  The stats
    aggregate is one tiny groupBy over the same cached assignment the
    dedup reuses.
    """
    # build the cached norm+assignment projection ONCE and hand it to the
    # dedup: a fresh ivf_assign subtree here would not match the cached
    # plan, so Spark could not substitute it and the stats would pay a
    # second full corpus scan + broadcast argmin just to count sizes
    v = F.col(vec_col).cast("array<double>")
    assigned = (
        ivf_assign(df, vec_col, id_col, centroids)
        .select(
            F.col(id_col),
            v.alias("__v"),
            sumsq_expr(v).alias("__ss"),
            "centroid_id",
        )
        .cache()
    )
    survivors = semantic_dedup(
        df, vec_col, id_col, centroids, threshold,
        max_cell=max_cell, _assigned=assigned,
    )
    sizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
    capped = F.lit(0) if max_cell is None else (F.col("n") > max_cell).cast("int")
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_cluster"),
        F.coalesce(F.avg("n"), F.lit(0.0)).alias("mean_cluster"),
        F.coalesce(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long"), F.lit(0)
        ).alias("candidate_pairs"),
        F.coalesce(F.sum(capped), F.lit(0)).alias("capped_cells"),
        F.coalesce(F.sum(F.col("n") * capped), F.lit(0)).alias("capped_rows"),
    ).first()
    return survivors, {
        "n_clusters": int(row.n_clusters),
        "max_cluster": int(row.max_cluster),
        "mean_cluster": float(row.mean_cluster),
        "candidate_pairs": int(row.candidate_pairs),
        "capped_cells": int(row.capped_cells),
        "capped_rows": int(row.capped_rows),
    }


def incremental_topk(
    prev_topk: DataFrame,
    new_df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Incrementally maintain an exact cosine top-k as batches arrive:
    score ONLY the new batch, merge with the previous top-k, keep k.

    Correct because top-k is a monotone decomposable aggregate —
    topk(A ∪ B) = topk(topk(A) ∪ topk(B)) — and the quantized score of a
    row never changes.  At 100 TB this is the interactive-analysis
    contract: a daily append re-scans the day's batch (plus k carried
    rows), never the corpus; the running result is exactly what a full
    rescan would produce (pinned by the s7 oracle, which IS the full
    rescan).

    `prev_topk` must carry (id_col, cosine_sim) as produced by
    `cosine_topk` with the same query and k' >= k.
    """
    emb = F.col(vec_col).cast("array<double>")
    q = lit_vector(query)
    scored_new = new_df.select(
        F.col(id_col),
        quantized_cosine(cosine_expr(emb, q)).alias("cosine_sim"),
    )
    return (
        prev_topk.select(id_col, "cosine_sim")
        .unionByName(scored_new)
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def pq_codebook(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    stride: int = 25,
    trainer: str = "stride",
    seed: int = 42,
    max_train_rows: int = 10_000,
) -> DataFrame:
    """(code_id, v) PQ codebook frame — `v` is a COMPOSITE vector whose
    j-th slice is subspace j's code center, so every consumer (pq_codes /
    ivf_pq_topk) slices it per subspace without caring how it was
    trained.

    trainer="stride" (default): the first k corpus vectors whose id
    divides `stride` — deterministic, SQL-rederivable (the oracle path).

    trainer="kmeans": m INDEPENDENT per-subspace Spark ML KMeans fits
    (Jegou §III: each subspace gets its own quantizer) on a bounded
    training sample; center i of each subspace concatenates into
    composite code i.  Real codebook quality for production recall — on
    data PQ-representable only after training, stride seeds can't span
    the subspace clusters.  Deterministic for a fixed seed.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    emb = F.col(vec_col).cast("array<double>")
    if trainer == "stride":
        return (
            df.filter((F.col(id_col) % stride) == 0)
            .orderBy(id_col)
            .limit(k)
            .select(F.col(id_col).alias("code_id"), emb.alias("v"))
        )
    if trainer != "kmeans":
        raise ValueError(f"unknown PQ trainer: {trainer!r}")
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df.select(emb.alias("v")).limit(max_train_rows).cache()
    n_train = train.count()
    if n_train < 2:
        raise ValueError(
            "kmeans PQ trainer needs >= 2 training vectors; "
            "use trainer='stride' for tiny corpora"
        )
    k_eff = min(k, n_train)
    centers: list[list[list[float]]] = []
    for j in range(m):
        sub = train.select(
            array_to_vector(F.slice("v", j * d + 1, d)).alias("features")
        )
        model = KMeans(k=k_eff, seed=seed + j, maxIter=20).fit(sub)
        centers.append([[float(x) for x in c] for c in model.clusterCenters()])
    train.unpersist()
    rows = [
        (i, [x for j in range(m) for x in centers[j][i]]) for i in range(k_eff)
    ]
    return rows_frame(df.sparkSession, rows, "code_id long, v array<double>")


def pq_codes(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    stride: int = 25,
    trainer: str = "stride",
) -> DataFrame:
    """Product-quantization encoding (Jegou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector splits into m
    subvectors of dim/m dims, each quantized to its nearest code in a
    per-subspace codebook — a 100 TB corpus compresses to m small ints
    per vector, and asymmetric distances are table lookups.

    Codebooks come from `pq_codebook`: trainer="stride" (default) is the
    deterministic SQL-rederivable seeding — the ENTIRE encoding is
    oracle-checkable; trainer="kmeans" swaps in per-subspace Spark ML
    KMeans for production quality behind the same signature (the s2
    kmeans trainer precedent; recall vs stride pinned in pytest).

    Output: one row per (vector, subspace) — (id, sub, code) — integer
    only, no float columns (argmin ties break on code id, matching the
    SQL twin's ORDER BY dist, code_id).

    Scale shape: the m*k codebook collapses to ONE broadcast row; per-row
    encoding is m array_min-over-transform folds, fully codegen, zero
    shuffle of the corpus.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    emb = F.col(vec_col).cast("array<double>")
    seeds = pq_codebook(
        df, vec_col, id_col, dim, m=m, k=k, stride=stride, trainer=trainer
    )
    cb = seeds.agg(F.collect_list(F.struct("code_id", "v")).alias("cbs"))
    joined = df.select(F.col(id_col), emb.alias("__e")).crossJoin(
        F.broadcast(cb)
    )
    def _scorer(j, sub):
        # one-arg lambda per subspace (default-arg capture would change the
        # lambda's arity, which PySpark uses to type the HOF)
        return lambda c: F.struct(
            sq_l2_expr(sub, F.slice(c.getField("v"), j * d + 1, d)).alias("dist"),
            c.getField("code_id").alias("code_id"),
        )

    subs = []
    for j in range(m):
        sub = F.slice(F.col("__e"), j * d + 1, d)
        best = F.array_min(F.transform("cbs", _scorer(j, sub)))
        subs.append(
            F.struct(F.lit(j).alias("sub"), best.getField("code_id").alias("code"))
        )
    return joined.select(
        F.col(id_col), F.explode(F.array(*subs)).alias("s")
    ).select(id_col, F.col("s.sub").alias("sub"), F.col("s.code").alias("code"))


def ivf_pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    dim: int,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    stride: int = 25,
    n_centroids: int = 64,
    nprobe: int = 3,
    trainer: str = "stride",
) -> DataFrame:
    """IVF-PQ ADC search (Jegou et al. 2011 §IV): route the query to the
    `nprobe` nearest IVF cells (s2's coarse quantizer), then rank the
    cells' members by ASYMMETRIC distance — the sum over subspaces of the
    precomputed distance from the query's subvector to the member's PQ
    code center.  This is the memory-bounded retrieval shape 100 TB
    similarity search needs: at query time the corpus contributes ONLY
    its cell assignment and its m small code ids (both computed once at
    ingest — here derived inline from the vectors because the test corpus
    carries them); the full float vectors are never touched for scoring.

    Per-query work: an ADC lookup table (m maps of n_codes doubles,
    evaluated ONCE on the collapsed one-row codebook and broadcast) and,
    per candidate row, m codegen map lookups summed in fixed left-to-right
    order — deterministic, so the whole approximate pipeline is exactly
    reproducible in the SQL oracle (the s2/s10 rule: stride-seeded
    codebooks, argmin ties on code id, DECIMAL(10,6)-quantized surfaced
    distance).

    Output: (id, adc_dist) — the k candidates with smallest ADC distance,
    ties on id.  Smaller is nearer (squared-L2 semantics).

    ``trainer``: "stride" (default, the oracle path) or "kmeans" —
    Spark-ML-trained coarse centroids AND per-subspace PQ codebooks
    (centroid_table / pq_codebook), production recall behind the same
    signature.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    emb = F.col(vec_col).cast("array<double>")
    q = lit_vector(query)

    # -- coarse routing (s2 machinery): nprobe nearest cells --
    centroids = centroid_table(
        df, vec_col, id_col, stride, n_centroids, trainer=trainer
    )
    probe = (
        centroids.select(
            "centroid_id", sq_l2_expr(F.col("cvec"), q).alias("qdist")
        )
        .orderBy("qdist", "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    cand = (
        ivf_assign(df, vec_col, id_col, centroids)
        .join(F.broadcast(probe), "centroid_id", "semi")
        .select(F.col(id_col), emb.alias("__e"))
    )

    # -- PQ codebook (pq_codebook: stride seeding or per-subspace
    # KMeans) + per-subspace ADC maps, ONE row --
    seeds = pq_codebook(
        df, vec_col, id_col, dim, m=m, k=n_codes, stride=stride, trainer=trainer
    )
    cb = seeds.agg(F.collect_list(F.struct("code_id", "v")).alias("cbs"))

    def _adc_entry(j):
        # closure factory: a default-arg capture would change the lambda's
        # arity, which PySpark uses to type the HOF
        qsub = lit_vector([float(x) for x in query[j * d : (j + 1) * d]])
        return lambda c: F.struct(
            c.getField("code_id").alias("key"),
            sq_l2_expr(F.slice(c.getField("v"), j * d + 1, d), qsub).alias("val"),
        )

    adc = cb.select(
        "cbs",
        *[
            F.map_from_entries(F.transform("cbs", _adc_entry(j))).alias(f"__adc{j}")
            for j in range(m)
        ],
    )

    def _scorer(j, sub):
        return lambda c: F.struct(
            sq_l2_expr(sub, F.slice(c.getField("v"), j * d + 1, d)).alias("dist"),
            c.getField("code_id").alias("code_id"),
        )

    joined = cand.crossJoin(F.broadcast(adc))
    dist = None
    for j in range(m):
        sub = F.slice(F.col("__e"), j * d + 1, d)
        code = F.array_min(F.transform("cbs", _scorer(j, sub))).getField("code_id")
        term = F.element_at(F.col(f"__adc{j}"), code)
        # fixed left-to-right sum so the float result is deterministic and
        # bitwise-mirrorable by the SQL twin's parenthesized sum
        dist = term if dist is None else dist + term
    return (
        joined.select(
            F.col(id_col),
            dist.cast("decimal(10,6)").cast("double").alias("adc_dist"),
        )
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def ivf_pq_residual_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    dim: int,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    stride: int = 25,
    n_centroids: int = 64,
    nprobe: int = 3,
    trainer: str = "stride",
) -> DataFrame:
    """IVFADC proper (Jegou et al. 2011 §IV-A): PQ encodes the RESIDUAL
    v - c(v) of each vector from its coarse centroid, and the query's ADC
    tables are built per probed cell from (q - c).  Residuals are smaller
    than raw vectors, so the same m x n_codes budget quantizes finer —
    the production IVF-PQ layout (`ivf_pq_topk` is the simpler
    raw-vector variant; this one adds per-cell ADC tables, keyed
    centroid_id * n_codes + code_rank in m broadcast maps).

    Everything stays deterministic and SQL-rederivable (stride trainer):
    the codebook is PQ over the stride seeds' residuals, code ranks are
    the row_number over code_id, argmin ties break on rank, and the
    surfaced distance ||(q - c) - pq(r)||^2 is a fixed-order float sum
    DECIMAL(10,6)-quantized (the s11 rule).  trainer="kmeans" trains the
    coarse quantizer AND the per-subspace codebooks on residuals.

    Output: (id, adc_dist) ascending, ties on id.
    """
    from pyspark.sql import Window as W

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    emb = F.col(vec_col).cast("array<double>")
    q = lit_vector(query)

    centroids = centroid_table(
        df, vec_col, id_col, stride, n_centroids, trainer=trainer
    )
    probe = (
        centroids.select(
            "centroid_id", "cvec", sq_l2_expr(F.col("cvec"), q).alias("qdist")
        )
        .orderBy("qdist", "centroid_id")
        .limit(nprobe)
        .select("centroid_id", "cvec")
    )
    # whole-corpus residual frame (assignment + subtract; the seeds
    # filter pushes through the broadcast join, so the codebook path
    # touches only the stride rows)
    cents_arr = centroids.select(
        F.col("centroid_id"), F.col("cvec").alias("__cv")
    )
    resid_all = (
        ivf_assign(df, vec_col, id_col, centroids)
        .join(F.broadcast(cents_arr), "centroid_id")
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            F.zip_with(emb, F.col("__cv"), lambda x, y: x - y).alias("__r"),
        )
    )
    # Codebook over RESIDUALS.  Stride seeds use offset 1 (id % stride ==
    # 1), NOT the centroid offset 0: a vector that IS a coarse centroid
    # has residual zero, and 16 zero codes would degenerate ADC to pure
    # cell distance (ranking inside the cell lost).
    if trainer == "stride":
        seeds = (
            resid_all.filter((F.col(id_col) % stride) == 1)
            .orderBy(id_col)
            .limit(n_codes)
            .select(F.col(id_col).alias("code_id"), F.col("__r").alias("v"))
        )
    else:
        seeds = pq_codebook(
            resid_all, "__r", id_col, dim, m=m, k=n_codes, stride=stride,
            trainer=trainer,
        )
    seeds = seeds.withColumn("rank", F.row_number().over(W.orderBy("code_id")) - 1)
    cb = seeds.agg(F.collect_list(F.struct("rank", "v")).alias("cbs"))

    def _adc_entry(j):
        # per probed cell: qres = (q - cvec) sliced to subspace j; key =
        # centroid_id * n_codes + rank (injective; both factors bounded)
        return lambda c: F.struct(
            (F.col("centroid_id") * n_codes + c.getField("rank")).alias("key"),
            sq_l2_expr(
                F.slice(F.zip_with(q, F.col("cvec"), lambda x, y: x - y),
                        j * d + 1, d),
                F.slice(c.getField("v"), j * d + 1, d),
            ).alias("val"),
        )

    per_cell = probe.crossJoin(F.broadcast(cb)).select(
        *[F.transform("cbs", _adc_entry(j)).alias(f"__e{j}") for j in range(m)]
    )
    adc = per_cell.agg(
        *[
            F.map_from_entries(
                F.flatten(F.collect_list(F.col(f"__e{j}")))
            ).alias(f"__adc{j}")
            for j in range(m)
        ]
    ).crossJoin(cb)

    cand = resid_all.join(
        F.broadcast(probe.select("centroid_id")), "centroid_id", "semi"
    ).select(id_col, "centroid_id", "__r")

    def _scorer(j, sub):
        return lambda c: F.struct(
            sq_l2_expr(sub, F.slice(c.getField("v"), j * d + 1, d)).alias("dist"),
            c.getField("rank").alias("rank"),
        )

    joined = cand.crossJoin(F.broadcast(adc))
    dist = None
    for j in range(m):
        sub = F.slice(F.col("__r"), j * d + 1, d)
        rank = F.array_min(F.transform("cbs", _scorer(j, sub))).getField("rank")
        term = F.element_at(
            F.col(f"__adc{j}"), F.col("centroid_id") * n_codes + rank
        )
        dist = term if dist is None else dist + term
    return (
        joined.select(
            F.col(id_col),
            dist.cast("decimal(10,6)").cast("double").alias("adc_dist"),
        )
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def ivf_pq_rerank_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    dim: int,
    k: int = 10,
    shortlist: int = 40,
    m: int = 4,
    n_codes: int = 16,
    stride: int = 25,
    n_centroids: int = 64,
    nprobe: int = 3,
    trainer: str = "stride",
) -> DataFrame:
    """IVFADC with re-ranking (Jegou et al. 2011 §V, "IVFADC+R"): the ADC
    stage ranks the probed cells' members from their PQ codes alone and
    keeps a `shortlist` (>> k); only those `shortlist` rows' FULL vectors
    are then fetched and re-ranked by exact squared L2 to the query.  This
    recovers most of the recall the code approximation loses while keeping
    the scan memory-bounded: the corpus-wide pass still touches only cell
    ids + m code ids per row, and the float vectors are read for a
    constant `shortlist` rows, not per candidate.

    Scale shape: the shortlist frame is k'-row tiny, so the re-rank is a
    broadcast-hash join against the corpus — at 100 TB the exact fetch is
    a second pruned pass over the id + vector columns with the broadcast
    filter applied at the scan (in a production layout the vectors would
    be fetched from an id-keyed store; the plan shape is the same:
    shortlist broadcast, corpus never shuffles).  The second FileScan of
    `df` is therefore by design, not an accidental recompute.

    Determinism: the ADC stage is `ivf_pq_topk` (stride trainer is
    SQL-rederivable); the exact distance is sq_l2_expr's left fold —
    init 0.0 then ((0.0+t1)+t2)+... — which DuckDB's no-init list_reduce
    reproduces bitwise (0.0+t1 is exact).  Both surfaced distances are
    DECIMAL(10,6)-quantized (the s1 rule).

    Output: (id, adc_dist, exact_dist), ascending exact_dist, ties on id.
    """
    short = ivf_pq_topk(
        df, vec_col, id_col, query, dim, k=shortlist, m=m, n_codes=n_codes,
        stride=stride, n_centroids=n_centroids, nprobe=nprobe, trainer=trainer,
    )
    emb = F.col(vec_col).cast("array<double>")
    q = lit_vector(query)
    return (
        df.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.col("adc_dist"),
            sq_l2_expr(emb, q)
            .cast("decimal(10,6)")
            .cast("double")
            .alias("exact_dist"),
        )
        .orderBy("exact_dist", id_col)
        .limit(k)
    )


def mmr_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking (Carbonell &
    Goldstein 1998): greedily select k documents maximizing
    lam * sim(q, d) - (1 - lam) * max over selected of sim(d, s) — the
    standard retrieval-stack step that stops a near-dup cluster from
    filling the whole top-k.

    Distribution contract: the HEAVY work is distributed — the exact
    cosine top-`pool` over the corpus (cosine_topk's scan shape) and the
    pool's pairwise similarity matrix (a pool-row broadcast self-join).
    The greedy selection itself is inherently sequential (step i depends
    on the argmax of step i-1), so it runs driver-side over the
    pool^2-bounded QUANTIZED matrix — a bounded artifact of the same
    class as collected centroids/thresholds, never corpus-sized.

    Determinism: every similarity is DECIMAL(10,6)-quantized before the
    arithmetic; lam products and the subtraction are single IEEE ops —
    so scores are bit-identical in any engine and the selection is
    exactly re-derivable in SQL (chained per-step CTEs).  Ties break on
    id ascending at every step.

    Output: (id, rank, relevance, mmr_score) — rank 1..k in selection
    order; rank 1's mmr_score is its pure relevance (no selected set
    yet).
    """
    cand = cosine_topk(df, vec_col, id_col, query, k=pool).select(
        F.col(id_col), F.col("cosine_sim").alias("relevance")
    )
    emb = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).join(F.broadcast(cand.select(id_col)), id_col, "semi")
    a = emb.select(F.col(id_col).alias("__ia"), F.col("__v").alias("__va"))
    b = emb.select(F.col(id_col).alias("__ib"), F.col("__v").alias("__vb"))
    psim = (
        a.join(F.broadcast(b), F.col("__ia") < F.col("__ib"))
        .select(
            "__ia",
            "__ib",
            quantized_cosine(cosine_expr(F.col("__va"), F.col("__vb"))).alias(
                "__s"
            ),
        )
    )
    rel = {int(r[0]): float(r[1]) for r in cand.collect()}
    sims: dict[tuple[int, int], float] = {}
    for r in psim.collect():
        sims[(int(r["__ia"]), int(r["__ib"]))] = float(r["__s"])

    def pair_sim(x: int, y: int) -> float:
        return sims.get((x, y) if x < y else (y, x), 0.0)

    selected: list[tuple[int, float, float]] = []
    chosen: list[int] = []
    remaining = sorted(rel)
    for rank in range(1, min(k, len(remaining)) + 1):
        best = None
        for cid in remaining:
            if cid in chosen:
                continue
            if chosen:
                worst = max(pair_sim(cid, s) for s in chosen)
                score = lam * rel[cid] - (1.0 - lam) * worst
            else:
                score = lam * rel[cid]
            if best is None or score > best[1] or (score == best[1] and cid < best[0]):
                best = (cid, score)
        chosen.append(best[0])
        selected.append((best[0], rank, rel[best[0]], best[1]))
    out = rows_frame(
        df.sparkSession,
        selected,
        f"{id_col} long, rank int, relevance double, mmr_score double",
    )
    return out.orderBy("rank")


def ivf_pq_knn_join(
    corpus: DataFrame,
    queries_df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    stride: int = 25,
    n_centroids: int = 64,
    nprobe: int = 3,
    trainer: str = "stride",
) -> DataFrame:
    """Batch ANN k-NN JOIN: every query row gets its approximate top-k
    corpus neighbors by IVF-PQ ADC — the bulk-retrieval shape (cross-
    dataset dedup, retrieval-augmented labeling) where s5's exact k-NN
    join would pay |queries| x |corpus| float distances.  Corpus-side
    cost is ONE assignment scan + code argmins; each corpus row is then
    replicated only to the queries probing its cell (the broadcast probe
    join), and scoring is per-row map lookups against a single broadcast
    ADC map keyed (query, subspace, code) — queries x m x n_codes
    entries, tiny for any sane query batch.

    Everything deterministic per the s11 rules (stride trainer, argmin
    ties on code id, fixed-order float sums, DECIMAL(10,6) quantization)
    — the whole batch pipeline is exactly SQL-rederivable.  Self-matches
    (corpus id == query id) are excluded, matching s5's contract.

    Output: (query_id, nbr_id, adc_dist, rnk) with rnk 1..k per query,
    ties on nbr_id.
    """
    from pyspark.sql import Window as W

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    emb = F.col(vec_col).cast("array<double>")

    cents = centroid_table(corpus, vec_col, id_col, stride, n_centroids, trainer=trainer)
    qs = queries_df.select(F.col(id_col).alias("query_id"), emb.alias("__q"))
    probe = (
        qs.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "centroid_id",
            sq_l2_expr(F.col("__q"), F.col("cvec")).alias("__qd"),
        )
        .withColumn(
            "__rn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("__qd", "centroid_id")
            ),
        )
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "centroid_id")
    )

    seeds = pq_codebook(
        corpus, vec_col, id_col, dim, m=m, k=n_codes, stride=stride, trainer=trainer
    )
    cb = seeds.agg(F.collect_list(F.struct("code_id", "v")).alias("cbs"))

    def _adc_entry(j):
        # closure factory (PySpark types HOF lambdas by arity)
        return lambda c: F.struct(
            (
                (F.col("query_id") * m + F.lit(j)) * n_codes
                + c.getField("code_id")
            ).alias("key"),
            sq_l2_expr(
                F.slice(F.col("__q"), j * d + 1, d),
                F.slice(c.getField("v"), j * d + 1, d),
            ).alias("val"),
        )

    ent = qs.crossJoin(F.broadcast(cb)).select(
        F.flatten(
            F.array(*[F.transform("cbs", _adc_entry(j)) for j in range(m)])
        ).alias("__es")
    )
    admap = ent.agg(
        F.map_from_entries(F.flatten(F.collect_list("__es"))).alias("__adc")
    )

    assigned = ivf_assign(corpus, vec_col, id_col, cents).select(
        F.col(id_col), F.col("centroid_id"), emb.alias("__e")
    )
    cand = assigned.join(F.broadcast(probe), "centroid_id").filter(
        F.col(id_col) != F.col("query_id")
    )

    def _scorer(j, sub):
        return lambda c: F.struct(
            sq_l2_expr(sub, F.slice(c.getField("v"), j * d + 1, d)).alias("dist"),
            c.getField("code_id").alias("code_id"),
        )

    joined = cand.crossJoin(F.broadcast(cb)).crossJoin(F.broadcast(admap))
    dist = None
    for j in range(m):
        sub = F.slice(F.col("__e"), j * d + 1, d)
        code = F.array_min(F.transform("cbs", _scorer(j, sub))).getField("code_id")
        term = F.element_at(
            F.col("__adc"),
            (F.col("query_id") * m + F.lit(j)) * n_codes + code,
        )
        dist = term if dist is None else dist + term
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("nbr_id"),
        dist.cast("decimal(10,6)").cast("double").alias("adc_dist"),
    )
    rnk = F.row_number().over(
        W.partitionBy("query_id").orderBy("adc_dist", "nbr_id")
    )
    return (
        scored.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "nbr_id", "adc_dist", "rnk")
    )


def sq8_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """Scalar-quantized (int8) ANN: the SQ memory path production vector
    stores ship alongside PQ (faiss ``SQ8``, Lucene/HNSW int8) — 4x less
    scan I/O than float32, with an exact re-rank of the shortlist.

    Encoding: one global symmetric scale ``smax = max |component|`` over
    the corpus (at 100 TB a precomputed training stat, like s11's
    codebooks); each component becomes ``floor(v * 127 / smax)`` — two
    IEEE double ops + floor, bit-identical across engines, range
    [-127, 127] by construction.  The query is encoded with the SAME
    scale (clamped, in case it lies outside the corpus range).

    Phase 1 ranks by the integer code dot product (products <= 127^2 and
    64-dim sums << 2^53, so the SQL twin's double ``list_dot_product``
    is exact too) and takes a ``shortlist`` under TakeOrdered — no full
    sort, no shuffle of vectors.  Phase 2 broadcast-joins the shortlist
    ids back to the full-vector table and re-ranks by exact quantized
    cosine — the s11c IVFADC+R shape: the big scan reads codes only;
    full floats are fetched for ``shortlist`` rows.

    Returns (id, int8_dot, cosine_sim) top-k by cosine desc, id asc.
    Degenerate all-zero corpora (smax = 0) are the caller's problem, as
    in faiss.
    """
    emb = F.col(vec_col).cast("array<double>")
    stats = df.agg(
        F.max(F.array_max(F.transform(emb, lambda x: F.abs(x)))).alias("__smax")
    )
    q = lit_vector(query)

    def _enc(x):
        return F.floor(x * F.lit(127) / F.col("__smax")).cast("long")

    codes = (
        df.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.transform(emb, _enc).alias("__c8"),
            F.transform(
                q, lambda x: F.least(F.greatest(_enc(x), F.lit(-127)), F.lit(127))
            ).alias("__q8"),
        )
        .withColumn(
            "int8_dot",
            F.aggregate(
                F.zip_with("__c8", "__q8", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    short = (
        codes.select(id_col, "int8_dot")
        .orderBy(F.desc("int8_dot"), id_col)
        .limit(shortlist)
    )
    fetched = df.select(F.col(id_col), emb.alias("__v")).join(
        F.broadcast(short), id_col
    )
    return (
        fetched.select(
            id_col,
            "int8_dot",
            quantized_cosine(cosine_expr(F.col("__v"), q)).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), id_col)
        .limit(k)
    )


def hashed_semantic_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
    min_cos: float = 0.5,
    max_cell: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs over feature-hashed text embeddings —
    the in-engine composition text -> hash_embed (t26) -> blocked
    cosine pairs, with EXACT integer verification.

    Blocking (deterministic, so the SQL twin reproduces it): a doc's
    cell is the 0-based index of its max-|weight| bucket (first index
    on ties) — cosine-similar vectors concentrate mass in the same
    buckets, the dd8 cell idea without trained centroids.  Within-cell
    equi-join only; recall below 1 by design (a blocked ANN surface).
    Size ``dim`` to the corpus: cells ~ dim, so candidates shrink as
    the width grows.  ``max_cell`` is dd8's skew guard: oversized cells
    hash sub-split on xxhash64(feat) into ceil(n/max_cell) sub-cells
    (bounded per-task pairs; cross-sub-cell pairs of a capped cell are
    the documented recall cost).  Clone-heavy corpora should run dd1 /
    dd9 first — their true pair set is inherently quadratic.

    Verify: one Arrow-batched numpy int64 Gram matmul PER CELL
    (applyInPandas) — each doc's vector ships once per cell, where the
    earlier pair-join formulations shipped two vectors per candidate
    pair (the 8x rehearsal measured the interpreted zip_with fold at
    173 s and the per-pair einsum at 72 s; the per-cell matmul is the
    shape that scales).  cosine >= min_cos is decided in exact int64
    arithmetic — 10^4*dot^2 >= round(10^4*min_cos^2)*n_a*n_b with
    dot > 0 (squares stay < 2^53 for corpora under ~10^6 tokens/doc);
    the reported ``cosine`` is one IEEE div/sqrt of exact integers,
    bit-identical to the SQL twin.  Per-task memory is O(cell^2) for
    the Gram matrix — ``max_cell`` is also the memory bound.
    """
    from pyspark.sql import types as T

    from era_parser_spark.operators.text import hash_embed

    q = int(round(10_000 * min_cos * min_cos))
    emb = hash_embed(df, id_col, text_col, dim).filter(F.col("norm_sq") > 0)
    absfeat = F.transform("feat", lambda x: F.abs(x))
    cells = emb.withColumn(
        "__cell", F.array_position(absfeat, F.array_max(absfeat)) - 1
    )
    if max_cell is None:
        cells = cells.withColumn("__sub", F.lit(0).cast("long"))
    else:
        if max_cell < 1:
            raise ValueError(f"max_cell must be >= 1, got {max_cell}")
        sizes = cells.groupBy("__cell").agg(F.count(F.lit(1)).alias("__n"))
        cells = cells.join(F.broadcast(sizes), "__cell").withColumn(
            "__sub",
            F.when(F.col("__n") <= max_cell, F.lit(0).cast("long")).otherwise(
                F.pmod(
                    F.xxhash64("feat"),
                    F.ceil(F.col("__n") / F.lit(max_cell)).cast("long"),
                )
            ),
        )
    # per-cell matmul kernel: each doc ships ONCE per cell (the pair
    # join shipped both dense vectors per PAIR — 2|pairs| vectors vs
    # |cell| here; measured 4.8 s -> see PLANS.md).  Within a cell the
    # full int64 Gram matrix A@A.T decides the exact threshold; output
    # only the surviving (upper-triangle) pairs.
    import numpy as np
    import pandas as pd

    id_field = [f for f in cells.schema.fields if f.name == id_col][0]
    out_schema = T.StructType(
        [
            T.StructField("doc_a", id_field.dataType),
            T.StructField("doc_b", id_field.dataType),
            T.StructField("dot", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def cell_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        A = np.asarray(pdf["feat"].tolist(), dtype=np.int64)
        N = pdf["norm_sq"].to_numpy(dtype=np.int64)
        D = A @ A.T
        ia, ib = np.triu_indices(len(ids), k=1)
        d = D[ia, ib]
        keep = (d > 0) & (10_000 * d * d >= q * N[ia] * N[ib])
        ia, ib, d = ia[keep], ib[keep], d[keep]
        return pd.DataFrame(
            {
                "doc_a": ids[ia],
                "doc_b": ids[ib],
                "dot": d,
                "cosine": d.astype(np.float64)
                / np.sqrt((N[ia] * N[ib]).astype(np.float64)),
            }
        )

    guarded = cells.filter(
        F.col("feat").isNotNull() & (F.size("feat") == dim)
    ).select(id_col, "feat", "norm_sq", "__cell", "__sub")
    return guarded.groupBy("__cell", "__sub").applyInPandas(cell_fn, out_schema)


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 64,
    min_cos: float = 0.9,
) -> DataFrame:
    """Embedding-space decontamination: flag training documents whose
    feature-hashed vector (t26) is cosine-close to ANY benchmark
    document — the semantic screen eval decontamination runs alongside
    dd7/dd14's n-gram screens (paraphrased leakage that no shingle
    overlap catches).

    Plan mirrors dd14's broadcast shape one tier up: the bench side
    collapses to a k x dim int64 matrix CARRIED IN THE TASK CLOSURE
    (eval sets are tiny by construction — the 32 KB-Bloom assumption);
    the screen itself is JOIN-FREE — one Arrow-batched numpy int64
    matmul pass over the train vectors, no train-vs-bench shuffle ever.
    The only exchanges in the plan are hash_embed's own long-keyed
    aggregations (t26's 9.3 B/token, measured); at 100 TB the screen
    adds exactly one pass over train vectors on top of embedding.

    Exactness: every decision is integer.  A bench hit is
    ``dot > 0 AND floor(10^4*dot^2 / (n_t*n_b)) >= round(10^4*
    min_cos^2)`` (equivalent to the s15 predicate since the threshold
    is integral); ``max_cos_q`` reports the best hit's quantized
    cos^2*10^4 — max of exact integers, so no float argmax
    tie-ambiguity ever reaches the output.  Bounds: 10^4*dot^2 needs
    dot < ~9.6*10^6, i.e. docs under ~10^6 tokens (s15's bound).
    Zero-norm docs can neither hit nor be hit.

    Returns (id, n_bench_hits, max_cos_q, contaminated) — one row per
    train doc.
    """
    import numpy as np

    from pyspark.sql import types as T

    from era_parser_spark.operators.text import hash_embed

    q = int(round(10_000 * min_cos * min_cos))
    brows = (
        hash_embed(bench, id_col, text_col, dim)
        .filter(F.col("norm_sq") > 0)
        .collect()
    )
    B = np.asarray([r["feat"] for r in brows], dtype=np.int64)
    NB = np.asarray([r["norm_sq"] for r in brows], dtype=np.int64)
    k = len(brows)

    temb = hash_embed(train, id_col, text_col, dim).select(
        F.col(id_col), "feat", "norm_sq"
    )
    id_field = [f for f in temb.schema.fields if f.name == id_col][0]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("n_bench_hits", T.LongType()),
            T.StructField("max_cos_q", T.LongType()),
            T.StructField("contaminated", T.BooleanType()),
        ]
    )

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0 or k == 0:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col] if n else pd.Series([], dtype="int64"),
                        "n_bench_hits": np.zeros(n, dtype=np.int64),
                        "max_cos_q": np.zeros(n, dtype=np.int64),
                        "contaminated": np.zeros(n, dtype=bool),
                    }
                )
                continue
            A = np.asarray(pdf["feat"].tolist(), dtype=np.int64)
            NT = np.asarray(pdf["norm_sq"], dtype=np.int64)
            D = A @ B.T                                   # exact int64
            denom = np.outer(NT, NB)
            pos = (D > 0) & (denom > 0)
            cq = np.zeros_like(D)
            np.floor_divide(
                10_000 * D * D, denom, out=cq, where=pos
            )
            hits = pos & (cq >= q)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bench_hits": hits.sum(axis=1).astype(np.int64),
                    "max_cos_q": np.where(
                        hits.any(axis=1), np.max(np.where(hits, cq, 0), axis=1), 0
                    ).astype(np.int64),
                    "contaminated": hits.any(axis=1),
                }
            )

    guarded = temb.filter(
        F.col("feat").isNotNull() & (F.size("feat") == dim)
    )
    return guarded.mapInPandas(fn, out_schema)


def _quantized_vectors(
    df: DataFrame, id_col: str, vec_col: str, quant: int, dim: int
) -> DataFrame:
    """(id, q array<bigint>) with q[d] = floor(v[d] * quant) — the
    label_centroids quantization, applied element-wise so every
    downstream distance/dot is exact int64.  Malformed rows (null
    vector, wrong size, null elements) are filtered JVM-SIDE before any
    numpy kernel sees them (an object-dtype matrix kills the task — the
    srp_signatures lesson)."""
    q = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * quant).cast("long"),
    )
    return (
        df.filter(
            F.col(vec_col).isNotNull()
            & (F.size(vec_col) == dim)
            & ~F.exists(vec_col, lambda x: x.isNull())
        )
        .select(F.col(id_col), q.alias("__q"))
    )


def _lloyd_assign(Q: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact int64 argmin assignment: d2[i,j] = ||Q[i]-C[j]||^2 via the
    expansion |q|^2 - 2qC + |c|^2 (every term int64; overflow bounds are
    the caller's documented quant contract).  np.argmin returns the FIRST
    minimum — centroid rows are kept sorted by cluster id, so ties break
    to the smallest cid exactly like the SQL twin's ORDER BY (d2, cid)."""
    qq = np.einsum("ij,ij->i", Q, Q)
    cc = np.einsum("ij,ij->i", C, C)
    d2 = qq[:, None] - 2 * (Q @ C.T) + cc[None, :]
    j = np.argmin(d2, axis=1)
    return j, d2[np.arange(len(j)), j]


def kmeans_lloyd(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | str = 8,
    iters: int = 2,
    quant: int = 1_000_000,
    dim: int | None = None,
    keep_vec: bool = False,
    init: str = "first_k",
) -> DataFrame:
    """Distributed Lloyd's k-means over the FULL corpus with exact
    integer arithmetic — bit-identical assignments in plain SQL.

    This is the missing third shape next to centroid_table's trainers:
    "stride" is deterministic but untrained, "kmeans" (Spark ML) is
    trained but on a bounded driver-side sample with float math nobody
    can oracle.  Here every vector is quantized (q = floor(v*quant),
    the label_centroids rule), the init is the k smallest ids'
    vectors, each of ``iters`` Lloyd updates recomputes centroids as
    exact integer floor-division means, and the final assignment
    reports exact int64 squared distances — so the whole TRAINED model
    is reproducible in DuckDB CTEs and the operator carries a full
    value oracle (no other engine's k-means can say that).

    Scale shape (the reason Lloyd's fits Spark so well):
      * assignment is an Arrow-batched numpy int64 matmul per batch
        against a BROADCAST (k x dim) centroid array — the corpus
        never shuffles;
      * the update is the canonical map-side-combined partial-sum
        aggregation: each task emits k x dim (cluster, dim, psum,
        pcnt) partials, the shuffle carries k x dim rows per task, and
        only the k x dim totals reach the driver (the tiny-artifact
        collect precedent of pq_codebook);
      * per iteration: one corpus scan + one k*dim-row shuffle.  At
        100 TB the caller should persist the quantized projection
        (id + ints) to pay the parquet decode once across iterations.

    Exactness contract: |v| * quant must stay below sqrt(2^62 / dim)
    so the d2 expansion cannot overflow int64 (quant=1e6, dim=4096,
    unit vectors -> 2e15 max term: fine).  Centroid update is
    floor(sum/n) — numpy's floor division; the SQL twin uses the
    positive-mod identity (s - ((s%n + n)%n)) // n because DuckDB's
    `//` truncates toward zero.  Empty clusters drop out (standard
    Lloyd hazard); surviving clusters KEEP their original index, and
    argmin ties break to the smallest cluster id on both sides.

    Returns (id, cluster int, dist_sq bigint [, __q array<bigint> when
    keep_vec]) — dist_sq is vs the FINAL (post-update) centroids.
    """
    from pyspark.sql import types as T

    cids, C, dim = kmeans_fit(df, id_col, vec_col, k, iters, quant, dim, init=init)
    base = _quantized_vectors(df, id_col, vec_col, quant, dim)

    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    out_fields = [
        T.StructField(id_col, id_field.dataType),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("dist_sq", T.LongType()),
    ]
    if keep_vec:
        out_fields.append(T.StructField("__q", T.ArrayType(T.LongType())))
    out_schema = T.StructType(out_fields)

    def _final_fn(C_arr: np.ndarray, cid_arr: np.ndarray):
        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = np.asarray(pdf["__q"].tolist(), dtype=np.int64)
                j, d2 = _lloyd_assign(Q, C_arr)
                out = {
                    id_col: pdf[id_col].to_numpy(),
                    "cluster": cid_arr[j].astype(np.int32),
                    "dist_sq": d2,
                }
                if keep_vec:
                    # positional, never index-aligned (a non-default batch
                    # index would silently misalign against numpy columns)
                    out["__q"] = pdf["__q"].reset_index(drop=True)
                yield pd.DataFrame(out)

        return fn

    return base.mapInPandas(_final_fn(C, cids), out_schema)


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | str = 8,
    iters: int = 2,
    quant: int = 1_000_000,
    dim: int | None = None,
    init: str = "first_k",
    target_cell: int = 4096,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Train kmeans_lloyd's exact integer model and return it as the tiny
    driver artifact (cids, C, dim): surviving cluster ids (sorted), the
    (len(cids) x dim) int64 centroid matrix, and the resolved dim.  The
    model is servable anywhere — kmeans_lloyd maps it over the batch,
    st13 broadcasts it into a stream as literal columns — and trains
    identically regardless of consumer (see kmeans_lloyd for the
    exactness contract and the per-iteration scale shape).

    init="first_k" (default): the k smallest ids' vectors.
    init="kcenter": Gonzalez farthest-point seeding (_kcenter_select) —
    the deterministic k-means++ stand-in (D^2 sampling's RNG replaced by
    the exact argmax rule), still fully oracle-replayable; cluster index
    = rank of the seed's id among the DISTINCT selected seeds, so the
    tie-break convention is identical to first_k's id order.  Seeding
    costs k-1 extra corpus passes (the s17 scale note); requires an
    integral id column.

    ``k="auto"`` sizes the cluster count to the CORPUS instead of a
    constant: k = ceil(n / target_cell) (one count job), so downstream
    per-cluster kernels (the semdedup/curation Gram matmuls, O((n/k)^2)
    per cluster) stay bounded as data grows — the k-sizing rule
    (curation_v4 measured 129 s at k=8 vs 16.6 s at k=64 on the 32x
    corpus) applied mechanically.  Registry entries pin small literal k
    only so their sf0.01 oracles stay replayable."""
    from pyspark.sql import types as T

    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if dim is None:
        dim = _mode_dim(df, vec_col)
    if dim is None:
        raise ValueError("kmeans_fit: no non-null vectors to infer dim from")
    base = _quantized_vectors(df, id_col, vec_col, quant, dim)
    if k == "auto":
        n_rows = base.count()
        k = max(1, -(-n_rows // target_cell))
    elif not isinstance(k, int):
        raise ValueError(f"k must be an int or 'auto', got {k!r}")

    if init == "kcenter":
        id_field = [f for f in df.schema.fields if f.name == id_col][0]
        if id_field.dataType.typeName() not in ("byte", "short", "integer", "long"):
            raise ValueError(
                "kmeans_fit(init='kcenter') needs an integral id column, "
                f"got {id_field.dataType.simpleString()}"
            )
        base = base.persist()
        seeds = sorted(
            {cid: vec for cid, vec in _kcenter_select(base, id_col, id_field.dataType, k)}.items()
        )
        cids = np.arange(len(seeds), dtype=np.int64)
        C = np.stack([v for _, v in seeds])
    elif init == "first_k":
        rows = base.orderBy(id_col).limit(k).collect()
        if not rows:
            raise ValueError("kmeans_fit: empty input")
        cids = np.arange(len(rows), dtype=np.int64)
        C = np.asarray([r["__q"] for r in rows], dtype=np.int64)
    else:
        raise ValueError(f"unknown kmeans init: {init!r}")

    part_schema = T.StructType(
        [
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("psum", T.LongType()),
            T.StructField("pcnt", T.LongType()),
        ]
    )

    def _partials_fn(C_arr: np.ndarray, cid_arr: np.ndarray):
        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            kk, d = C_arr.shape
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = np.asarray(pdf["__q"].tolist(), dtype=np.int64)
                j, _ = _lloyd_assign(Q, C_arr)
                S = np.zeros((kk, d), dtype=np.int64)
                np.add.at(S, j, Q)
                n = np.bincount(j, minlength=kk).astype(np.int64)
                live = np.flatnonzero(n)
                if len(live) == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "cluster": np.repeat(cid_arr[live], d).astype(np.int32),
                        "dim": np.tile(np.arange(d, dtype=np.int32), len(live)),
                        "psum": S[live].ravel(),
                        "pcnt": np.repeat(n[live], d),
                    }
                )

        return fn

    for _ in range(iters):
        rows = (
            base.mapInPandas(_partials_fn(C, cids), part_schema)
            .groupBy("cluster", "dim")
            .agg(F.sum("psum").alias("s"), F.sum("pcnt").alias("n"))
            .collect()
        )
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for r in rows:
            v = sums.setdefault(int(r["cluster"]), np.zeros(dim, dtype=np.int64))
            v[int(r["dim"])] = int(r["s"])
            counts[int(r["cluster"])] = int(r["n"])
        live_cids = sorted(sums)
        cids = np.asarray(live_cids, dtype=np.int64)
        C = np.stack(
            [sums[c] // counts[c] for c in live_cids]
        )  # numpy int64 // is floor division — the SQL twin's identity

    return cids, C, dim


def semdedup_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | str = 8,
    iters: int = 2,
    quant: int = 512,
    min_cos: float = 0.9,
    dim: int | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup with LEARNED clusters — the paper's actual recipe
    (Abbas et al. 2023, arXiv:2303.09540: k-means the embeddings, then
    deduplicate within each cluster, keeping the example farthest from
    the centroid).  dd8's semantic_dedup approximates the clustering
    with hash cells; this operator runs the real Lloyd's step
    (kmeans_lloyd — exact integer model) and applies the paper's
    keeper rule with exact arithmetic end to end.

    Within-cluster dedup is ONE Arrow-batched applyInPandas kernel per
    cluster (the s15 per-cell Gram-matmul shape: each vector ships
    once per cluster, never per pair): the int64 Gram matrix decides
    cos >= min_cos exactly (1e4*dot^2 >= round(1e4*min_cos^2)*|a|^2*|b|^2
    with dot > 0), and a row is removed iff some eps-neighbor is
    STRICTLY farther from the final centroid (tie: smaller id wins the
    keep) — so in a duplicate clique exactly the farthest survives,
    the paper's "lowest similarity to centroid" rule, extended to
    non-clique neighborhoods as local-maxima-survive (deterministic,
    SQL-expressible: no greedy scan order to replicate).

    Exactness bound: 1e4 * dot^2 must fit int64, so for |v| <= 1 keep
    dim * quant^2 <= 3.0e7 (quant=512 at dim=64 -> 1.7e7: fine; the
    coarser 9-bit quantization is the price of exact squared-dot
    arithmetic — it is a DEDUP surface, not a retrieval one).
    Per-cluster memory is O(|cluster|^2) for the Gram matrix;
    ``max_cell`` is the dd8/s15 skew+memory guard: oversized clusters
    hash sub-split on xxhash64 of the quantized vector into
    ceil(n/max_cell) sub-cells, bounding every task — cross-sub-cell
    duplicate pairs of a capped cluster go unseen (kept=true), the
    documented recall cost, and bit-identical vectors land in the SAME
    sub-cell so exact clones always dedup.  Clone-heavy corpora should
    still run dd1/dd9 first (their true pair set is quadratic).  The
    default (None) is the exact oracle path.

    Returns (id, cluster, dist_sq, kept boolean) for every well-formed
    input row; zero vectors have no defined cosine and are always kept.
    """
    from pyspark.sql import types as T

    if dim is None:
        dim = _mode_dim(df, vec_col)
    if dim is None:
        raise ValueError("semdedup_kmeans: no non-null vectors to infer dim from")
    if dim * quant * quant > 30_000_000:
        raise ValueError(
            "semdedup_kmeans: dim * quant^2 must stay <= 3.0e7 so "
            "1e4*dot^2 cannot overflow int64 for unit-bounded vectors; "
            f"got dim={dim}, quant={quant}"
        )
    qthr = int(round(10_000 * min_cos * min_cos))
    assigned = kmeans_lloyd(
        df, id_col, vec_col, k=k, iters=iters, quant=quant, dim=dim, keep_vec=True
    )
    if max_cell is None:
        assigned = assigned.withColumn("__sub", F.lit(0).cast("long"))
    else:
        if max_cell < 1:
            raise ValueError(f"max_cell must be >= 1, got {max_cell}")
        # cache before branching: sizes + the join both consume `assigned`,
        # and an un-cached branch re-runs the whole assignment kernel per
        # consumer (the semantic_dedup_with_stats precedent / CLAUDE.md
        # multi-branch trap)
        assigned = assigned.persist()
        sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))
        assigned = assigned.join(F.broadcast(sizes), "cluster").withColumn(
            "__sub",
            F.when(F.col("__n") <= max_cell, F.lit(0).cast("long")).otherwise(
                F.pmod(
                    F.xxhash64("__q"),
                    F.ceil(F.col("__n") / F.lit(max_cell)).cast("long"),
                )
            ),
        )

    id_field = [f for f in df.schema.fields if f.name == id_col][0]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("dist_sq", T.LongType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )

    def cluster_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        Q = np.asarray(pdf["__q"].tolist(), dtype=np.int64)
        ds = pdf["dist_sq"].to_numpy(dtype=np.int64)
        G = Q @ Q.T
        N = np.diagonal(G).copy()
        adj = (G > 0) & (10_000 * G * G >= qthr * np.outer(N, N))
        np.fill_diagonal(adj, False)
        # dominated[i] <=> exists eps-neighbor j with (ds_j, -id_j) > (ds_i, -id_i)
        farther = (ds[None, :] > ds[:, None]) | (
            (ds[None, :] == ds[:, None]) & (ids[None, :] < ids[:, None])
        )
        removed = (adj & farther).any(axis=1)
        return pd.DataFrame(
            {
                id_col: ids,
                "cluster": pdf["cluster"].to_numpy(),
                "dist_sq": ds,
                "kept": ~removed,
            }
        )

    return assigned.groupBy("cluster", "__sub").applyInPandas(cluster_fn, out_schema)


def _kcenter_select(
    base: DataFrame, id_col: str, id_dtype, k: int
) -> list[tuple[int, np.ndarray]]:
    """The Gonzalez selection loop over a (persisted) quantized projection:
    start at the smallest id, then k-1 argmax-min-distance rounds — each
    one Arrow-batched pass against the broadcast center list emitting ONE
    candidate row per batch (which carries its own vector, so the winner
    needs no second corpus pass), reduced by a tiny driver top-1 under
    (mind DESC, id ASC).  Returns the centers in SELECTION order (may
    contain re-selections on degenerate corpora).  Shared by
    kcenter_greedy and kmeans_fit(init='kcenter')."""
    from pyspark.sql import types as T

    first = base.orderBy(id_col).limit(1).collect()
    if not first:
        raise ValueError("kcenter selection: empty input")
    centers: list[tuple[int, np.ndarray]] = [
        (first[0][id_col], np.asarray(first[0]["__q"], dtype=np.int64))
    ]
    cand_schema = T.StructType(
        [
            T.StructField(id_col, id_dtype),
            T.StructField("mind", T.LongType()),
            T.StructField("__q", T.ArrayType(T.LongType())),
        ]
    )

    def _cand_fn(C_arr: np.ndarray):
        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = np.asarray(pdf["__q"].tolist(), dtype=np.int64)
                qq = np.einsum("ij,ij->i", Q, Q)
                cc = np.einsum("ij,ij->i", C_arr, C_arr)
                d2 = qq[:, None] - 2 * (Q @ C_arr.T) + cc[None, :]
                mind = d2.min(axis=1)
                ids = pdf[id_col].to_numpy()
                # batch argmax under (mind DESC, id ASC)
                best = np.lexsort((ids, -mind))[0]
                yield pd.DataFrame(
                    {
                        id_col: ids[best : best + 1],
                        "mind": mind[best : best + 1],
                        "__q": [list(Q[best])],
                    }
                )

        return fn

    for _ in range(k - 1):
        C = np.stack([c for _, c in centers])
        top = (
            base.mapInPandas(_cand_fn(C), cand_schema)
            .orderBy(F.desc("mind"), id_col)
            .limit(1)
            .collect()
        )[0]
        centers.append((top[id_col], np.asarray(top["__q"], dtype=np.int64)))
    return centers


def kcenter_greedy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    quant: int = 1_000_000,
    dim: int | None = None,
) -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez 1985,
    the 2-approximation; the selection rule behind coreset-based training-
    data pruning a la Sener & Savarese 2018): start from the smallest id,
    then k-1 times pick the point FARTHEST from the chosen set (max over
    points of min over centers of squared L2; ties to the smallest id).

    All distances are exact int64 over floor(v*quant) vectors, so the
    entire sequential selection — normally hopeless to verify — replays
    bit-for-bit as k chained SQL CTEs.

    Scale shape: the quantized projection is persisted once; each of the
    k-1 rounds is one Arrow-batched numpy pass against the BROADCAST
    center list (closure capture) emitting ONE candidate row per batch
    (the batch argmax under (min_dist DESC, id ASC)), reduced by a tiny
    driver-side top-1 — no shuffle of the corpus, ever; total work
    O(n * k^2 * dim / 2) integer ops, k tiny jobs.  Degenerate corpora
    (fewer distinct vectors than k) re-select an existing center
    identically on both sides; the final center set is DISTINCT ids.

    Returns every well-formed row as (id, center_id, d2, selected):
    nearest chosen center (ties to the smaller center id), exact squared
    distance, and membership in the coreset.
    """
    from pyspark.sql import types as T

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    id_dt = [f for f in df.schema.fields if f.name == id_col][0].dataType
    if id_dt.typeName() not in ("byte", "short", "integer", "long"):
        # the candidate kernel lexsorts and np.isin's the id column as
        # int64 — a string/decimal id would die inside a task; fail loudly
        raise ValueError(
            f"kcenter_greedy needs an integral id column, got {id_dt.simpleString()}"
        )
    if dim is None:
        dim = _mode_dim(df, vec_col)
    if dim is None:
        raise ValueError("kcenter_greedy: no non-null vectors to infer dim from")
    base = _quantized_vectors(df, id_col, vec_col, quant, dim).persist()
    try:
        id_field = [f for f in df.schema.fields if f.name == id_col][0]
        centers = _kcenter_select(base, id_col, id_field.dataType, k)

        # final assignment vs the DISTINCT center set, sorted by center id so
        # numpy's first-occurrence argmin matches ORDER BY (d2, center_id)
        uniq = sorted({cid: vec for cid, vec in centers}.items())
        cid_arr = np.asarray([c for c, _ in uniq], dtype=np.int64)
        C = np.stack([v for _, v in uniq])
        sel_ids = frozenset(int(c) for c in cid_arr)

        out_schema = T.StructType(
            [
                T.StructField(id_col, id_field.dataType),
                T.StructField("center_id", id_field.dataType),
                T.StructField("d2", T.LongType()),
                T.StructField("selected", T.BooleanType()),
            ]
        )

        def _assign_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                Q = np.asarray(pdf["__q"].tolist(), dtype=np.int64)
                j, d2 = _lloyd_assign(Q, C)
                ids = pdf[id_col].to_numpy()
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "center_id": cid_arr[j],
                        "d2": d2,
                        "selected": np.isin(ids, list(sel_ids)),
                    }
                )

        # the cached quantized projection stays persisted for the returned
        # (lazy) assignment plan; it is tiny (id + dim longs per row) and
        # Spark evicts LRU — callers doing many selections can unpersist.
        return base.mapInPandas(_assign_fn, out_schema)
    except Exception:
        base.unpersist()
        raise
