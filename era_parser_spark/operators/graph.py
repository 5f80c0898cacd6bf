"""Distributed connected components — the clustering step of near-dup
deduplication (pair lists from MinHash-LSH / SimHash / Jaccard become
transitive duplicate clusters; a curation pipeline then keeps one canonical
document per cluster).

Algorithm: one contract, min node id per component, computed two ways
chosen by the input's size.  Edge lists up to SMALL_GRAPH_EDGE_THRESHOLD
rows are collected and labeled by a driver union-find.  Bigger ones run
the alternating large-star/small-star rounds (Kiveris et al., "Connected
Components in MapReduce and Beyond"), which converge in O(log n) rounds
for every graph shape: near-dup graphs (stars, cliques) and adversarial
chains alike.

Scale notes:
  * ``localCheckpoint(eager=True)`` after every round truncates lineage —
    without it the plan doubles per iteration and the driver OOMs compiling
    round ~20.
  * the input edge list is checkpointed once, before it is symmetrized, so
    an expensive upstream pair pipeline is derived once.
  * convergence is detected from an (edge count, hash sum) checksum on the
    frame just checkpointed — one tiny aggregate per round.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from era_parser_spark.session import rows_frame

# Edge lists at or below this row count take the exact driver union-find
# fast path instead of the iterative distributed rounds (round 12): a
# near-dup graph of a few hundred pairs was paying 6-10 Spark jobs
# (per-round shuffles + checkpoints + convergence checks) for work a
# driver does in microseconds, with identical labels.  Same adaptive
# convention as suffix.BIG_WALK_PAIR_THRESHOLD: the gate is the COUNT of
# an already-checkpointed pair frame — the quantity the LSH designs
# budget — never a core count, so cluster runs with big graphs take the
# distributed rounds unchanged.  1M (src, dst) rows is ~16 MB collected.
SMALL_GRAPH_EDGE_THRESHOLD = 1_000_000


def _smallgraph_labels(
    nodes: DataFrame, base: DataFrame, id_col: str
) -> DataFrame:
    """Exact min-id component labels for a SMALL (already materialized)
    edge frame: collect, union-find with min tracking on the driver, and
    broadcast the (node, label) table back — the same (id_col,
    cluster_id = min reachable id) contract as the distributed rounds,
    pinned differentially in tests/test_round12_ops.py."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in base.collect():
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label_rows = [(x, find(x)) for x in parent]
    t = base.schema.fields[0].dataType.simpleString()
    labels = rows_frame(nodes.sparkSession, label_rows, f"__node {t}, __label {t}")
    return nodes.select(F.col(id_col)).join(
        F.broadcast(labels.withColumnRenamed("__node", id_col)), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce("__label", F.col(id_col)).alias("cluster_id"),
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # decimal accumulator: a long sum of xxhash64 values overflows under
    # ANSI mode after a few thousand edges
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).cast("decimal(38,0)").alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 60,
) -> DataFrame:
    """Label every node with the min node id reachable from it.

    Parameters: `nodes` has one row per node (`id_col`); `edges` is an
    undirected edge list (`src_col`, `dst_col`).  Nodes with no edges keep
    their own id (singleton clusters).  Returns (id_col, cluster_id).

    Edge lists up to SMALL_GRAPH_EDGE_THRESHOLD rows are labeled by a
    driver union-find.  Bigger ones run the alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14; public algorithm, re-derived here for
    DataFrames), which take O(log n) rounds for ANY graph shape — a chain
    contracts exponentially instead of costing one round per link:

    * large-star: every node points its LARGER neighbors at its minimum
      neighborhood member — `m(u) = min({u} ∪ Γ(u))`;
    * small-star: each node and its smaller neighbors re-attach to the
      minimum of that smaller closed neighborhood.

    Each round is two (groupBy min + join + distinct) passes over the edge
    list; at fixpoint the edges form stars rooted at component minima.
    Convergence is detected by an (edge count, xxhash64 sum) checksum —
    one tiny aggregate, no driver-side edge materialization.
    """
    # materialize the edge list BEFORE the symmetrize union: both union
    # branches read the checkpoint instead of re-deriving the (potentially
    # expensive — dd5: a full Jaccard self-join) upstream pipeline twice
    base = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    if base.count() <= SMALL_GRAPH_EDGE_THRESHOLD:
        return _smallgraph_labels(nodes, base, id_col)
    sym = (
        base.unionByName(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = sym
    prev_sig = _checksum(cur)
    for _ in range(max_iter):
        # -- large star: for each u, m = min(u, neighbors); larger
        #    neighbors v > u re-point to m
        m = cur.groupBy("src").agg(F.min("dst").alias("__mn"))
        m = m.select("src", F.least("src", "__mn").alias("__m"))
        large = (
            cur.filter(F.col("dst") > F.col("src"))
            .join(m, "src")
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .unionByName(m.select("src", F.col("__m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        sym2 = (
            large.unionByName(large.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
        )
        # -- small star: per u, the closed smaller neighborhood re-attaches
        #    to its minimum
        down = sym2.filter(F.col("dst") < F.col("src"))
        ms = down.groupBy("src").agg(F.min("dst").alias("__m"))
        small = (
            down.join(ms, "src")
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .unionByName(ms.select("src", F.col("__m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        cur = (
            small.unionByName(small.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    roots = cur.filter(F.col("dst") < F.col("src")).select(
        F.col("src").alias("node"), F.col("dst").alias("label")
    ).groupBy("node").agg(F.min("label").alias("label"))
    return (
        nodes.select(F.col(id_col))
        .join(roots.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("label", F.col(id_col)).alias("cluster_id"),
        )
    )


def cluster_sizes(components: DataFrame, id_col: str = "id") -> DataFrame:
    """(id_col, cluster_id, cluster_sz) — components annotated with size."""
    sizes = components.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_sz"))
    return components.join(sizes, "cluster_id").select(id_col, "cluster_id", "cluster_sz")


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: tuple[int, int] = (85, 100),
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-point integer PageRank over a directed edge list.

    The link-graph centrality signal web-corpus curation pipelines rank
    hosts with (the CommonCrawl webgraph publishes exactly this; Gopher /
    RefinedWeb-style pipelines consume it as a quality prior).  All
    arithmetic is integer: ranks live at ``scale`` fixed-point precision,
    the damping factor is the exact rational ``d_num/d_den``, and every
    step is truncating BIGINT division — so the ranks are bit-identical
    across engines and the whole unrolled iteration is SQL-rederivable
    (x25's oracle).  Dangling mass (nodes with no out-edges) is
    redistributed uniformly each round, per the standard formulation.

    Per-round update, all in BIGINT (values non-negative, so Spark `div`
    == DuckDB `//`)::

        base   = ((d_den - d_num) * (scale div N)) div d_den
        dterm  = (d_num * (dangling_sum div N)) div d_den
        r'(v)  = base + (d_num * sum_{u->v}(r(u) div outdeg(u))) div d_den
                      + dterm

    Scale notes:
      * the iteration is the Pregel shape: the (src, dst, outdeg) edge
        frame is checkpointed ONCE and reused every round; each round
        shuffles only the (node, rank) frame — never the edges.
      * the dangling sum is a 1-row aggregate broadcast-crossed onto the
        rank frame (no driver round-trip inside the loop would be needed
        on a cluster; we fold it as a literal per round, which costs one
        tiny job — same shape as connected_components' convergence checksum).
      * ``localCheckpoint`` after every round truncates lineage so the
        plan does not double per iteration.

    Returns (node, pr): one row per node, ``pr`` the BIGINT fixed-point
    rank after ``iterations`` rounds.
    """
    d_num, d_den = damping
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("pr"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # edges annotated with the source's outdegree, reused every round
    e_deg = e.join(deg, "src").localCheckpoint(eager=True)
    r0 = scale // n
    base = ((d_den - d_num) * r0) // d_den

    ranks = nodes.select("node", F.lit(r0).cast("long").alias("pr"))
    for _ in range(iterations):
        # dangling mass: rank held by nodes with no out-edges this round
        dang_row = (
            ranks.join(deg, ranks["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0)).alias("dang"))
            .first()
        )
        dterm = (d_num * (int(dang_row["dang"]) // n)) // d_den
        contrib = (
            e_deg.join(ranks, e_deg["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.expr("pr div outdeg")).alias("insum"))
        )
        # integral `div` keeps every step exact (non-negative, == DuckDB //)
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                F.expr(
                    f"CAST({base} + ({d_num} * coalesce(insum, 0)) div {d_den}"
                    f" + {dterm} AS BIGINT)"
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007): community
    detection over a link graph — the host-clustering signal crawl
    curation uses to spot template farms / mirror networks that PageRank
    (x25) and connected components (dd5/dd6) can't separate: CC merges
    anything touching, LPA keeps densely-linked groups apart.

    Fully deterministic (no RNG, no update-order dependence): the graph
    is symmetrized and deduplicated, every node starts labeled with its
    own id, and each round EVERY node simultaneously adopts the most
    frequent label among its neighbors, ties to the lexicographically
    smallest label (string comparison — identical in Spark and DuckDB
    for these ASCII host names).  ``iterations`` unrolled rounds make
    the whole computation SQL-rederivable (the x25 argument) — the
    communities are oracle-EXACT, not approximate.

    Scale shape (Pregel): the symmetrized edge frame is checkpointed
    ONCE; each round shuffles only (node, label) pairs — a join on the
    node key, a map-side-combined (v, label) count, and a per-v window
    whose input is at most one row per (node, distinct neighbor label).
    ``localCheckpoint`` after each round truncates lineage.  Isolated
    nodes never appear in an edge list, so every node has >= 1 neighbor.

    Known property of the synchronous schedule: perfectly bipartite
    structures can 2-cycle (labels swap each round) — standard for sync
    LPA (Raghavan §3 suggests async to break it); here determinism is
    the contract, so the ``iterations`` parity decides such nodes.

    Returns (node, community) after ``iterations`` rounds.
    """
    from pyspark.sql import Window as W

    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    und = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # symmetric graph: the src column already enumerates every node
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = W.partitionBy("v").orderBy(F.desc("c"), "label")
    for _ in range(iterations):
        nbr = und.join(labels, und["dst"] == labels["node"]).select(
            und["src"].alias("v"), "label"
        )
        cnt = nbr.groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph — the
    clustering-coefficient numerator (mirror/template farms show up as
    dense triangle clusters the way x26's communities do).

    The scale trick is DEGREE ORIENTATION (Cohen's MapReduce triangle
    counting; Suri & Vassilvitskii WWW'11): orient every undirected
    edge from the endpoint with smaller (degree, node) rank to the
    larger.  Every triangle then has exactly ONE node with two
    out-edges, so joining oriented edges on their source enumerates
    each triangle once, and the oriented out-degree is O(sqrt(m)) on
    ANY graph — the wedge join is sub-quadratic even on power-law
    degree skew, where the naive neighbor join explodes on hubs.

    Plan: symmetrize+dedup (one exchange), degree agg (reuses the key),
    orientation join, then wedge = self-join of the oriented list on
    src and closure = equi-join of (wedge leg pair) against the
    oriented list; triangles explode to their 3 corners for the
    per-node count.  The oriented frame feeds THREE plan branches, so
    it is localCheckpoint'd once (the multi-branch recompute trap) —
    at 100 TB this is the persisted-artifact boundary a production run
    would write to parquet.

    Deterministic: rank = (degree, node) is a total order; counting is
    pure integers — oracle-EXACT.  Returns (node, n_triangles), nodes
    participating in >= 1 triangle.
    """
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    adj = und.select(F.col("u").alias("node")).unionByName(
        und.select(F.col("v").alias("node"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .localCheckpoint()
    )
    e1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
    # both wedge legs leave the SAME oriented node; the pair (b, c) is
    # ordered by NAME, which says nothing about the closing edge's
    # (degree, node)-rank orientation — it can run b->c OR c->b, which
    # is exactly why BOTH closure joins below are required (dropping
    # tri_cb would undercount every triangle whose closing edge is
    # rank-oriented c->b)
    wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
    bc = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri_bc = wedges.join(bc, ["b", "c"])
    cb = oriented.select(F.col("s").alias("c"), F.col("t").alias("b"))
    tri_cb = wedges.join(cb, ["b", "c"])
    tris = tri_bc.unionByName(tri_cb)
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int | None = None,
    max_iter: int = 200,
) -> DataFrame:
    """k-core of an undirected simple graph — the maximal subgraph where
    every node keeps degree >= k (Seidman 1983; distributed peeling per
    Montresor et al. 2011).  The coreness signal ranks crawl hosts by how
    deeply they sit in densely-linked regions: PageRank (x25) scores
    endorsement flow, LPA (x26) splits communities, triangles (x32) score
    local density — k-core cuts the global periphery (doorway pages,
    link tails) that all three keep.

    Algorithm: synchronous peel waves.  Each wave drops every node whose
    CURRENT degree is < k, then every edge touching a dropped node; the
    fixpoint is exactly the k-core (node removal is monotone and
    order-independent, so synchronous waves and sequential peeling agree
    — determinism is structural, no tie rule needed).  Per wave the work
    is one map-side-combined degree count plus two left-semi joins on
    the node key over the symmetrized edge frame — (node, node) strings
    only, O(remaining edges) per wave, the dd5/x26 Pregel shape with
    ``localCheckpoint`` truncating lineage per wave.

    Wave count equals the graph's peel depth: O(1-3) on web-shaped
    graphs (cores are dense, peripheries shallow) but O(n) adversarially
    (a path at k=2 sheds only its two endpoints per wave) — ``max_iter``
    guards the fixpoint loop the way it guards connected_components'
    star rounds.  ``rounds`` runs a FIXED number of waves instead (the
    x25/x26 unrolled-oracle convention; identical to the fixpoint
    whenever the graph's peel depth <= rounds, which the registry entry
    pins at sf0.01) — early-stable waves are no-ops, so the loop still
    exits once stable.

    Returns (node, core_degree) for nodes in the k-core, core_degree =
    degree within the core (>= k at fixpoint).
    """
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    cur = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    n_prev = cur.count()
    limit = max_iter if rounds is None else rounds
    for _ in range(limit):
        alive = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= int(k))
            .select("src")
        )
        nxt = (
            cur.join(alive, "src", "left_semi")
            .join(
                alive.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        n = nxt.count()
        cur = nxt
        if n == n_prev:
            break
        n_prev = n
    else:
        if rounds is None:
            # The loop detects stability one wave AFTER it is reached (it
            # compares post-prune counts across waves), so a peel that
            # converges on exactly the last allowed wave would be rejected
            # here despite being the true fixpoint.  One extra degree
            # check settles it: if no node is below k now, cur IS the
            # k-core and the guard must not fire.
            n_below = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") < int(k))
                .count()
            )
            if n_below > 0:
                raise RuntimeError(
                    f"kcore: no fixpoint after max_iter={max_iter} waves — "
                    "pathologically deep peel structure; raise max_iter or "
                    "run bounded rounds= explicitly"
                )
    return (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("src").alias("node"), "core_degree")
    )


def bfs_distances(
    edges: DataFrame,
    sources: list[str],
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Multi-source BFS over an undirected simple graph: exact shortest
    hop-distance from each landmark in ``sources`` to every node it can
    reach — the landmark-distance primitive behind graph feature columns
    (distance-to-seed-host quality priors on crawl graphs) and the
    unweighted special case of SSSP.  Completes the graph tier's signal
    set: PageRank (x25) scores flow, LPA (x26) splits communities,
    triangles (x32) score local density, k-core (x39) cuts the global
    periphery — BFS measures PROXIMITY to chosen anchors.

    Frontier algorithm (Pregel-shaped, the x25/x26/x39 conventions):
    per wave the NEW frontier is frontier-join-edges minus already
    settled nodes (left-anti on (landmark, node)); every shuffle carries
    (landmark, node, dist) rows only, work per wave is O(frontier
    edges), and both frames are localCheckpoint'ed per wave (lineage
    truncation).  BFS level = min distance, order-independent, so the
    result is structurally deterministic and oracle-EXACT.

    ``rounds`` runs a FIXED number of waves (the unrolled-oracle
    convention: distances are then exact for every node within
    ``rounds`` hops, and nodes farther than that are absent — matching a
    depth-bounded recursive-CTE twin); ``rounds=None`` runs to the
    fixpoint (empty frontier) under ``max_iter``.  Wave count is the
    graph's eccentricity from the landmarks — O(log n) on web-shaped
    graphs, O(n) adversarially (a path), same guard story as kcore.

    Returns (landmark, node, dist): dist = exact hop count, landmarks
    include themselves at dist 0 (only landmarks present in the graph
    emit rows — a landmark with no edges has no node set to measure).
    """
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    adj = (
        e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    # Landmarks are typed from their Python values (ints read as long);
    # with no landmarks the column takes the node type.
    lm_type = (
        from_arrow_type(pa.array(sources).type)
        if len(sources)
        else adj.schema["src"].dataType
    )
    # Small-graph driver fast path (round 12, the SMALL_GRAPH_EDGE_THRESHOLD
    # convention): each distributed wave costs ~6 jobs (join + group +
    # anti-join + two checkpoints + the emptiness probe), pure fixed
    # overhead on a graph whose symmetrized edge list fits the driver.
    # Level-synchronous Python BFS reproduces the wave semantics exactly —
    # min-hop distances, the bounded-`rounds` cut, and the
    # still-expanding-past-max_iter raise.  Duplicate landmarks keep the
    # distributed path (its wave aggregation half-collapses them; not a
    # shape worth replicating).
    if len(set(sources)) == len(sources) and adj.count() <= SMALL_GRAPH_EDGE_THRESHOLD:
        neigh: dict = {}
        for row in adj.collect():
            neigh.setdefault(row["src"], []).append(row["dst"])
        limit_d = max_iter if rounds is None else rounds
        out_rows: list[tuple] = []
        expanding = False
        for s in sources:
            if s not in neigh:
                continue
            dist = {s: 0}
            frontier_n = [s]
            for _ in range(limit_d):
                nxt_n = []
                for u in frontier_n:
                    for v in neigh[u]:
                        if v not in dist:
                            dist[v] = dist[u] + 1
                            nxt_n.append(v)
                if not nxt_n:
                    break
                frontier_n = nxt_n
            else:
                if rounds is None and any(
                    v not in dist for u in frontier_n for v in neigh[u]
                ):
                    expanding = True
            out_rows.extend((s, n, d) for n, d in dist.items())
        if expanding:
            raise RuntimeError(
                f"bfs_distances: frontier still expanding after "
                f"max_iter={max_iter} waves — raise max_iter or run "
                "bounded rounds= explicitly"
            )
        schema = T.StructType(
            [
                T.StructField("landmark", lm_type),
                T.StructField("node", adj.schema["dst"].dataType),
                T.StructField("dist", T.LongType()),
            ]
        )
        return rows_frame(spark, out_rows, schema)
    lm = rows_frame(
        spark,
        [(s,) for s in sources],
        T.StructType([T.StructField("landmark", lm_type)]),
    )
    nodes = adj.select(F.col("src").alias("node")).distinct()
    frontier = (
        lm.join(nodes, lm["landmark"] == nodes["node"], "inner")
        .select("landmark", "node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    settled = frontier
    limit = max_iter if rounds is None else rounds
    for _ in range(limit):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .select(
                "landmark",
                F.col("dst").alias("node"),
                (F.col("dist") + 1).alias("dist"),
            )
            .groupBy("landmark", "node")
            .agg(F.min("dist").alias("dist"))
            .join(settled, ["landmark", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        settled = settled.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    else:
        if rounds is None:
            # The loop exhausted with a non-empty frontier — but that
            # frontier may already have settled the last reachable nodes
            # (the kcore one-wave-late detection lesson, round-9 advice):
            # only an expansion that still discovers NEW nodes means the
            # fixpoint was genuinely not reached.
            probe = (
                frontier.join(adj, frontier["node"] == adj["src"])
                .select("landmark", F.col("dst").alias("node"))
                .join(settled, ["landmark", "node"], "left_anti")
            )
            if not probe.isEmpty():
                raise RuntimeError(
                    f"bfs_distances: frontier still expanding after "
                    f"max_iter={max_iter} waves — raise max_iter or run "
                    "bounded rounds= explicitly"
                )
    return settled.select("landmark", "node", F.col("dist").cast("long").alias("dist"))
