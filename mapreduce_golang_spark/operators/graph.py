"""Iterative graph algorithms over document-similarity graphs.

Connected components lives in operators/dedup.py: a union-find on the
driver when the pair graph has at most GRAPH_BROADCAST_MAX_ROWS directed
edges; above that a min-label propagation loop, whose hop count grows
with chain length when ids are shuffled along a chain. This module adds
PageRank — the canonical fixed-point iteration — over the near-dup pair
graph, a DataFrame loop (not SQL-expressible as one query); the oracle
unrolls the iteration into chained CTEs so DuckDB computes the identical
fixed number of steps.

Scale notes: per iteration one join (ranks ⋈ edges, both hash-
partitioned on the node key) + one aggregation; checkpointing the
ranks every second iteration keeps lineage at most two iterations
deep. Classic Pregel-on-DataFrames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_golang_spark.operators.dedup import (
    _graph_bc,
    _sym_edges,
    checkpoint_counted,
    ngram_jaccard_pairs,
    right_size_graph,
)

PAGERANK_ITERATIONS = 10
PAGERANK_DAMPING = 0.85


def near_dup_pagerank(
    df: DataFrame,
    pairs: DataFrame | None = None,
    iterations: int = PAGERANK_ITERATIONS,
    damping: float = PAGERANK_DAMPING,
    id_col: str = "doc_id",
) -> DataFrame:
    """PageRank over the undirected near-dup graph (nodes = docs in
    ≥1 qualifying pair; every node has degree ≥ 1, so no dangling-mass
    term). rank₀ = 1/N; rankᵢ₊₁(v) = (1-d)/N + d·Σᵤ→ᵥ rankᵢ(u)/deg(u).
    Returns (doc_id, rank) with rank rounded to 6 decimals."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    # out-degree is loop-invariant — fold it onto the edge list ONCE
    # (u, v, deg) instead of re-aggregating it inside every iteration
    edges, _ = right_size_graph(
        _sym_edges(pairs)
        .distinct()
        .withColumn("deg", F.count("*").over(Window.partitionBy("u"))),
        "u",
    )
    return _pagerank(edges, F.col("rank") / F.col("deg"), iterations, damping, id_col)


def _pagerank(
    edges: DataFrame, contrib: Column, iterations: int, damping: float, id_col: str
) -> DataFrame:
    """The PageRank loop shared by the plain and weighted forms: ``edges``
    is the right-sized (u, v, …) table and ``contrib`` the rank a source
    ``u`` sends along one edge. Returns (id_col, rank) rounded to 6."""
    # nodes are needed only to seed rank₀; the count rides the node-table
    # checkpoint as an observed metric (one setup job)
    nodes, m = checkpoint_counted(
        edges.select(F.col("u").alias("node")).distinct(), F.count(F.lit(1)).alias("n")
    )
    n_nodes = int(m["n"])
    if n_nodes == 0:
        return edges.sparkSession.createDataFrame([], "doc_id long, rank double")

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes
    for step in range(iterations):
        # the edge list is symmetrized and every contribution is
        # positive, so EVERY node has inflow and ranks stay strictly
        # positive — the inflow aggregation's domain is exactly the node
        # set, making a re-attach join against `nodes` the identity. One
        # join + one agg per iteration; the rank table is n_nodes rows,
        # so below the gate the join is broadcast-hash and an iteration
        # costs ONE shuffle (the inflow agg).
        ranks = (
            edges.join(_graph_bc(ranks.withColumnRenamed("node", "u"), n_nodes), "u")
            .select(F.col("v").alias("node"), contrib.alias("c"))
            .groupBy("node")
            .agg((F.lit(base) + damping * F.sum("c")).alias("rank"))
        )
        # localCheckpoint truncates the lineage — without it the
        # logical plan nests once per iteration and planning cost
        # grows: an A/B measured the fully-lazy 10-iteration plan
        # SLOWER than checkpointing every second iteration (2.8-5.1 s
        # vs 2.3-2.7 s warm at sf0.1; AQE re-optimizes the whole
        # remaining tree after every stage, so depth costs planning
        # time even when jobs are fewer). Every SECOND iteration keeps
        # lineage ≤ 2 deep at half the materializations of per-step
        # checkpointing (round-11 verdict #4).
        if step % 2 == 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("node").alias(id_col), F.round("rank", 6).alias("rank"))


def near_dup_triangles(df: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Triangles in the near-dup pair graph: (doc_a, doc_b, doc_c) with
    doc_a < doc_b < doc_c and all three edges present — the standard
    graph-quality probe for a dedup pass (triangles are tight clusters
    whose members an aggressive keep-one policy would over-drop).

    Edges arrive canonically ordered (doc_a < doc_b from the pair
    join), so each triangle is enumerated exactly once: wedge join on
    the shared middle vertex, then a closing-edge semi-check. Both
    joins hash-partition on a vertex key — shuffle ∝ edges + wedges,
    the standard distributed triangle topology (wedge count is the
    quadratic term; the near-dup graph's degree is bounded by the
    ngram guard's posting-list cap).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    e = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    ab = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    wedges = ab.join(bc, "b")
    return (
        wedges.join(ac, ["a", "c"], "left_semi")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.col("c").alias("doc_c"),
        )
    )


def near_dup_reachability(
    spark, df: DataFrame, pairs: DataFrame | None = None, max_depth: int = 3
) -> DataFrame:
    """Bounded-depth reachability from the graph's lowest doc id via a
    RECURSIVE CTE (Spark 4 `WITH RECURSIVE`) — the pure-SQL form of the
    iterative DataFrame loops in this module: (doc_id, min_depth) for
    every doc within ``max_depth`` hops of the seed.

    Scale shape: the undirected edge list is symmetrized once
    DataFrame-side and eagerly localCheckpoint'ed, so (a) the recursion
    joins pre-materialized blocks instead of re-deriving the whole
    ngram-Jaccard pair pipeline every step, and (b) the recursive step
    is a single EQUI-join on `src` — a hash join per iteration, never
    the BroadcastNestedLoopJoin an OR-on-two-endpoints predicate plans
    as. The edge DataFrame is passed to ``spark.sql`` as a parameter
    (no session-global named view, so concurrent calls with different
    edge sets cannot clobber each other).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    # symmetrize (u→v and v→u) so frontier-expansion is one equi-join;
    # min(src) over the symmetric list is the global min endpoint
    sym = _sym_edges(pairs, "src", "dst").localCheckpoint(eager=True)
    return spark.sql(
        f"""
        WITH RECURSIVE reach(doc, depth) AS (
          -- empty pair graph => min(src) is NULL; the WHERE keeps the
          -- anchor empty so the result is empty, not one (NULL, 0) row
          SELECT * FROM (SELECT (SELECT min(src) FROM {{edges}}) AS doc, 0 AS depth)
          WHERE doc IS NOT NULL
          UNION ALL
          SELECT e.dst AS doc, r.depth + 1 AS depth
          FROM reach r
          JOIN {{edges}} e ON r.doc = e.src
          WHERE r.depth < {max_depth}
        )
        SELECT doc AS doc_id, CAST(min(depth) AS BIGINT) AS min_depth
        FROM reach
        GROUP BY doc
        """,
        edges=sym,
    )


def _node_degrees(pairs: DataFrame, out_col: str = "degree") -> DataFrame:
    """Undirected node degree from a canonical (doc_a < doc_b) pair
    list: both endpoints exploded, one hash agg on the node key.
    Shared by the degree histogram and the clustering coefficient so
    degree semantics (e.g. any future dedup of repeated pairs) change
    in exactly one place."""
    return (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias(out_col))
    )


def near_dup_clustering_coeff(df: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Local clustering coefficient per node of the near-dup graph:
    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) with T(v) the triangles
    through v — the per-node companion of near_dup_triangles (a high
    coefficient marks tight duplicate cliques where keep-one survivor
    policies over-drop; a low one marks chain-shaped false-positive
    bridges).

    Reuses the triangle enumeration (wedge join + closing-edge semi),
    explodes each triangle to its three corners, and joins the
    per-node triangle counts back onto the degree table — shuffle ∝
    edges + wedges + triangles, all hash-partitioned on a vertex key.
    Nodes in no triangle report cc = 0; degree-1 nodes report 0 (the
    denominator guard).

    Returns (doc_id, deg, n_triangles, coeff).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    deg = _node_degrees(pairs, out_col="deg")
    tri = near_dup_triangles(df, pairs=pairs)
    corners = (
        tri.select(F.col("doc_a").alias("doc_id"))
        .union(tri.select(F.col("doc_b").alias("doc_id")))
        .union(tri.select(F.col("doc_c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return deg.join(corners, "doc_id", "left").select(
        "doc_id",
        "deg",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        F.round(
            F.when(
                F.col("deg") >= 2,
                2.0 * F.coalesce("n_triangles", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1.0)),
            ).otherwise(0.0),
            6,
        ).alias("coeff"),
    )


def near_dup_degree_hist(df: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Degree distribution of the near-dup pair graph: (degree,
    n_nodes) — the one-glance health check of a dedup candidate pass
    (a heavy tail means a boilerplate shingle slipped past the
    posting cap and is about to quadratically explode the verify
    stage downstream).

    Two hash aggregations (node degree, then histogram) — the second
    one's input is bounded by the node count, its output by the max
    degree. No windows, no joins.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    deg = _node_degrees(pairs)
    return (
        deg.groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .select(F.col("degree").cast("long").alias("degree"), "n_nodes")
    )


def dup_cluster_size_hist(df: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Histogram of near-dup CLUSTER sizes (connected-component
    cardinalities, singletons included): (cluster_size, n_clusters) —
    the report that tells a dedup pass whether duplication is pairwise
    noise (sizes ≤ 2) or template farms (large clusters), which
    decides keep-one vs keep-none policy.

    Reuses near_dup_components: a union-find on the driver at or under
    GRAPH_BROADCAST_MAX_ROWS directed edges, above it a propagation
    loop whose hops grow with chain length when ids are shuffled. The
    two histogram folds after it are hash aggs bounded by n_components
    and max cluster size.
    """
    from mapreduce_golang_spark.operators.dedup import near_dup_components

    comp = near_dup_components(df, pairs=pairs)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters")
    )


#: k-core parameters — shared with the DuckDB oracle, which unrolls
#: KCORE_MAX_ROUNDS pruning rounds as chained CTEs (extra rounds past
#: the fixed point are identity, so the unrolled oracle and the
#: early-exiting Spark loop agree whenever the loop converges within
#: the bound; tests/test_graph.py asserts convergence headroom).
KCORE_K = 2
KCORE_MAX_ROUNDS = 10


def kcore_docs(
    df: DataFrame, pairs: DataFrame | None = None, k: int = KCORE_K,
    max_rounds: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """k-core decomposition of the near-dup pair graph: iteratively
    delete nodes with degree < k (deletions cascade) until fixpoint;
    the surviving subgraph is the k-core — the dense duplication
    backbone that distinguishes template farms (high-core) from
    pairwise accidental matches (pruned at k=2), the input a
    keep-none policy wants.

    Per prune step: one degree agg + two semi-joins on the edge list
    (broadcast-hash below the measured gate — one shuffle per step;
    co-partitioned hash joins above it), checkpointed per step with
    the edge-count fixpoint check against checkpointed data — driver
    scalars, not collected rows. Cascade depth (not graph size) bounds
    the step count, so the loop converges in a handful of steps even
    at 100× edges.

    Returns (doc_id, core_degree) for k-core members — core_degree is
    the node's degree WITHIN the core (≥ k by construction).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    edges, n_edges = right_size_graph(_sym_edges(pairs).distinct(), "u")
    # the keep list is ≤ node count ≤ the initial edge count — below the
    # measured gate both semi-joins go broadcast-hash and a prune step
    # costs one shuffle (the degree agg)
    n_gate = n_edges

    def prune(e: DataFrame) -> DataFrame:
        keep = (
            e.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select("u")
        )
        return (
            e.join(_graph_bc(keep, n_gate), "u", "left_semi")
            .join(_graph_bc(keep.withColumnRenamed("u", "v"), n_gate), "v", "left_semi")
            .select("u", "v")
        )

    # ONE prune per checkpointed job: fusing two was measured SLOWER
    # (1.8 s vs 1.2 s warm at sf0.1) — the fused step's keep-list
    # broadcast and both semi-join probes each rebuild the first
    # prune's un-materialized subtree (same recompute trap as the
    # components hop fusion; see near_dup_components). The fixpoint
    # edge count rides the checkpoint job as an observed metric.
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        pruned, m = checkpoint_counted(prune(edges), F.count(F.lit(1)).alias("n"))
        n_pruned = int(m["n"])
        if n_pruned == n_edges:
            break
        edges, n_edges = pruned, n_pruned
    return (
        edges.groupBy("u")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(F.col("u").alias("doc_id"), "core_degree")
    )


def near_dup_weighted_pagerank(
    df: DataFrame,
    pairs: DataFrame | None = None,
    iterations: int = PAGERANK_ITERATIONS,
    damping: float = PAGERANK_DAMPING,
    id_col: str = "doc_id",
) -> DataFrame:
    """PageRank over the SIMILARITY-WEIGHTED near-dup graph: each edge
    carries its Jaccard score, and a node's rank flows out proportional
    to edge weight (rankᵢ₊₁(v) = (1−d)/N + d·Σᵤ→ᵥ rankᵢ(u)·wᵤᵥ/W(u),
    W(u) = Σ outgoing weight) — near-identical copies pull rank harder
    than borderline matches, so the top-ranked docs are the true
    template centers rather than merely high-degree nodes.

    Runs near_dup_pagerank's loop (_pagerank): weights and their
    per-node sums materialize once (right-sized, checkpointed), each
    round is one equi-join + agg on the vertex key. Weight sums are exact only up to float
    re-association, but magnitudes are O(degree) and the oracle
    re-sums in the same double precision — round(6) output absorbs it.

    Returns (doc_id, rank), rounded to 6 decimals.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    # per-node outgoing weight W(u) is loop-invariant — computed once as
    # a window over the symmetrized weighted edges and folded onto the
    # checkpointed edge list (u, v, jaccard, wsum)
    edges, _ = right_size_graph(
        _sym_edges(pairs, extra=("jaccard",))
        .distinct()
        .withColumn("wsum", F.sum("jaccard").over(Window.partitionBy("u"))),
        "u",
    )
    contrib = F.col("rank") * F.col("jaccard") / F.col("wsum")
    return _pagerank(edges, contrib, iterations, damping, id_col)
