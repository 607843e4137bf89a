"""Similarity search over the `embeddings` table (extension surface,
SURVEY.md §2.4): brute-force cosine top-k as the correctness baseline,
plus two sub-linear "scale path" variants — label-IVF (probe only the
query's coarse cluster) and random-hyperplane LSH bucketing.

Engine-portable determinism: the LSH hyperplanes are ±1 sign vectors
derived from md5 at module import (HYPERPLANES below); the DuckDB
oracle is generated from the same constant, so both engines compute
identical buckets. Ranking always orders by the ROUNDED cosine with a
neighbor-id tie-break, so ranks can't diverge on float last-bits.

Scale design (100 TB):
- brute-force: the query batch is broadcast; every partition scores
  its local vectors against all queries (no shuffle of the corpus),
  then per-query top-k collapses through a window on query_id. Cost
  is O(n_vectors × n_queries) — use only for bounded query batches.
- IVF / LSH: candidates come from an equality join on the bucket id,
  so the corpus side can be hash-partitioned (or bucketed on disk) by
  bucket id and only matching partitions are read. Recall < 1 by
  design; the tests measure it against brute force rather than
  pretending exactness.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EMBEDDING_DIM = 64
N_PLANES = 4  # 16 buckets over the fixture's 500 vectors (~30/bucket)


def _plane_signs(plane: int, dim: int) -> int:
    """Deterministic ±1 from md5 — no RNG, identical in any language."""
    h = hashlib.md5(f"plane{plane}#dim{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) >= 8 else -1


#: HYPERPLANES[p][d] ∈ {+1,-1}; shared with the generated DuckDB oracle.
HYPERPLANES: list[list[int]] = [
    [_plane_signs(p, d) for d in range(EMBEDDING_DIM)] for p in range(N_PLANES)
]


def _norm_expr(e):
    return F.sqrt(F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def _bucket_expr(e):
    """Hyperplane-LSH bucket id as a single narrow expression."""
    bits = []
    for p, signs in enumerate(HYPERPLANES):
        plane = F.array(*[F.lit(float(s)) for s in signs])
        dot = F.aggregate(F.zip_with(e, plane, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        bits.append(F.when(dot >= 0, F.lit(2**p)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("long")


def _with_norm(embeddings: DataFrame, *extra_cols: str, bucket: bool = False) -> DataFrame:
    """(vec_id, e, nrm [, bucket] [, extras]) in ONE projection — norm
    and bucket are narrow per-row expressions, so deriving them must
    never cost a second scan + self-join on vec_id (at 100 TB that is
    a full extra read and an exchange for data already in the row)."""
    e = F.col("embedding").cast("array<double>")
    cols = ["vec_id", e.alias("e"), _norm_expr(e).alias("nrm")]
    if bucket:
        cols.append(_bucket_expr(e).alias("bucket"))
    cols.extend(extra_cols)
    return embeddings.select(*cols)


def _cosine(col_a, col_b, nrm_a, nrm_b):
    dot = F.aggregate(F.zip_with(col_a, col_b, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    return dot / (nrm_a * nrm_b)


def cosine_topk_bruteforce(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id <
    n_queries), self excluded. Returns (query_id, neighbor_id, cosine,
    rnk) with deterministic rounded-cosine ordering."""
    base = _with_norm(embeddings)
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qnrm")
    )
    scored = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


def ann_ivf_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """IVF-style ANN with the `label` column as the coarse quantizer:
    each query probes only vectors sharing its label (nprobe=1).

    At scale the corpus is partitioned/bucketed by the coarse id, so a
    probe reads ~1/n_clusters of the data. Approximate by design.
    """
    base = _with_norm(embeddings, "label")
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        base.join(F.broadcast(q), (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


def lsh_bucket(embeddings: DataFrame) -> DataFrame:
    """(vec_id, bucket): random-hyperplane LSH — bit p = 1 iff
    plane_p · x ≥ 0; bucket = Σ 2^p · bit_p. Planes are the shared
    deterministic HYPERPLANES constant."""
    e = F.col("embedding").cast("array<double>")
    return embeddings.select("vec_id", _bucket_expr(e).alias("bucket"))


def semantic_dedup_pairs(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Embedding-space near-dup pairs: (vec_a, vec_b, cosine) for pairs
    in the SAME hyperplane-LSH bucket with cosine ≥ threshold.

    The semantic sibling of ngram_jaccard_pairs: lexical shingles miss
    paraphrased duplicates; embedding cosine catches them. Comparisons
    happen only within an LSH bucket (equality self-join on bucket id),
    so the corpus is never all-pairs'd — shuffle ∝ corpus size, and the
    quadratic term is bounded per bucket (at 100 TB raise N_PLANES so
    buckets stay ~10⁴ vectors and union several plane sets to recover
    recall; recall-vs-brute-force is measured in tests, not assumed).
    """
    base = _with_norm(embeddings, bucket=True)
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    return (
        a.join(b, ["bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup_survivors(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Greedy semantic dedup: drop every vector appearing as the larger
    id of a qualifying same-bucket pair (keep-lowest-id, same policy as
    near_dup_survivors). Returns the surviving (vec_id) set."""
    dropped = semantic_dedup_pairs(embeddings, threshold).select(
        F.col("vec_b").alias("vec_id")
    ).distinct()
    return embeddings.select("vec_id").join(dropped, "vec_id", "left_anti")


def ann_lsh_topk(embeddings: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """LSH-bucketed ANN: each query scores only vectors in its own
    hyperplane bucket. Candidate set via equality join on bucket —
    partition-prunable at scale. Approximate by design."""
    base = _with_norm(embeddings, bucket=True)
    q = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        base.join(F.broadcast(q), (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


KMEANS_K = 4
KMEANS_UPDATES = 2

#: Hard cap on how many centroid rows a broadcast HINT may force.
#: The flat assignment expansion needs the centroid table on every
#: task; the hint is only safe when the build side is provably bounded
#: by a CONSTANT, never by a corpus-derived count (round-8 verdict:
#: under auto-k, k tracks n/ROWS_PER_CLUSTER — a driver-side
#: scale-killer if hinted unconditionally). 8192 rows of O(100)-dim
#: double vectors ≈ 6 MiB — inside Spark's default 10 MiB broadcast
#: threshold. Above the cap (or when the caller can't bound k) the
#: join is left unhinted: Spark distributes the expansion across tasks
#: instead of collecting the table to the driver.
BROADCAST_CENTROIDS_MAX = 8192


def kmeans_assign(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    updates: int = KMEANS_UPDATES,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means over the embedding column with deterministic
    seeding (centroids 0..k−1 = the k lowest vec_ids) and a fixed
    number of centroid ``updates`` — the canonical iterative-ML loop
    on DataFrames, and the semantic-clustering step a corpus pipeline
    runs between dedup and mixing (cluster-balanced sampling, topic
    pruning). Assignment ties break toward the lowest cluster id on
    the 6-decimal-rounded squared distance, so the result is engine-
    portable; the DuckDB oracle unrolls the same fixed iteration count
    into chained CTEs.

    Scale shape, per iteration: assignment is a broadcast join of the
    k-row centroid table against the corpus (k× row expansion, narrow
    arithmetic, top-1 window on vec_id — no corpus shuffle beyond the
    window's hash on vec_id), and the update is posexplode →
    (cluster, dim) hash aggregate whose output is k·dim rows — scale-
    invariant, like right_size_graph's measured count. localCheckpoint
    per round keeps the lineage flat. No driver-side collect of data;
    only the bounded centroid table crosses stages.

    Returns (vec_id, cluster, dist) for the final assignment.
    """
    vecs = _kmeans_vecs(embeddings)
    if centroids is None:
        centroids = _kmeans_fit(vecs, k, updates)
    return _kmeans_assign_to(vecs, centroids, k_rows=k).select(
        "vec_id", "cluster", F.round("dist", 4).alias("dist")
    )


def _kmeans_vecs(embeddings: DataFrame) -> DataFrame:
    """(vec_id, e): the k-means input, embeddings promoted to double."""
    return embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))


def _sq_dist() -> Column:
    """Squared Euclidean distance between the ``e`` and ``c`` arrays."""
    return F.aggregate(
        F.zip_with(F.col("e"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def _mean_vectors(vecs: DataFrame, *keys: str) -> DataFrame:
    """Element-wise mean of the ``e`` arrays per ``keys`` group, as
    (*keys, c): posexplode → avg per (keys, dim) hash agg → the k·dim
    means re-assembled in dim order. No keys = one global mean row."""
    return (
        vecs.select(*keys, F.posexplode("e").alias("dim", "v"))
        .groupBy(*keys, "dim")
        .agg(F.avg("v").alias("cv"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))), lambda s: s["cv"]
            ).alias("c")
        )
    )


def _kmeans_alldists(
    vecs: DataFrame, cents: DataFrame, k_rows: int | None = None
) -> DataFrame:
    """(vec_id, e, cluster, dist) for EVERY (vector, centroid) pair —
    squared distance rounded to 6 (the engine-portability grain every
    downstream comparison shares).

    ``k_rows`` is the caller's PROVEN bound on the centroid count: the
    broadcast hint is attached only when it is known and within
    BROADCAST_CENTROIDS_MAX. An unknown or over-cap count leaves the
    cross expansion unhinted so the planner never driver-collects a
    corpus-proportional table (round-8 verdict #1)."""
    build = (
        F.broadcast(cents)
        if k_rows is not None and k_rows <= BROADCAST_CENTROIDS_MAX
        else cents
    )
    return vecs.join(build, F.lit(True)).select(
        "vec_id", "e", "cluster", F.round(_sq_dist(), 6).alias("dist")
    )


def _kmeans_assign_to(
    vecs: DataFrame, cents: DataFrame, k_rows: int | None = None
) -> DataFrame:
    """Top-1 (nearest-centroid) assignment, ties toward the lowest
    cluster id on the rounded squared distance. ``k_rows`` = the
    caller's bound on the centroid count (gates the broadcast hint)."""
    w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    return (
        _kmeans_alldists(vecs, cents, k_rows=k_rows)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )


def kmeans_fit_centroids(
    embeddings: DataFrame, k: int = KMEANS_K, updates: int = KMEANS_UPDATES
) -> DataFrame:
    """Public fit entry point: the final (cluster, c) centroid table
    for the deterministic Lloyd's loop — what the registry
    materializes ONCE and feeds to kmeans_assign / kmeans_silhouette /
    cluster_balanced_sample (each stays independently correct when
    called without it)."""
    vecs = _kmeans_vecs(embeddings)
    return _kmeans_fit(vecs, k, updates)


def _kmeans_fit(vecs: DataFrame, k: int, updates: int) -> DataFrame:
    """Run the Lloyd's loop (seed = k lowest vec_ids, fixed ``updates``
    centroid refreshes) and return the final (cluster, c) table."""
    centroids = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("long")
            .alias("cluster"),
            F.col("e").alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(updates):
        assigned = _kmeans_assign_to(vecs, centroids, k_rows=k)
        centroids = _mean_vectors(assigned, "cluster").localCheckpoint(eager=True)
    return centroids


def kmeans_silhouette(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    updates: int = KMEANS_UPDATES,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster simplified-silhouette quality report for the SAME
    deterministic k-means fit as kmeans_assign: for each vector,
    a = distance to its own centroid and b = distance to the nearest
    OTHER centroid, s = (b − a)/max(a, b) — the centroid-based
    silhouette (Hruschka et al.'s simplified variant; the exact
    silhouette's all-pairs a/b is O(n²) and adds nothing at corpus
    scale). Mean s near 1 → tight, well-separated cluster; near 0 →
    boundary mush — the table that says whether k was right before
    anything downstream trusts the clusters.

    Scale shape: reuses the fitted k-row centroid table (ONE broadcast
    k-way expansion), then a single per-vec agg collects the k
    (dist, cluster) structs sorted — element 0 is the assignment
    (same dist-then-cluster tie-break as kmeans_assign), element 1 the
    nearest other centroid; no second expansion, no window, one
    vec_id exchange. Distances compare at the shared round-6 squared
    grain, then sqrt, so the report is engine-portable. Returns
    (cluster, n_vectors, mean_silhouette, min_silhouette), floats
    rounded to 6.
    """
    vecs = _kmeans_vecs(embeddings)
    cents = _kmeans_fit(vecs, k, updates) if centroids is None else centroids
    per_vec = (
        _kmeans_alldists(vecs, cents, k_rows=k)
        .groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("dist", "cluster"))).alias("ds"))
        .select(
            F.col("ds")[0]["cluster"].alias("cluster"),
            F.sqrt(F.col("ds")[0]["dist"]).alias("a"),
            F.sqrt(F.col("ds")[1]["dist"]).alias("b"),
        )
    )
    s = F.when(
        F.greatest(F.col("a"), F.col("b")) > 0,
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")),
    ).otherwise(F.lit(0.0))
    return (
        per_vec.select("cluster", s.alias("s"))
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
            F.round(F.min("s"), 6).alias("min_silhouette"),
        )
    )


def centroid_outliers(embeddings: DataFrame, per_label: int = 3) -> DataFrame:
    """Per-label centroid-distance outliers: each label's element-wise
    mean vector is its centroid; every member scores cosine(vec,
    centroid) and the ``per_label`` LEAST similar members surface —
    the mislabeled-example / contamination probe an embedding-space
    QA pass runs per class before training.

    Plan shape: centroids come from ONE posexplode + hash agg keyed on
    (label, dim) — shuffle ∝ n_vectors × dim, with map-side partials —
    re-assembled into an array in dim order (_mean_vectors), yielding
    a LABEL-COUNT-sized table that broadcasts back onto the
    corpus (labels are a bounded dimension, unlike the corpus). The
    cosine is a narrow zip_with/aggregate pass; the per-label top-k is
    a window over the label key. Ranking orders by the ROUNDED cosine
    (asc) with a vec_id tie-break so ranks can't diverge on float
    last-bits.

    Returns (label, vec_id, cos_centroid, rank), rank 1 = farthest.
    """
    emb = F.col("embedding").cast("array<double>")  # float math must be
    # promoted BEFORE any arithmetic: float*float stays float in Spark
    # while the oracle computes in double — last-bit drift survives
    # round(6) often enough to flake a differential hash
    centroids = _mean_vectors(embeddings.select("label", emb.alias("e")), "label")
    # reuse the module's shared norm/cosine expressions (one rounding
    # and determinism policy for every cosine operator in this file);
    # zero-norm rows (all-zero padding / failed-encode vectors) score
    # 0.0 instead of NaN — NaN would rank, hash, and compare
    # differently across engines (DuckDB yields NULL for 0/0)
    na = _norm_expr(emb)
    nb = _norm_expr(F.col("c"))
    cos_raw = _cosine(emb, F.col("c"), na, nb)
    scored = embeddings.join(F.broadcast(centroids), "label").select(
        "label",
        "vec_id",
        F.round(
            F.when((na > 0) & (nb > 0), cos_raw).otherwise(F.lit(0.0)), 6
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("cos_centroid"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= per_label)
        .select(F.col("label").cast("long").alias("label"), "vec_id", "cos_centroid", "rank")
    )


def ann_recall_report(embeddings: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Recall@k of the two sub-linear ANN variants against the exact
    brute-force ranking — the index-quality report an embedding-search
    deployment publishes whenever the corpus or the hash family
    changes (approximate indexes silently rot as data drifts; this
    makes the drift measurable).

    Per query: recall = |ANN top-k ∩ exact top-k| / |exact top-k|,
    then avg/min across the query batch per method. All three rankings
    order by ROUNDED cosine with id tie-breaks, so the compared sets —
    and therefore the recalls — are deterministic across engines and
    layouts. Cost is the three bounded-broadcast scoring passes the
    individual queries already pay; the report itself aggregates
    n_queries rows. Returns (method, n_queries, avg_recall,
    min_recall).
    """
    # the exact ranking feeds four consumers (two semi-joins + the
    # denominator reused per method) — materialize it once instead of
    # replicating the broadcast scoring subtree in every branch
    bf = (
        cosine_topk_bruteforce(embeddings, n_queries, k)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    denom = bf.groupBy("query_id").agg(F.count("*").alias("n_bf"))
    out = None
    for name, fn in (("ivf", ann_ivf_topk), ("lsh", ann_lsh_topk)):
        ann = fn(embeddings, n_queries, k).select("query_id", "neighbor_id")
        hits = (
            bf.join(ann, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hit"))
        )
        rec = denom.join(hits, "query_id", "left").select(
            "query_id",
            (F.coalesce("n_hit", F.lit(0)) / F.col("n_bf")).alias("recall"),
        )
        row = (
            rec.agg(
                F.count("*").cast("long").alias("n_queries"),
                F.round(F.avg("recall"), 6).alias("avg_recall"),
                F.round(F.min("recall"), 6).alias("min_recall"),
            )
            .select(F.lit(name).alias("method"), "n_queries", "avg_recall", "min_recall")
        )
        out = row if out is None else out.unionByName(row)
    # empty corpus → empty report, not two (method, 0, NULL, NULL) rows
    # (the repo-wide empty-in/empty-out contract, tests/test_empty_inputs.py)
    return out.where(F.col("n_queries") > 0)


ZNORM_SCHEMA = "label long, vec_id long, mean_abs double, l2 double"


def label_znorm_check(embeddings: DataFrame) -> DataFrame:
    """Per-label z-normalization through an Arrow GROUPED_MAP
    (applyInPandas): each label's vectors are standardized against the
    group's per-dimension mean/std (population), and per-vector
    invariants are emitted — the feature-scaling stage of an
    embedding-training pipeline, expressed as the grouped-pandas
    pattern Spark reserves for genuinely whole-group Python logic
    (the group statistic and the transform share one batch in memory).

    Scale: one exchange on label; each group becomes a numpy matrix in
    a worker (bounded by the largest label — at extreme skew,
    pre-split hot labels). Degenerate dimensions (std = 0) contribute
    0, not NaN. Returns (label, vec_id, mean_abs, l2) rounded to 4
    decimals — loose enough that BLAS summation order inside numpy
    cannot flip the differential hash against the SQL oracle.
    """
    import numpy as np

    def znorm(pdf):
        import pandas as pd

        mat = np.vstack(pdf["embedding"].map(lambda a: np.asarray(a, dtype="float64")))
        mu = mat.mean(axis=0)
        sd = mat.std(axis=0)  # population, ddof=0 — matches SQL stddev_pop
        with np.errstate(divide="ignore", invalid="ignore"):
            z = np.where(sd > 0, (mat - mu) / sd, 0.0)
        return pd.DataFrame(
            {
                "label": pdf["label"].astype("int64"),
                "vec_id": pdf["vec_id"].astype("int64"),
                "mean_abs": np.round(np.abs(z).mean(axis=1), 4),
                "l2": np.round(np.sqrt((z * z).sum(axis=1)), 4),
            }
        )

    return embeddings.groupBy("label").applyInPandas(znorm, ZNORM_SCHEMA)


def embedding_pca_topvar(embeddings: DataFrame, n_iters: int = 8) -> DataFrame:
    """Top principal-component variance of the embedding cloud —
    distributed PCA's first step (covariance spectrum) as a pure
    DataFrame program: sample covariance matrix + ``n_iters`` power
    iterations from a deterministic all-ones start, reported as the
    top eigenvalue, the trace (total variance), and the explained-
    variance ratio. The screen that tells an embedding pipeline
    whether its vectors have collapsed toward one direction
    (ratio → 1) or stay well-spread (ratio → 1/d).

    Scale shape: the second-moment matrix is built IN-ROW (both
    component indices posexplode from the same row — no self-join of
    the exploded table), then one exchange into the BOUNDED (i, j)
    grid (d² = 4096 keys at any SF, map-side partials). The
    covariance table is localCheckpoint-ed once and the 8 power
    iterations run entirely on d- and d²-row frames (join + agg +
    unpartitioned-window normalize over 64 rows — bounded by
    dimension, not corpus). Deterministic: fixed start, fixed
    iteration count; both engines fold identical λ updates, and the
    output is rounded to 6.

    Returns one row: (n_vectors, dim, trace, top_eigenvalue,
    explained_ratio).
    """
    e = F.col("embedding").cast("array<double>")
    comp = embeddings.select(F.col("vec_id"), F.posexplode(e).alias("i", "xi"), e.alias("_e"))
    pairs = comp.select("i", "xi", F.posexplode("_e").alias("j", "xj"))
    s = pairs.groupBy("i", "j").agg(
        F.sum(F.col("xi") * F.col("xj")).alias("s"), F.count("*").alias("n")
    )
    mu = embeddings.select(F.posexplode(e).alias("i", "xi")).groupBy("i").agg(
        F.avg("xi").alias("mu")
    )
    cov = (
        s.join(F.broadcast(mu.select(F.col("i"), F.col("mu").alias("mu_i"))), "i")
        .join(F.broadcast(mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))), "j")
        .select(
            "i",
            "j",
            ((F.col("s") - F.col("n") * F.col("mu_i") * F.col("mu_j")) / (F.col("n") - 1)).alias("c"),
            "n",
        )
        .localCheckpoint(eager=False)
    )

    wall = Window.partitionBy()  # bounded: d rows, never corpus-sized
    v = (
        cov.select("i")
        .distinct()
        .select("i", (F.lit(1.0) / F.sqrt(F.count("*").over(wall))).alias("v"))
    )
    for _ in range(n_iters):
        w = (
            cov.join(F.broadcast(v.select(F.col("i").alias("j"), "v")), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        v = w.select(
            "i", (F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(wall))).alias("v")
        )

    return (
        cov.join(F.broadcast(v.select(F.col("i"), F.col("v").alias("vi"))), "i")
        .join(F.broadcast(v.select(F.col("i").alias("j"), F.col("v").alias("vj"))), "j")
        .agg(
            F.max("n").cast("long").alias("n_vectors"),
            F.count_distinct("i").cast("long").alias("dim"),
            F.round(F.sum(F.when(F.col("i") == F.col("j"), F.col("c")).otherwise(0.0)), 6).alias("trace"),
            F.round(F.sum(F.col("c") * F.col("vi") * F.col("vj")), 6).alias("top_eigenvalue"),
        )
        .select(
            "n_vectors",
            "dim",
            "trace",
            "top_eigenvalue",
            F.round(F.col("top_eigenvalue") / F.col("trace"), 6).alias("explained_ratio"),
        )
        # empty input → empty report, not a 1-row NULL aggregate
        .where(F.col("n_vectors").isNotNull())
    )


def embedding_quantization_report(embeddings: DataFrame) -> DataFrame:
    """Int8 symmetric-quantization QA per label: quantize each vector
    with its own scale max|x|/127, reconstruct, and report the
    per-label reconstruction error — the storage-compression audit a
    vector index runs before committing to int8 (embedding stores cut
    4× by quantizing; this table says what that costs per region of
    the space).

    Rounding to the integer grid uses floor(x/scale + 0.5) EXPLICITLY
    in both engines (banker's-vs-half-up round() ambiguity never
    enters); the per-vector MSE is an in-array left fold, so it is
    bit-identical cross-engine before the final per-label averages.

    Scale shape: quantize + reconstruct + MSE all happen in one
    codegen projection over the scan (zero exchanges); the only
    shuffle is the bounded per-label agg. Returns (label, n_vectors,
    avg_mse, max_mse, avg_scale), floats rounded to 6 (mse 12 — the
    errors are ~1e-5²).
    """
    e = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(e, lambda x: F.abs(x))) / F.lit(127.0)
    err2 = F.when(
        F.col("_scale") > 0,
        F.aggregate(
            F.transform(
                "_e",
                lambda x: F.pow(
                    x - F.floor(x / F.col("_scale") + 0.5) * F.col("_scale"), F.lit(2.0)
                ),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / F.size("_e"),
    ).otherwise(F.lit(0.0))
    per_vec = embeddings.select(
        "label", e.alias("_e"), scale.alias("_scale")
    ).select("label", F.col("_scale").alias("scale"), err2.alias("mse"))
    return per_vec.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(F.avg("mse"), 12).alias("avg_mse"),
        F.round(F.max("mse"), 12).alias("max_mse"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    per_cluster: int = 25,
    k: int = KMEANS_K,
    updates: int = KMEANS_UPDATES,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Diversity-preserving sample over the k-means partition of the
    embedding space: a deterministic md5-keyed draw of ``per_cluster``
    vectors from EACH cluster — the cluster-balanced selection an
    embedding-curated pipeline runs so a dominant topic can't crowd
    the sample (same intent as balanced_mixing_sample, with clusters
    standing in for sources), with the same hash-keyed
    reproducibility as deterministic_doc_sample.

    Scale shape: the fit is kmeans_assign's loop; the draw is one
    window per cluster ordered by (md5 key, vec_id) — k partitions,
    each trimmed to per_cluster by WindowGroupLimit. Returns
    (cluster, vec_id, rk) with rk 1..per_cluster in draw order.
    """
    from mapreduce_golang_spark.operators.mixing import _md5_bucket

    vecs = _kmeans_vecs(embeddings)
    if centroids is None:
        centroids = _kmeans_fit(vecs, k, updates)
    assigned = _kmeans_assign_to(vecs, centroids, k_rows=k).select(
        "vec_id", "cluster"
    )
    keyed = assigned.withColumn(
        "_key", _md5_bucket(F.col("vec_id").cast("string"), 1_000_000)
    )
    w = Window.partitionBy("cluster").orderBy("_key", "vec_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= per_cluster)
        .select("cluster", "vec_id", "rk")
    )


MMR_LAMBDA = 0.7


def mmr_diverse_topk(embeddings: DataFrame, k: int = 10, lam: float = MMR_LAMBDA) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick ``k`` vectors maximizing
    λ·rel(v) − (1−λ)·max_{s∈S} cos(v, s), with relevance = cosine to
    the corpus centroid — the diversity-aware top-k a retrieval or
    example-selection pipeline uses where plain top-k returns k
    near-copies of the same hot region.

    Iterative DataFrame algorithm (argmax depends on all prior picks,
    not SQL-expressible in one query — the oracle unrolls the k
    steps). The diversity penalty is a RUNNING max, so candidates
    carry it as a column: msimᵢ(v) = max(msimᵢ₋₁(v), cos(v, sᵢ)), and
    each round joins against ONLY the one newly selected row (1-row
    broadcast) instead of re-scoring all i−1 picks — O(n·k) cosines
    total, not O(n·k²/2), and ZERO per-round aggregation exchanges
    (the former per-round fan-out + groupBy(vec_id) max). Each
    pairwise cosine is rounded to 6 decimals BEFORE the max (the
    engine-portability grain throughout) exactly as the unrolled
    oracle does, so scores are bit-identical to the recompute-all
    form; cos ∈ [−1, 1] makes −2.0 the identity seed for greatest().
    The picked row leaves the candidate set via an exact
    vec_id ≠ last-pick filter accumulated per round (entering round i
    candidates exclude picks 1..i−1, the same set the former
    anti-join produced). Candidate lineage (narrow 1-row-broadcast
    joins) is truncated every second round — A/B'd faster than never
    checkpointing (min 2.17 vs 2.74 s, scripts/ab_mmr_incremental.py)
    — the loop discipline of operators/graph.py.

    Scale shape per round: one 1-row broadcast, one narrow scoring
    pass, one top-1 (TakeOrderedAndProject) — no corpus shuffle
    anywhere; k rounds total. Returns (rank, vec_id, relevance,
    mmr_score), floats rounded to 6.
    """
    base = _with_norm(embeddings)
    cent = _mean_vectors(base).select("c", _norm_expr(F.col("c")).alias("cnrm"))
    scored = (
        base.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "e",
            "nrm",
            F.round(_cosine(F.col("e"), F.col("c"), F.col("nrm"), F.col("cnrm")), 6).alias(
                "rel"
            ),
        )
        .localCheckpoint(eager=True)
    )
    first = (
        scored.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("rank"),
            "vec_id",
            "e",
            "nrm",
            "rel",
            F.col("rel").alias("mmr"),
        )
    )
    selected = first.localCheckpoint(eager=True)
    cand = scored.withColumn("msim", F.lit(-2.0))
    for i in range(2, k + 1):
        last = selected.where(F.col("rank") == i - 1).select(
            F.col("vec_id").alias("sid"), F.col("e").alias("se"), F.col("nrm").alias("snrm")
        )
        cand = cand.join(F.broadcast(last), F.col("vec_id") != F.col("sid")).select(
            "vec_id",
            "e",
            "nrm",
            "rel",
            F.greatest(
                "msim",
                F.round(
                    _cosine(F.col("e"), F.col("se"), F.col("nrm"), F.col("snrm")), 6
                ),
            ).alias("msim"),
        )
        nxt = (
            cand.select(
                "vec_id",
                "e",
                "nrm",
                "rel",
                (F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("msim")).alias(
                    "mmr"
                ),
            )
            .orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .select(F.lit(i).cast("long").alias("rank"), "vec_id", "e", "nrm", "rel", "mmr")
        )
        selected = selected.unionByName(nxt).localCheckpoint(eager=True)
        if i % 2 == 1:
            cand = cand.localCheckpoint(eager=True)
    return selected.select(
        "rank", "vec_id", F.col("rel").alias("relevance"), F.round("mmr", 6).alias("mmr_score")
    )


SEMDEDUP_THRESHOLD = 0.95
#: auto-k target cluster population — k is derived so clusters hold about
#: this many vectors, making the within-cluster quadratic term a constant
#: per cluster instead of tracking corpus density (round-6 verdict: fixed
#: k=4 showed 3.9× per-row µs growth over a 4× embedding-count spread).
#: Small here so the knob is exercised across the test SFs (500 rows →
#: k=4, 2000 rows → k=16); at production scale raise it toward ~10⁴.
SEMDEDUP_ROWS_PER_CLUSTER = 125
SEMDEDUP_MAX_K = 4096


def semdedup_auto_k(n_vectors: int) -> int:
    """Derive the SemDeDup cluster count from the MEASURED corpus size —
    the same self-tuning move as dedup.right_size_graph:
    ceil(n / SEMDEDUP_ROWS_PER_CLUSTER), clamped to [KMEANS_K,
    SEMDEDUP_MAX_K]. The DuckDB oracle computes the identical formula
    in SQL, so the choice is engine-portable."""
    return int(
        max(KMEANS_K, min(SEMDEDUP_MAX_K, -(-n_vectors // SEMDEDUP_ROWS_PER_CLUSTER)))
    )


def semdedup_survivors(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int | None = None,
    updates: int = KMEANS_UPDATES,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication WITHIN
    k-means clusters — pairs are compared only inside their cluster,
    and of any pair with cosine ≥ ``threshold`` the higher vec_id is
    dropped (keep-lowest, the near_dup_survivors policy). The method's
    point at 100 TB: clustering bounds the quadratic term to each
    cluster's population, exactly like LSH buckets bound
    semantic_dedup_pairs — but with clusters that follow the data's
    actual density rather than random hyperplanes.

    Scale shape: the fit is the shared Lloyd's loop (broadcast k-row
    centroid table); the pair stage is an equality self-join on the
    cluster id (shuffle ∝ corpus, quadratic only within a cluster).
    ``k=None`` (the default) derives k from the measured vector count
    via ``semdedup_auto_k`` so clusters stay ~SEMDEDUP_ROWS_PER_CLUSTER
    vectors as the corpus grows — the quadratic is bounded by design,
    not by a manual knob. ``centroids`` (the registry's shared
    KMEANS_K fit) is used only when the derived/explicit k equals
    KMEANS_K; otherwise SemDeDup runs its own fit at its own k.
    Returns the surviving (vec_id, cluster) rows.
    """
    vecs = _kmeans_vecs(embeddings)
    if k is None:
        k = semdedup_auto_k(vecs.count())
    if centroids is None or k != KMEANS_K:
        centroids = _kmeans_fit(vecs, k, updates)
    assigned = (
        _kmeans_assign_to(vecs, centroids, k_rows=k)
        .select("vec_id", "e", "cluster")
        .withColumn("nrm", _norm_expr(F.col("e")))
    )
    return _semdedup_drop_within(assigned, threshold)


def _semdedup_drop_within(assigned: DataFrame, threshold: float) -> DataFrame:
    """Shared SemDeDup tail: within-cluster pair join on rounded cosine,
    drop the higher vec_id of any pair ≥ threshold. ``assigned`` =
    (vec_id, e, cluster, nrm)."""
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"), "cluster",
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"), "cluster",
    )
    dropped = (
        a.join(b, ["cluster"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(
            F.round(_cosine(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")), 6)
            >= F.lit(threshold)
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return assigned.select("vec_id", "cluster").join(dropped, "vec_id", "left_anti")


def _kmeans_fit_grouped(pts: DataFrame, k2: int, updates: int) -> DataFrame:
    """Per-cell Lloyd's loop: fit ``k2`` subclusters INSIDE each coarse
    cell independently (seeds = the k2 lowest vec_ids per cell, same
    deterministic convention as _kmeans_fit). ``pts`` = (vec_id, e,
    cell); returns (cell, sub, c). All joins are equi-joins on cell —
    no step ever pairs a point with another cell's centroids."""
    w = Window.partitionBy("cell").orderBy("vec_id")
    cents = (
        pts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k2)
        .select(
            "cell",
            (F.col("_rn") - 1).cast("long").alias("sub"),
            F.col("e").alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(updates):
        asg = _assign_grouped(pts, cents)
        cents = _mean_vectors(asg, "cell", "sub").localCheckpoint(eager=True)
    return cents


def _assign_grouped(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-subcentroid assignment WITHIN each point's cell: the
    candidate fan-out per point is its cell's ≤k2 subcentroids (an
    equi-join on cell), not the full k table — this is what turns the
    flat n×k distance bill into n×k2. Ties toward the lowest sub on
    the rounded squared distance, mirroring _kmeans_assign_to.

    The cents side carries k1×k2 ≈ k rows, and under auto-k that
    tracks the corpus — so this join is deliberately UNHINTED (round-8
    verdict #1: a forced broadcast here driver-collects a
    corpus-proportional table at the operator's own 10⁹-vector target).
    As a plain equi-join on cell it plans as a shuffle hash join that
    scales with executors; AQE still converts it to a broadcast join
    at runtime whenever the measured build side is actually small."""
    w = Window.partitionBy("vec_id").orderBy("dist", "sub")
    return (
        pts.join(cents, ["cell"])
        .select("vec_id", "e", "cell", "sub", F.round(_sq_dist(), 6).alias("dist"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def semdedup_hier_survivors(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    updates: int = KMEANS_UPDATES,
) -> DataFrame:
    """SemDeDup with a HIERARCHICAL (IVF-style) two-level fit — the
    scale path for the auto-k regime. The flat operator's bill is
    n × k distance evaluations per pass, and with the self-tuning
    k = n/ROWS_PER_CLUSTER that is n²/ROWS_PER_CLUSTER — measured as
    1.29× per-row µs growth across a 30× corpus spread (SCALING_XL.md).
    Splitting the fit into k1 = ⌈√k⌉ coarse cells (full-corpus Lloyd's)
    and k2 = ⌈k/k1⌉ subclusters fitted INSIDE each cell drops the bill
    to n × (k1 + k2) ≈ n × 2√k ∝ n^1.5 while keeping ~ROWS_PER_CLUSTER
    vectors per final cluster, so the within-cluster quadratic stays
    bounded exactly as in the flat form. This is the faiss-IVF shape
    SemDeDup deployments use at the 10⁹-vector scale (Abbas et al.
    2023 run k=50k via IVF), expressed as DataFrame ops.

    Fully deterministic (seed = lowest vec_ids globally and per cell;
    ties toward the lowest cluster/sub id on rounded distances), so the
    DuckDB oracle reproduces the whole two-level fit bit-identically.
    Returns the surviving (vec_id, cluster) rows with
    cluster = cell · k2 + sub.
    """
    vecs = _kmeans_vecs(embeddings)
    k = semdedup_auto_k(vecs.count())
    import math

    k1 = math.isqrt(k)
    if k1 * k1 < k:
        k1 += 1
    k2 = -(-k // k1)
    coarse = _kmeans_fit(vecs, k1, updates)
    cells = (
        _kmeans_assign_to(vecs, coarse, k_rows=k1)
        .select("vec_id", "e", F.col("cluster").alias("cell"))
        .localCheckpoint(eager=True)
    )
    fine = _kmeans_fit_grouped(cells, k2, updates)
    assigned = (
        _assign_grouped(cells, fine)
        .select(
            "vec_id",
            "e",
            (F.col("cell") * k2 + F.col("sub")).cast("long").alias("cluster"),
        )
        .withColumn("nrm", _norm_expr(F.col("e")))
    )
    return _semdedup_drop_within(assigned, threshold)


JL_DIMS = 8
JL_SAMPLE_MOD = 7


def jl_projection_qa(
    embeddings: DataFrame, k: int = JL_DIMS, sample_mod: int = JL_SAMPLE_MOD
) -> DataFrame:
    """Johnson–Lindenstrauss projection QA: project embeddings to ``k``
    dims with a DETERMINISTIC Achlioptas sparse sign matrix (entries
    +1/−1/0 with prob 1/6, 1/6, 2/3, scaled √(3/k) — Achlioptas 2003,
    "Database-friendly random projections") and report how well
    pairwise L2 distances survive on a hash-thinned vector sample —
    the go/no-go check before swapping full-width embeddings for a
    cheap projection in an ANN or dedup pipeline.

    The matrix entry for (i, j) comes from an arithmetic bit mixer
    (floor-div slices middle bits, so no parity artifact), identical
    in Spark and DuckDB — no RNG, no driver-side matrix. Scale shape:
    the projection is a narrow per-row array expression (k·d mults in
    one codegen stage); the QA pair set is the deterministic
    ``vec_id % sample_mod`` sample self-joined — a FIXED-size
    quadratic, independent of corpus growth (raise sample_mod as the
    corpus grows). Returns one row: (n_pairs, avg_ratio, min_ratio,
    max_ratio) of projected/original distance, ratios rounded 6.
    """
    proj_expr = (
        f"transform(sequence(1, {k}), j -> "
        f"aggregate(sequence(1, size(e)), cast(0.0 as double), (acc, i) -> "
        f"acc + element_at(e, i) * "
        f"(CASE CAST(floor((i * 2654435761 + j * 40503) / 256) AS BIGINT) % 6 "
        f"WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END) * sqrt(3.0 / {k})))"
    )
    vecs = (
        embeddings.where(F.col("vec_id") % sample_mod == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .select("vec_id", "e", F.expr(proj_expr).alias("p"))
    )
    a = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("p").alias("pa")
    )
    b = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("p").alias("pb")
    )
    dist = "sqrt(aggregate(zip_with({0}, {1}, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, v) -> acc + v))"
    pairs = (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            F.expr(dist.format("ea", "eb")).alias("d_orig"),
            F.expr(dist.format("pa", "pb")).alias("d_proj"),
        )
        .where(F.col("d_orig") > 1e-12)
        .select(F.round(F.col("d_proj") / F.col("d_orig"), 6).alias("ratio"))
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            (F.sum(F.col("ratio").cast("decimal(12,6)")) / F.count("*")).cast("double"),
            6,
        ).alias("avg_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
    )


def embedding_stats_arrow(embeddings: DataFrame) -> DataFrame:
    """Per-vector stats (dim, L2 norm, mean) computed in a pyarrow
    RecordBatch kernel via ``DataFrame.mapInArrow`` — Spark 4's
    lowest-overhead Python boundary: Arrow batches flow to the worker
    and back with ZERO pandas materialization (mapInPandas pays a
    pandas.Series build per column per batch; the multimodal family
    uses that path, this is its leaner sibling for pure-numeric
    kernels).

    The kernel is one vectorized numpy pass per batch: list offsets →
    segment lengths, ``np.add.reduceat`` for per-vector sums over the
    flattened values — no per-row Python, ragged-safe (dims read from
    offsets, not assumed). At 100 TB this is the shape a Python
    feature-extraction stage must have: narrow (no exchange), batch-
    vectorized, and streaming (one batch in flight per task).

    Returns (vec_id, dim, l2_norm, mean_val), floats rounded to 6.
    """

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(b.schema.get_field_index("vec_id"))
            emb = b.column(b.schema.get_field_index("embedding"))
            # combine_chunks not needed: RecordBatch columns are flat Arrays
            offsets = emb.offsets.to_numpy(zero_copy_only=False)
            flat = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
            lens = np.diff(offsets)
            starts = offsets[:-1]
            sums = np.add.reduceat(flat, starts) if len(flat) else np.zeros(0)
            sqsums = np.add.reduceat(flat * flat, starts) if len(flat) else np.zeros(0)
            # reduceat quirk: a zero-length segment returns the NEXT
            # element's value — zero those out explicitly
            empty = lens == 0
            sums[empty] = 0.0
            sqsums[empty] = 0.0
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(lens.astype("int64")),
                    pa.array(np.round(np.sqrt(sqsums), 6)),
                    pa.array(
                        np.round(np.divide(sums, lens, out=np.zeros_like(sums), where=lens > 0), 6)
                    ),
                ],
                names=["vec_id", "dim", "l2_norm", "mean_val"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        kernel, "vec_id long, dim long, l2_norm double, mean_val double"
    )


def label_centroids_arrow(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid vectors via ``GroupedData.applyInArrow`` —
    the GROUPED Arrow-native boundary (embedding_stats_arrow covers the
    ungrouped map). Each label's vectors arrive as one pyarrow Table;
    the kernel reshapes the flattened list values to (n, dim) and takes
    a column mean — one BLAS-friendly numpy reduction per group, no
    pandas, no per-row Python.

    Scale shape: one hash exchange on the label (unavoidable — the
    group IS the unit of work), bounded output (labels × dim rows).
    Groups are per-label vector populations; if a label's population
    outgrows executor memory, pre-aggregate per-partition sums with
    mapInArrow and merge — the documented escape hatch, same shape as
    salted aggregation. Returns (label, dim_idx, centroid_val, n_vectors)
    exploded one row per dimension so the result is flat SQL.
    """

    def kernel(table):
        import numpy as np
        import pyarrow as pa

        emb = table.column("embedding").combine_chunks()
        n = len(emb)
        offsets = emb.offsets.to_numpy(zero_copy_only=False)
        flat = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
        dims = np.diff(offsets)
        dim = int(dims[0]) if n else 0
        label = table.column("label")[0].as_py()
        if n == 0 or dim == 0 or not (dims == dim).all():
            # ragged group: no meaningful centroid — emit nothing
            return pa.table(
                {"label": [], "dim_idx": [], "centroid_val": [], "n_vectors": []},
                schema=pa.schema(
                    [
                        ("label", pa.int64()),
                        ("dim_idx", pa.int64()),
                        ("centroid_val", pa.float64()),
                        ("n_vectors", pa.int64()),
                    ]
                ),
            )
        # + 0.0 canonicalizes -0.0 (np.round(-1e-9, 6) is negative zero)
        mean = np.round(flat.reshape(n, dim).mean(axis=0), 6) + 0.0
        return pa.table(
            {
                "label": pa.array([label] * dim, pa.int64()),
                "dim_idx": pa.array(np.arange(dim, dtype="int64")),
                "centroid_val": pa.array(mean),
                "n_vectors": pa.array(np.full(dim, n, dtype="int64")),
            }
        )

    return (
        embeddings.select(F.col("label").cast("long").alias("label"), "embedding")
        .groupBy("label")
        .applyInArrow(
            kernel, "label long, dim_idx long, centroid_val double, n_vectors long"
        )
    )


def embedding_isotropy_report(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding-geometry readout: vector count, dimension,
    mean L2 norm, and the EXACT mean pairwise cosine similarity — via
    the closed form  avg_cos = (‖Σu_i‖² − n) / (n·(n−1))  over unit
    vectors u_i, which needs only the elementwise SUM of the unit
    vectors, never a pair join. High mean cosine = anisotropic
    ("cone-shaped") embedding space — the standard representation-
    quality diagnostic before cosine-based dedup/ANN can be trusted.

    Scale shape: one narrow projection normalizes in-row, posexplode
    fans out to (label, dim_idx) — a hash agg on a key space bounded
    by labels × dim, with map-side partials — then a second bounded
    agg folds ‖Σu‖². Shuffle ∝ labels × dim, NEVER pairs; the O(n²)
    statistic costs O(n·dim). Zero-norm vectors are excluded from
    both the mean norm and the cosine (can't be normalized).
    Returns (label, n_vectors, dim, avg_norm, avg_pairwise_cosine).
    """
    e = F.col("embedding").cast("array<double>")
    base = embeddings.select(
        F.col("label").cast("long").alias("label"),
        e.alias("e"),
        _norm_expr(e).alias("nrm"),
    ).where(F.col("nrm") > 0)
    # try_divide, not /: projection collapse can evaluate the transform
    # in the same codegen stage as the nrm > 0 filter (shared
    # subexpression), so a zero-norm row would raise under ANSI before
    # the filter removes it; try_divide's null path is exception-free.
    unit = base.select(
        "label",
        "nrm",
        F.size("e").alias("dim"),
        F.transform("e", lambda x: F.try_divide(x, F.col("nrm"))).alias("u"),
    )
    per_dim = unit.select(
        "label", F.posexplode("u").alias("dim_idx", "uv")
    ).groupBy("label", "dim_idx").agg(F.sum("uv").alias("s"))
    sums = per_dim.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("snormsq"))
    stats = unit.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.max("dim").cast("long").alias("dim"),
        F.round(F.avg("nrm"), 6).alias("avg_norm"),
    )
    n = F.col("n_vectors")
    return stats.join(sums, "label").select(
        "label",
        "n_vectors",
        "dim",
        "avg_norm",
        (
            F.round(
                F.when(n > 1, (F.col("snormsq") - n) / (n * (n - F.lit(1)))), 6
            )
            + F.lit(0.0)
        ).alias("avg_pairwise_cosine"),
    )


def embedding_norm_deciles(embeddings: DataFrame) -> DataFrame:
    """Decile profile of embedding L2 norms: rows per decile with the
    min/max/mean norm — the "are there degenerate or blown-up vectors"
    screen run before any cosine-based pipeline (norm ≈ 0 breaks
    normalization; huge norms dominate dot-product scores).

    Scale shape: norms are a narrow in-row expression; ntile is ONE
    global sort of (norm, vec_id) — the documented narrow-data global
    window (the sorted payload is 2 doubles/row; at 100 TB swap in
    approx_percentile bounds and a bucket agg, same output contract).
    vec_id tiebreaks equal norms so the decile assignment — and thus
    the per-decile extrema — is engine-deterministic.
    Returns (decile, n_vectors, min_norm, max_norm, avg_norm).
    """
    e = F.col("embedding").cast("array<double>")
    nrm = embeddings.select(
        F.col("vec_id").alias("vid"), _norm_expr(e).alias("nrm")
    )
    w = Window.orderBy("nrm", "vid")
    return (
        nrm.select("nrm", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
        )
    )


def embedding_sign_bucket_purity(embeddings: DataFrame) -> DataFrame:
    """Label purity of the four sign-quadrant buckets of the first
    two embedding dimensions — the zero-training sanity screen for
    "does the representation separate labels at all?": if even a
    2-bit sign quantization concentrates labels, the space has
    usable structure (and if not, the expensive clustering passes
    are not going to find any).

    Scale shape: bucket assignment is a narrow in-row projection
    (two element_at sign tests, no explode); ONE hash agg on
    (bucket, label) bounds everything at 4×n_labels cells; the
    majority-label pick and purity ride that tiny table through a
    4-partition window. Output ≤ 4 rows.

    Returns (bucket, n_vecs, n_labels, top_label, top_share); the
    majority tie breaks toward the smaller label id.
    """
    e = F.col("embedding")
    bucket = (
        (F.element_at(e, 1) > 0).cast("int") * 2 + (F.element_at(e, 2) > 0).cast("int")
    ).alias("bucket")
    cell = (
        embeddings.where(F.col("label").isNotNull() & (F.size("embedding") >= 2))
        .select(bucket, "label")
        .groupBy("bucket", "label")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("bucket")
    ranked = cell.select(
        "bucket",
        "label",
        "n",
        F.sum("n").over(w).alias("n_vecs"),
        F.count("*").over(w).alias("n_labels"),
        F.row_number()
        .over(Window.partitionBy("bucket").orderBy(F.desc("n"), F.asc("label")))
        .alias("rk"),
    )
    return (
        ranked.where(F.col("rk") == 1)
        .select(
            "bucket",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("n_labels").cast("long").alias("n_labels"),
            F.col("label").alias("top_label"),
            F.round(F.col("n") / F.col("n_vecs"), 6).alias("top_share"),
        )
        .orderBy("bucket")
    )
