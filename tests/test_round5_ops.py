"""Round-5 second-wave operators: conversion funnel, Gini balance,
weighted sampling, edit-distance near-dups, clustering coefficient,
and k-means — each oracle-differential plus a behavioral property on
crafted inputs (the reference's golden-twin discipline,
/root/reference/src/main/test-mr.sh:90-91, applied per operator)."""

from __future__ import annotations


ORACLE_BACKED = (
    "user_conversion_funnel",
    "doc_length_gini",
    "weighted_doc_sample",
    "edit_distance_pairs",
    "near_dup_clustering_coeff",
    "kmeans_clusters",
)


def test_round5_ops_match_oracle(query_check):
    for name in ORACLE_BACKED:
        assert query_check(name) > 0, name


def test_funnel_steps_are_monotone(spark, sf_dir):
    from mapreduce_golang_spark.operators.analytics import user_conversion_funnel
    from mapreduce_golang_spark.sources.tables import load_table

    rows = {
        r.step_idx: r.n_users
        for r in user_conversion_funnel(load_table(spark, sf_dir, "events")).collect()
    }
    assert set(rows) == {0, 1, 2}
    # each step can only lose users relative to the one before it
    assert rows[0] >= rows[1] >= rows[2]


def test_funnel_requires_strict_time_order(spark):
    from mapreduce_golang_spark.operators.analytics import user_conversion_funnel

    # user 1: signup -> click -> purchase in order (converts fully);
    # user 2: click BEFORE signup, purchase before click (converts 0 steps
    # past signup); user 3: click after signup but outside the window.
    events = spark.createDataFrame(
        [
            (1, "signup", "2024-01-01 00:00:00"),
            (1, "click", "2024-01-01 01:00:00"),
            (1, "purchase", "2024-01-01 02:00:00"),
            (2, "click", "2024-01-01 00:00:00"),
            (2, "signup", "2024-01-01 01:00:00"),
            (2, "purchase", "2024-01-01 00:30:00"),
            (3, "signup", "2024-01-01 00:00:00"),
            (3, "click", "2024-01-03 00:00:00"),
        ],
        ["user_id", "event_type", "ts_str"],
    ).selectExpr("user_id", "event_type", "CAST(ts_str AS TIMESTAMP) AS ts")
    rows = {r.step_idx: r.n_users for r in user_conversion_funnel(events).collect()}
    assert rows == {0: 3, 1: 1, 2: 1}


def test_gini_zero_for_uniform_and_high_for_skewed(spark):
    from mapreduce_golang_spark.operators.text_analysis import doc_length_gini

    docs = spark.createDataFrame(
        # uniform source: all docs length 100 → gini 0
        [(i, "u", 100) for i in range(10)]
        # skewed source: one giant doc carries ~all mass → gini near 1
        + [(100 + i, "s", 1) for i in range(9)]
        + [(199, "s", 100000)],
        ["doc_id", "source", "n_chars"],
    )
    g = {r.source: r.gini for r in doc_length_gini(docs).collect()}
    assert g["u"] == 0.0
    assert g["s"] > 0.85


def test_weighted_sample_is_exact_k_and_favors_long_docs(spark, sf_dir):
    from mapreduce_golang_spark.operators.corpus import weighted_doc_sample
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_doc_sample(docs, k=3).toPandas()
    per_source = out.groupby("source").size()
    assert (per_source <= 3).all()
    # inclusion is biased toward longer docs: the sampled mean length
    # should exceed the corpus mean (prob ∝ n_chars)
    corpus_mean = docs.selectExpr("avg(n_chars) AS m").collect()[0].m
    assert out["n_chars"].mean() > corpus_mean * 0.95


def test_edit_distance_pairs_canonical_and_exact(spark):
    from mapreduce_golang_spark.operators.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # dist 3
            (3, "the quick brown fox leaps over the lazy dog"),  # dist 3 vs 1
            (4, "completely different text with no shared prefix"),
        ],
        ["doc_id", "text"],
    )
    rows = {(r.doc_a, r.doc_b): r.edit_dist for r in edit_distance_pairs(docs).collect()}
    assert all(a < b for a, b in rows)  # canonical ordering
    assert rows[(1, 2)] == 3 and rows[(1, 3)] == 3
    assert (1, 4) not in rows and (4, 1) not in rows


def test_clustering_coeff_triangle_vs_path(spark):
    from mapreduce_golang_spark.operators.graph import near_dup_clustering_coeff

    docs = spark.createDataFrame([(i, "x") for i in range(1, 6)], ["doc_id", "text"])
    # triangle {1,2,3} plus path 3-4-5: triangle corners have cc 1 (deg-2
    # nodes whose single wedge closes); 4 bridges without a closing edge
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], ["doc_a", "doc_b"]
    )
    cc = {r.doc_id: r for r in near_dup_clustering_coeff(docs, pairs=pairs).collect()}
    assert cc[1].coeff == 1.0 and cc[2].coeff == 1.0
    assert cc[3].deg == 3 and cc[3].n_triangles == 1
    assert abs(cc[3].coeff - 1.0 / 3.0) < 1e-6
    assert cc[4].coeff == 0.0 and cc[5].coeff == 0.0


def test_kmeans_separates_two_blobs(spark):
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.operators.similarity import EMBEDDING_DIM, kmeans_assign

    # two tight 64-d blobs around +1 and -1; k=2 with one update must
    # land each blob in its own cluster (seeds 0 and 1 are one per blob)
    def vec(center, jitter):
        return [float(center + jitter * ((d % 3) - 1) * 0.01) for d in range(EMBEDDING_DIM)]

    rows = [(i, vec(1.0, i + 1)) for i in range(0, 10, 2)] + [
        (i, vec(-1.0, i + 1)) for i in range(1, 10, 2)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = kmeans_assign(emb, k=2, updates=1).collect()
    clusters = {r.vec_id: r.cluster for r in out}
    assert {clusters[i] for i in range(0, 10, 2)} == {0}
    assert {clusters[i] for i in range(1, 10, 2)} == {1}
    # every assignment distance is small: blobs are tight
    assert max(r.dist for r in out) < 1.0
