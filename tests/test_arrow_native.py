"""mapInArrow coverage: the zero-pandas Python boundary (similarity.
embedding_stats_arrow) must match the DuckDB oracle, agree with the
pure-JVM higher-order-function computation of the same stats, survive
empty input, and actually plan as an Arrow map (not BatchEvalPython)."""

from __future__ import annotations

from mapreduce_golang_spark.operators.similarity import embedding_stats_arrow
from mapreduce_golang_spark.sources.tables import load_table


def test_embedding_stats_arrow_matches_oracle(query_check):
    assert query_check("embedding_stats_arrow") > 0


def test_arrow_kernel_agrees_with_jvm_expressions(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    jvm = {
        r.vec_id: (r.dim, r.l2_norm, r.mean_val)
        for r in emb.select(
            "vec_id",
            F.size(e).cast("long").alias("dim"),
            F.round(
                F.sqrt(F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
                6,
            ).alias("l2_norm"),
            F.round(
                F.aggregate(e, F.lit(0.0), lambda a, x: a + x) / F.size(e), 6
            ).alias("mean_val"),
        ).collect()
    }
    arrow = {
        r.vec_id: (r.dim, r.l2_norm, r.mean_val)
        for r in embedding_stats_arrow(emb).collect()
    }
    assert arrow == jvm


def test_arrow_kernel_empty_input(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 0")
    assert embedding_stats_arrow(emb).count() == 0


def test_plan_is_arrow_map_not_batch_eval(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    plan = embedding_stats_arrow(emb)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
    # narrow: a per-row kernel must not introduce an exchange
    assert "Exchange" not in plan


def test_label_centroids_arrow_matches_oracle(query_check):
    assert query_check("label_centroids_arrow") > 0


def test_label_centroids_arrow_shape_and_counts(spark, sf_dir):
    from mapreduce_golang_spark.operators.similarity import (
        EMBEDDING_DIM,
        label_centroids_arrow,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = label_centroids_arrow(emb).collect()
    labels = {r.label for r in out}
    n_labels = emb.select("label").distinct().count()
    assert len(labels) == n_labels
    assert len(out) == n_labels * EMBEDDING_DIM
    # n_vectors per label must equal the actual population
    pops = {r.label: r.n_vectors for r in out}
    want = {r.label: r.n for r in emb.groupBy(emb.label.cast("long").alias("label")).agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert pops == want


def test_label_centroids_arrow_empty_input(spark, sf_dir):
    from mapreduce_golang_spark.operators.similarity import label_centroids_arrow

    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 0")
    assert label_centroids_arrow(emb).count() == 0
