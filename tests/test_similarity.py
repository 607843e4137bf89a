from __future__ import annotations

import __spark_entry__ as entrymod
import pytest


@pytest.mark.parametrize("name", ["ann_topk_bruteforce", "ann_ivf_topk", "ann_lsh_topk"])
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_ann_variants_are_subsets_of_their_candidate_space(spark, sf_dir):
    # The fixture embeddings are near-random, so top-5 "neighbors"
    # (cosine ~0.4) seldom share an LSH bucket — low recall there is a
    # property of the data, not a bug. What must hold structurally:
    # every reported neighbor shares the query's bucket/label, and the
    # reported cosine equals the brute-force cosine for that pair.
    from mapreduce_golang_spark.operators.similarity import lsh_bucket
    from mapreduce_golang_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    buckets = {r.vec_id: r.bucket for r in lsh_bucket(emb).collect()}
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}

    qs = entrymod.queries()
    for r in qs["ann_lsh_topk"](spark, sf_dir).collect():
        assert buckets[r.neighbor_id] == buckets[r.query_id]
    for r in qs["ann_ivf_topk"](spark, sf_dir).collect():
        assert labels[r.neighbor_id] == labels[r.query_id]


def test_lsh_finds_planted_near_neighbor(spark):
    # A genuinely-near vector (tiny perturbation, cosine ≈ 1) must land
    # in the query's bucket and be returned as its top neighbor.
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from mapreduce_golang_spark.operators.similarity import EMBEDDING_DIM, ann_lsh_topk

    base = [float((i * 37 % 19) - 9) for i in range(EMBEDDING_DIM)]
    near = [v + 0.001 for v in base]
    far1 = [float(((i + 7) * 53 % 23) - 11) for i in range(EMBEDDING_DIM)]
    far2 = [-v for v in base]
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    df = spark.createDataFrame(
        [(0, base, 0), (100, near, 0), (101, far1, 0), (102, far2, 0)], schema
    )
    rows = ann_lsh_topk(df, n_queries=1, k=2).collect()
    top = min(rows, key=lambda r: r.rnk)
    assert top.neighbor_id == 100 and top.cosine > 0.999


def test_bruteforce_topk_shape(spark, sf_dir):
    rows = entrymod.queries()["ann_topk_bruteforce"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
    for q, rs in by_q.items():
        assert len(rs) == 5
        assert sorted(r.rnk for r in rs) == [1, 2, 3, 4, 5]
        ordered = sorted(rs, key=lambda r: r.rnk)
        assert all(ordered[i].cosine >= ordered[i + 1].cosine for i in range(4))


def test_semantic_dedup_survivors_matches_oracle(query_check):
    assert query_check("semantic_dedup_survivors") > 0


def test_semantic_dedup_drops_only_bucket_pairs(spark, sf_dir):
    # every dropped vector must appear as the LARGER id of a same-bucket
    # pair with cosine >= threshold (keep-lowest-id policy), and
    # survivors + dropped must partition the corpus
    from mapreduce_golang_spark.operators.similarity import (
        semantic_dedup_pairs,
        semantic_dedup_survivors,
    )
    from mapreduce_golang_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    survivors = {r.vec_id for r in semantic_dedup_survivors(emb).collect()}
    pairs = semantic_dedup_pairs(emb).collect()
    dropped_expect = {r.vec_b for r in pairs}
    assert survivors == all_ids - dropped_expect
    assert all(r.vec_a < r.vec_b and r.cosine >= 0.4 for r in pairs)
