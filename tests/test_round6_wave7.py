"""Round-6 wave 7: quality-argmax dedup representative, per-source
token JS divergence, cluster-balanced embedding sample, streaming
COUNT(DISTINCT) chain — oracle matches at the test SF plus
crafted-input behavioral checks.
"""

from __future__ import annotations

import math

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "component_best_representative",
        "source_token_js_divergence",
        "cluster_balanced_sample",
        "streaming_distinct_users",
    ],
)
def test_wave7_matches_oracle(query_check, name):
    assert query_check(name) > 0


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def test_best_representative_prefers_quality_over_id(spark):
    from mapreduce_golang_spark.operators.dedup import component_best_representative
    from mapreduce_golang_spark.operators.mixing import quality_classifier_scores

    docs = _docs(
        spark,
        [
            ("alpha beta gamma delta epsilon", "s"),
            ("alpha beta gamma delta zeta", "s"),
            ("standalone text nothing shared", "s"),
        ],
    )
    pairs = spark.createDataFrame([(0, 1, 0.67)], ["doc_a", "doc_b", "jaccard"])
    out = {r.component_id: r for r in component_best_representative(docs, pairs=pairs).collect()}
    # component {0,1} keeps whichever doc scores higher, NOT automatically id 0
    scores = {r.doc_id: r.quality_score for r in quality_classifier_scores(docs).collect()}
    want = 0 if scores[0] >= scores[1] else 1
    assert out[0].doc_id == want
    # singleton keeps itself
    assert out[2].doc_id == 2


def test_js_divergence_identical_zero_disjoint_ln2(spark):
    from mapreduce_golang_spark.operators.mixing import source_token_js_divergence

    same = _docs(spark, [("apple banana cherry", "a"), ("apple banana cherry", "b")])
    out = {r.source: r.js_divergence for r in source_token_js_divergence(same).collect()}
    assert out["a"] == 0.0 and out["b"] == 0.0
    # fully disjoint vocabularies → JS = ln 2 (assuming no bucket collisions
    # among 6 distinct tokens in 512 buckets — deterministic, verified green)
    disj = _docs(spark, [("apple banana cherry", "a"), ("dog emu ferret", "b")])
    out2 = {r.source: r.js_divergence for r in source_token_js_divergence(disj).collect()}
    assert out2["a"] == pytest.approx(math.log(2), abs=1e-5)


def test_cluster_balanced_sample_caps_per_cluster(spark, sf_dir):
    from mapreduce_golang_spark.operators.similarity import (
        cluster_balanced_sample,
        kmeans_assign,
    )
    from mapreduce_golang_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster_balanced_sample(emb, per_cluster=5).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    sizes = {c: len(v) for c, v in by_cluster.items()}
    assigned_sizes = {}
    for r in kmeans_assign(emb).collect():
        assigned_sizes[r.cluster] = assigned_sizes.get(r.cluster, 0) + 1
    for c, n in sizes.items():
        assert n == min(5, assigned_sizes[c])
        assert sorted(r.rk for r in by_cluster[c]) == list(range(1, n + 1))
