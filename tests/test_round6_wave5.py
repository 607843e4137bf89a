"""Round-6 wave 5: CCNet bucket-policy sample, event-type
co-occurrence (itemset-2 support/confidence/lift), join-key skew
report, and the simplified k-means silhouette — oracle matches at the
test SF plus crafted-input behavioral checks.
"""

from __future__ import annotations

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "ccnet_bucket_sample",
        "event_type_cooccurrence",
        "join_key_skew_report",
        "kmeans_silhouette",
    ],
)
def test_wave5_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_ccnet_sample_policy(spark, sf_dir):
    from mapreduce_golang_spark.operators.mixing import (
        _md5_bucket,
        ccnet_bucket_sample,
        ccnet_perplexity_buckets,
    )
    from mapreduce_golang_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    kept = ccnet_bucket_sample(docs).collect()
    buckets = {r.ppl_bucket for r in kept}
    # the policy never ships a tail doc
    assert "tail" not in buckets and "head" in buckets
    # every head doc in the report's head count is kept
    report = {
        (r.lang, r.ppl_bucket): r.n_docs
        for r in ccnet_perplexity_buckets(docs).collect()
    }
    n_head_expected = sum(n for (lang, b), n in report.items() if b == "head")
    n_head_kept = sum(1 for r in kept if r.ppl_bucket == "head")
    assert n_head_kept == n_head_expected
    # middle keeps are exactly the md5-bucket < 500 subset
    mid = [r for r in kept if r.ppl_bucket == "middle"]
    mid_df = spark.createDataFrame([(r.doc_id,) for r in mid], ["doc_id"])
    bad = mid_df.where(
        _md5_bucket(F.col("doc_id").cast("string"), 1000) >= 500
    ).count()
    assert bad == 0


def test_cooccurrence_support_confidence_lift(spark):
    from mapreduce_golang_spark.operators.analytics import event_type_cooccurrence

    # users: 1 does {a,b}, 2 does {a,b}, 3 does {a}, 4 does {c}
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "b"), (3, "a"), (4, "c")]
    events = spark.createDataFrame(rows, ["user_id", "event_type"])
    out = {(r.type_a, r.type_b): r for r in event_type_cooccurrence(events).collect()}
    ab = out[("a", "b")]
    assert ab.n_users_both == 2
    assert ab.confidence_a_to_b == pytest.approx(2 / 3, abs=1e-6)
    # lift = support * n_users / (n_a * n_b) = 2*4/(3*2)
    assert ab.lift == pytest.approx(4 / 3, abs=1e-6)
    # disjoint pairs never appear (no zero-support rows)
    assert ("a", "c") not in out and ("b", "c") not in out


def test_skew_report_detects_heavy_key(spark):
    from mapreduce_golang_spark.operators.skew import join_key_skew_report

    rows = [(99, "x")] * 90 + [(i, "x") for i in range(10)]
    df = spark.createDataFrame(rows, ["user_id", "event_type"])
    r = join_key_skew_report(df).collect()[0]
    assert r.n_keys == 11 and r.n_rows == 100 and r.max_rows == 90
    assert r.top1_share == pytest.approx(0.9, abs=1e-6)
    # avg rows/key = 100/11; skew factor = 90/(100/11) = 9.9
    assert r.skew_factor == pytest.approx(9.9, abs=1e-4)
    assert r.p50_rows == 1.0


def test_silhouette_separated_clusters_score_high(spark):
    from mapreduce_golang_spark.operators.similarity import kmeans_silhouette

    # two tight, far-apart blobs in 2-D; k=2, 1 update is enough
    vecs = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.1, 0.0]),
        (3, [0.0, 0.1]),
        (4, [10.1, 10.0]),
        (5, [10.0, 10.1]),
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = kmeans_silhouette(emb, k=2, updates=1).collect()
    assert len(out) == 2
    for r in out:
        assert r.n_vectors == 3
        assert r.mean_silhouette > 0.9
        assert -1.0 <= r.min_silhouette <= 1.0
