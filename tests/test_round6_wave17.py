"""Round-6 wave 17 (below the driver window): curriculum phases,
stopword-profile source similarity, right-censored Kaplan–Meier gap
survival, and the parity-arm A/B z-test — oracle matches plus
crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "curriculum_phases",
        "source_stopword_similarity",
        "km_gap_survival",
        "ab_conversion_ztest",
    ],
)
def test_wave17_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_curriculum_orders_by_quality(spark, sf_dir):
    from mapreduce_golang_spark.operators.corpus import curriculum_phases
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = sorted(curriculum_phases(docs).collect(), key=lambda r: r.phase)
    assert sum(r.n_docs for r in out) == docs.count()
    quals = [r.avg_quality for r in out]
    assert quals == sorted(quals)  # later phases are higher quality


def test_stopword_profiles_separate_styles(spark):
    from mapreduce_golang_spark.operators.text_analysis import source_stopword_similarity

    rows = [
        (1, "the cat and the dog", "en", "s1", 19),
        (2, "the bird and the fish", "en", "s2", 21),  # same profile as s1
        (3, "of kings of queens of", "en", "s3", 21),  # disjoint profile
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {(r.source_a, r.source_b): r.cosine_sim for r in source_stopword_similarity(df).collect()}
    assert out[("s1", "s2")] == 1.0  # identical the/and mix
    # disjoint profiles share no stopword key, so the sparse dot emits
    # no pair at all (the inverted-index convention)
    assert ("s1", "s3") not in out and ("s2", "s3") not in out


def test_km_survival_with_censoring(spark):
    from mapreduce_golang_spark.operators.windows import km_gap_survival

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 9, "view", 0.0, "{}"),
        (2, t0 + dt.timedelta(seconds=60), 9, "view", 0.0, "{}"),
        (3, t0 + dt.timedelta(seconds=120), 9, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.gap_min: r for r in km_gap_survival(df).collect()}
    # two 60s gaps (deaths at minute 1), last event censored at gap 0
    assert out[0].n_censored == 1 and out[0].n_deaths == 0
    assert out[0].n_at_risk == 3 and out[0].survival == 1.0
    assert out[1].n_deaths == 2 and out[1].n_at_risk == 2
    assert out[1].survival == 0.0  # everyone at risk died at minute 1


def test_ab_ztest_detects_arm_gap(spark):
    from mapreduce_golang_spark.operators.analytics import ab_conversion_ztest
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for uid in range(40):
        n_purch = 14 if uid % 2 == 0 else 1  # arm A converts, arm B doesn't
        for _ in range(n_purch):
            rows.append((eid, t0, uid, "purchase", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    cust_schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    )
    out = ab_conversion_ztest(df, spark.createDataFrame([], cust_schema)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.segment == "UNKNOWN" and r.n_a == 20 and r.n_b == 20
    assert r.conv_a == 1.0 and r.conv_b == 0.0
    assert r.z_score > 1.96 and r.significant == 1
