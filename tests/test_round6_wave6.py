"""Round-6 wave 6: conversion-latency distribution, decontaminated
train corpus, within-source length cume-dist, and per-user
first/second/last event endpoints — oracle matches at the test SF
plus crafted-input behavioral checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "conversion_latency_stats",
        "decontaminated_corpus",
        "doc_length_cume_dist",
        "user_first_last_events",
    ],
)
def test_wave6_matches_oracle(query_check, name):
    assert query_check(name) > 0


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), u, t, 1.0, "{}")
            for i, (u, t, h) in enumerate(rows)
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )


def test_conversion_latency_ignores_pre_signup_purchases(spark):
    from mapreduce_golang_spark.operators.analytics import conversion_latency_stats

    rows = [
        (1, "signup", 0), (1, "purchase", 10),        # converts in 10h
        (2, "purchase", 0), (2, "signup", 5),          # pre-signup buy ignored
        (2, "purchase", 8),                            # converts in 3h
        (3, "signup", 0),                              # never converts
    ]
    r = conversion_latency_stats(_ev(spark, rows)).collect()[0]
    assert r.n_converted == 2
    assert r.avg_hours == pytest.approx(6.5, abs=1e-6)
    assert r.max_hours == pytest.approx(10.0, abs=1e-6)


def test_decontaminated_corpus_drops_carriers(spark):
    from mapreduce_golang_spark.operators.text_analysis import decontaminated_corpus

    eval_text = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (0, eval_text, "en", "src18", len(eval_text)),       # eval doc
            (1, eval_text + " extra tail", "en", "web", 10),      # carrier: covers all eval shingles
            (2, "completely unrelated training text here", "en", "web", 10),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    kept = {r.doc_id for r in decontaminated_corpus(docs).collect()}
    assert kept == {2}  # carrier dropped, eval side excluded by definition


def test_cume_dist_endpoints(spark):
    from mapreduce_golang_spark.operators.text_analysis import doc_length_cume_dist

    docs = spark.createDataFrame(
        [(i, "x", "en", "s", n) for i, n in enumerate([10, 20, 30, 40])],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r for r in doc_length_cume_dist(docs).collect()}
    assert out[0].len_cume_dist == 0.25 and out[0].len_pct_rank == 0.0
    assert out[3].len_cume_dist == 1.0 and out[3].len_pct_rank == 1.0


def test_first_last_events_order_and_null_second(spark):
    from mapreduce_golang_spark.operators.windows import user_first_last_events

    rows = [(1, "signup", 0), (1, "view", 1), (1, "purchase", 2), (2, "click", 0)]
    out = {r.user_id: r for r in user_first_last_events(_ev(spark, rows)).collect()}
    assert (out[1].first_event, out[1].second_event, out[1].last_event) == (
        "signup", "view", "purchase",
    )
    assert out[1].n_events == 3
    assert out[2].second_event is None and out[2].n_events == 1
