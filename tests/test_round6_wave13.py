"""Round-6 wave 13 (below the driver window): BPE encode stats,
quality-vs-dup calibration, normalization dedup gain, JL projection QA,
and linear multi-touch attribution — oracle matches plus crafted-input
checks (including BPE pair exhaustion, which must no-op, not annihilate).
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "bpe_encode_stats",
        "quality_dup_calibration",
        "normalized_dedup_gain",
        "jl_projection_qa",
        "multi_touch_attribution",
    ],
)
def test_wave13_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_bpe_encode_survives_pair_exhaustion(spark):
    from mapreduce_golang_spark.operators.text_analysis import bpe_encode_stats

    # "aaab" exhausts all pairs after 3 merges; rounds 4-5 must no-op
    # (an empty rule row must not annihilate the word table)
    docs = spark.createDataFrame(
        [(i, "aaab", "en", "s", 4) for i in range(3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = bpe_encode_stats(docs, n_merges=5).collect()
    assert len(out) == 1
    r = out[0]
    assert r.source == "s" and r.n_tokens == 3
    assert r.n_symbols == 3  # 'aaab' fully merged to one symbol
    assert r.n_chars == 12 and r.symbols_per_token == 1.0
    assert r.compression_ratio == 0.25


def test_calibration_counts_dup_mass(spark):
    from mapreduce_golang_spark.operators.text_analysis import quality_dup_calibration

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en", "s", 25),
            (2, "the quick brown fox jumps", "en", "s", 25),  # exact dup
            (3, "entirely different words here", "en", "s", 29),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = quality_dup_calibration(docs).collect()
    assert sum(r.n_docs for r in out) == 3
    assert sum(r.n_dup_docs for r in out) == 2
    for r in out:
        assert 0.0 <= r.dup_frac <= 1.0 and r.bin_lo >= 0.0


def test_normalization_finds_extra_dups(spark):
    from mapreduce_golang_spark.operators.dedup import normalized_dedup_gain

    docs = spark.createDataFrame(
        [
            (1, "Hello World", "en", "s", 11),
            (2, "hello, world!", "en", "s", 13),
            (3, "hello   world", "en", "s", 13),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = normalized_dedup_gain(docs).collect()[0]
    assert r.n_docs == 3 and r.n_uniq_raw == 3 and r.n_uniq_norm == 1
    assert r.raw_dup_frac == 0.0
    assert r.gain_frac == pytest.approx(2 / 3, abs=1e-6)


def test_jl_ratio_bounds(spark):
    from mapreduce_golang_spark.operators.similarity import jl_projection_qa

    # only ids divisible by 7 enter the sample
    vecs = [(i, [float((i * 13 + d * 7) % 11) - 5.0 for d in range(16)], 0)
            for i in [0, 7, 14, 3, 5]]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])
    r = jl_projection_qa(emb, k=4).collect()[0]
    assert r.n_pairs == 3  # C(3,2) among ids {0, 7, 14}
    assert 0.0 < r.min_ratio <= r.avg_ratio <= r.max_ratio


def test_attribution_splits_linearly(spark):
    from mapreduce_golang_spark.operators.analytics import multi_touch_attribution

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (1, t0 - dt.timedelta(hours=2), 5, "click", 0.0, "{}"),
        (2, t0 - dt.timedelta(hours=1), 5, "click", 0.0, "{}"),
        (3, t0 - dt.timedelta(hours=30), 5, "view", 0.0, "{}"),  # outside 24h
        (4, t0, 5, "purchase", 10.0, "{}"),
        (5, t0 + dt.timedelta(hours=1), 5, "view", 0.0, "{}"),  # after
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.event_type: r for r in multi_touch_attribution(df).collect()}
    assert set(out) == {"click"}
    assert out["click"].n_touches == 2 and out["click"].total_credit == 10.0
