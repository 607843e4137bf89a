"""Round-6 wave 18 (below the driver window): BPE roundtrip audit,
per-type OLS of value on hour, and the Q-Q drift table — oracle matches
plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    ["bpe_roundtrip_audit", "value_hour_regression", "value_qq_drift"],
)
def test_wave18_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_bpe_roundtrip_is_lossless(spark, sf_dir):
    from mapreduce_golang_spark.operators.text_analysis import bpe_roundtrip_audit
    from mapreduce_golang_spark.sources.tables import load_table

    r = bpe_roundtrip_audit(load_table(spark, sf_dir, "documents")).collect()[0]
    assert r.n_words > 0
    assert r.n_roundtrip_ok == r.n_words  # merges only ever concatenate
    assert 0 < r.n_vocab_symbols
    assert 0 <= r.n_single_symbol <= r.n_words


def test_regression_recovers_exact_line(spark):
    from mapreduce_golang_spark.operators.analytics import value_hour_regression

    rows = []
    for i, h in enumerate([1, 2, 3, 4]):
        rows.append((i, dt.datetime(2024, 1, 1, h), 1, "view", 2.0 * h + 1.0, "{}"))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    r = value_hour_regression(df).collect()[0]
    assert r.slope == 2.0 and r.intercept == 1.0 and r.r2 == 1.0


def test_regression_drops_degenerate_groups(spark):
    from mapreduce_golang_spark.operators.analytics import value_hour_regression

    rows = [
        # all in the same hour → zero x-variance
        (1, dt.datetime(2024, 1, 1, 5), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 5), 1, "click", 2.0, "{}"),
        # constant value → zero y-variance
        (3, dt.datetime(2024, 1, 1, 1), 1, "view", 4.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 2), 1, "view", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    assert value_hour_regression(df).count() == 0


def test_qq_drift_reads_location_shift(spark):
    from mapreduce_golang_spark.operators.analytics import value_qq_drift

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(hours=i), 1, "view", float(i % 10), "{}")
        for i in range(100)
    ] + [
        (200 + i, t0 + dt.timedelta(hours=200 + i), 1, "view", 50.0 + (i % 10), "{}")
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = value_qq_drift(df).collect()
    assert len(out) == 9
    assert all(r.gap == pytest.approx(50.0, abs=1e-6) for r in out)
