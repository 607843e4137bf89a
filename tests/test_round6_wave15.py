"""Round-6 wave 15 (below the driver window): RRF hybrid rank fusion,
PSI drift, throttle-style debounce, and hourly rate-spike detection —
oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "rrf_hybrid_ranking",
        "value_psi_drift",
        "debounced_event_stats",
        "event_rate_spikes",
    ],
)
def test_wave15_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_rrf_score_is_reciprocal_rank_sum(spark, sf_dir):
    from mapreduce_golang_spark.operators.text_analysis import rrf_hybrid_ranking
    from mapreduce_golang_spark.sources.tables import load_table

    out = rrf_hybrid_ranking(load_table(spark, sf_dir, "documents"), k=10).collect()
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    scores = [r.rrf_score for r in out]
    assert scores == sorted(scores, reverse=True)
    for r in out:
        expected = 1.0 / (60 + r.bm25_rank) + 1.0 / (60 + r.quality_rank)
        assert r.rrf_score == pytest.approx(expected, abs=1e-6)


def test_psi_separates_shifted_halves(spark):
    from mapreduce_golang_spark.operators.analytics import value_psi_drift

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(hours=i), 1, "view", 5.0 + i * 0.1, "{}")
        for i in range(50)
    ] + [
        (100 + i, t0 + dt.timedelta(hours=100 + i), 1, "view", 95.0 + i * 0.1, "{}")
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.bin: r for r in value_psi_drift(df).collect()}
    assert sum(r.n_ref + r.n_cur for r in out.values()) == 100
    # low bins are all-reference, high bins all-current → both have
    # large positive PSI contributions
    assert out[0].n_ref > 0 and out[0].n_cur == 0 and out[0].psi_term > 0
    assert out[9].n_cur > 0 and out[9].n_ref == 0 and out[9].psi_term > 0


def test_debounce_drops_rapid_refire(spark):
    from mapreduce_golang_spark.operators.windows import debounced_event_stats

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "click", 0.0, "{}"),
        (2, t0 + dt.timedelta(seconds=10), 7, "click", 0.0, "{}"),  # refire
        (3, t0 + dt.timedelta(seconds=120), 7, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    r = debounced_event_stats(df).collect()[0]
    assert r.n_events == 3 and r.n_kept == 2
    assert r.drop_frac == pytest.approx(1 / 3, abs=1e-6)


def test_rate_spike_flags_burst(spark):
    from mapreduce_golang_spark.operators.windows import event_rate_spikes

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(30):  # alternating 4/6 so the trailing stddev is > 0
        for _ in range(4 + 2 * (h % 2)):
            rows.append((eid, t0 + dt.timedelta(hours=h, minutes=1), 1, "view", 0.0, "{}"))
            eid += 1
    for _ in range(50):  # the burst hour
        rows.append((eid, t0 + dt.timedelta(hours=30, minutes=1), 1, "view", 0.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = event_rate_spikes(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_events == 50 and r.hour.hour == 6  # 30h past midnight = 06:00 next day
    assert r.z_score > 3.0
