"""Round-6 wave 21 (below the driver window): hourly ACF, lead-lag
cross-correlation, active-day streak histogram, and the max-concurrent-
sessions sweep line — oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest

from mapreduce_golang_spark.operators import windows as W


@pytest.mark.parametrize(
    "name",
    [
        "hourly_acf",
        "type_crosscorr_leadlag",
        "user_active_day_streaks",
        "max_concurrent_sessions",
    ],
)
def test_wave21_matches_oracle(query_check, name):
    assert query_check(name) > 0


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_acf_perfect_period_is_one(spark):
    # counts alternate 2,4,2,4,... → lag-2 pairs are a perfectly
    # correlated series, lag-1 perfectly anti-correlated
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(12):
        for _ in range(2 if h % 2 == 0 else 4):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "click", 1.0))
            eid += 1
    out = {r.lag_hours: r.acf for r in W.hourly_acf(_ev(spark, rows), lags=(1, 2)).collect()}
    assert out[2] == pytest.approx(1.0)
    assert out[1] == pytest.approx(-1.0)


def test_acf_dense_spine_counts_silent_hours(spark):
    # events only at hours 0 and 5 → the spine still yields 6 hours,
    # so lag-1 has 5 pairs (zero-filled), not 0 pairs
    t0 = dt.datetime(2024, 1, 1)
    rows = [(0, t0, 1, "click", 1.0), (1, t0 + dt.timedelta(hours=5), 1, "click", 1.0)]
    out = {r.lag_hours: r.n_pairs for r in W.hourly_acf(_ev(spark, rows), lags=(1,)).collect()}
    assert out[1] == 5


def test_crosscorr_detects_shift(spark):
    # errors copy the click series exactly 2 hours later → the lag=+2
    # correlation is 1.0 (clicks LEAD errors)
    t0 = dt.datetime(2024, 1, 1)
    clicks = [3, 1, 4, 1, 5, 9, 2, 6]
    rows, eid = [], 0
    for h, n in enumerate(clicks):
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "click", 1.0))
            eid += 1
    for h, n in enumerate(clicks):
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(hours=h + 2), 1, "error", 1.0))
            eid += 1
    out = {
        r.lag_hours: r.xcorr
        for r in W.type_crosscorr_leadlag(_ev(spark, rows), max_lag=3).collect()
    }
    assert out[2] == pytest.approx(1.0)


def test_streak_islands(spark):
    # user 1 active on days 1,2,3 then 5,6 → longest streak 3;
    # user 2 active once → streak 1
    t0 = dt.datetime(2024, 1, 1, 12)
    rows = [
        (i, t0 + dt.timedelta(days=d), 1, "click", 1.0)
        for i, d in enumerate([0, 1, 2, 4, 5])
    ] + [(99, t0, 2, "view", 1.0)]
    out = {r.streak_days: r.n_users for r in W.user_active_day_streaks(_ev(spark, rows)).collect()}
    assert out == {3: 1, 1: 1}


def test_max_concurrency_sweep(spark):
    # three users whose single sessions overlap pairwise:
    # u1 [0,10], u2 [5,15], u3 [12,20] minutes → peak 2, never 3
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    spans = {1: (0, 10), 2: (5, 15), 3: (12, 20)}
    eid = 0
    for u, (a, b) in spans.items():
        rows.append((eid, t0 + dt.timedelta(minutes=a), u, "click", 1.0))
        eid += 1
        rows.append((eid, t0 + dt.timedelta(minutes=b), u, "click", 1.0))
        eid += 1
    out = W.max_concurrent_sessions(_ev(spark, rows)).collect()
    assert len(out) == 1 and out[0].max_concurrent == 2


def test_max_concurrency_back_to_back_not_double_counted(spark):
    # u2's session starts at the exact instant u1's ends: END sorts
    # before START at equal ts, so concurrency never reads 2
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "click", 1.0),
        (1, t0 + dt.timedelta(minutes=10), 1, "click", 1.0),
        (2, t0 + dt.timedelta(minutes=10), 2, "click", 1.0),
        (3, t0 + dt.timedelta(minutes=20), 2, "click", 1.0),
    ]
    out = W.max_concurrent_sessions(_ev(spark, rows)).collect()
    assert len(out) == 1 and out[0].max_concurrent == 1
