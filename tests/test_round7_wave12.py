"""Round-7 wave 32 (below the driver window): segmented trend around
the CUSUM changepoint — oracle match plus two analytic ground truths:
a clean step recovers (slope 0, slope 0, shift = step) with the break
at the last pre-step hour, and a pure linear trend reads shift ≈ 0
because both fits are evaluated at the same boundary point.
"""

from __future__ import annotations

import datetime as dt

import pytest

from mapreduce_golang_spark.operators import windows as W

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_T0 = dt.datetime(2024, 3, 1)


def _hourly(spark, counts_by_hour, etype="a"):
    rows, eid = [], 0
    for h, k in enumerate(counts_by_hour):
        for j in range(k):
            rows.append(
                (eid, _T0 + dt.timedelta(hours=h, minutes=j % 60), 1, etype, 1.0, None)
            )
            eid += 1
    return spark.createDataFrame(rows, _EV_SCHEMA)


def test_segmented_trend_matches_oracle(query_check):
    assert query_check("changepoint_segmented_trend") > 0


def test_segmented_trend_clean_step(spark):
    # 10 hours at 10/h then 10 hours at 30/h: the CUSUM trough sits at
    # the last low hour (t=10); both segments are flat; the shift is
    # exactly the step height
    ev = _hourly(spark, [10] * 10 + [30] * 10)
    r = W.changepoint_segmented_trend(ev).collect()[0]
    assert (r.n_hours, r.t_break) == (20, 10)
    assert r.slope_pre == 0.0 and r.slope_post == 0.0
    assert r.level_shift == pytest.approx(20.0, abs=1e-6)
    assert r.break_hour == "2024-03-01 09:00:00"


def test_segmented_trend_pure_trend_has_no_shift(spark):
    # counts = 2·t: wherever the break lands, each side refits the
    # same line, so slopes agree and the same-point discontinuity is 0
    ev = _hourly(spark, [2 * (t + 1) for t in range(12)])
    r = W.changepoint_segmented_trend(ev).collect()[0]
    assert r.slope_pre == pytest.approx(2.0, abs=1e-6)
    assert r.slope_post == pytest.approx(2.0, abs=1e-6)
    assert r.level_shift == pytest.approx(0.0, abs=1e-6)


def test_segmented_trend_degenerate_segment_is_null(spark):
    # two hours, break at t=1 → the pre segment has a single point:
    # its slope (and hence the shift) must be NULL, not a crash
    ev = _hourly(spark, [1, 9])
    r = W.changepoint_segmented_trend(ev).collect()[0]
    assert r.t_break == 1
    assert r.slope_pre is None and r.level_shift is None
    assert r.slope_post is None  # post side also has just one point


def test_segmented_trend_empty(spark):
    assert (
        W.changepoint_segmented_trend(
            spark.createDataFrame([], _EV_SCHEMA)
        ).count()
        == 0
    )
