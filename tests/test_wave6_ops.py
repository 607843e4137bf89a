"""Wave-6 operators: k-core decomposition, time-weighted average,
MAD anomalies, interval-overlap join, CDC snapshot diff — oracle
matches at the test SF plus crafted-input behavioral checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "kcore_docs",
        "time_weighted_user_value",
        "value_mad_anomalies",
        "session_incident_overlap",
        "customer_snapshot_diff",
        "incremental_agg_refresh",
        "winsorized_value_stats",
        "event_weekday_chi2",
        "source_quality_drift",
    ],
)
def test_wave6_matches_oracle(query_check, name):
    n = query_check(name)
    # at the smallest fixture the 2-core and the ≥5-errors/hour
    # incident set can legitimately be empty (both are non-empty at
    # the driver's sf0.01); everything else must produce rows
    if name not in ("kcore_docs", "session_incident_overlap"):
        assert n > 0


def test_kcore_prunes_cascading_tail(spark):
    from mapreduce_golang_spark.operators.graph import kcore_docs

    # triangle {1,2,3} + tail 3-4-5: removing 5 (deg 1) drops 4 to
    # deg 1, which the NEXT round removes — the cascade is the point.
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.9), (2, 3, 0.9), (3, 4, 0.9), (4, 5, 0.9)],
        ["doc_a", "doc_b", "jaccard"],
    )
    docs = spark.createDataFrame([(i, "x") for i in range(1, 6)], ["doc_id", "text"])
    core = {r.doc_id: r.core_degree for r in kcore_docs(docs, pairs=pairs).collect()}
    assert core == {1: 2, 2: 2, 3: 2}


def test_kcore_converges_within_round_bound(spark):
    from mapreduce_golang_spark.operators.graph import KCORE_MAX_ROUNDS, kcore_docs

    # a pure path prunes its two endpoints per round → a 2·MAX_ROUNDS
    # path is the worst cascade the bound must absorb; the 2-core of
    # any tree is empty, so full pruning proves fixpoint was reached
    n = 2 * KCORE_MAX_ROUNDS
    pairs = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(1, n)], ["doc_a", "doc_b", "jaccard"]
    )
    docs = spark.createDataFrame([(i, "x") for i in range(1, n + 1)], ["doc_id", "text"])
    assert kcore_docs(docs, pairs=pairs).count() == 0


def _ev(eid, ts, user, etype, value):
    return (eid, dt.datetime.fromisoformat(ts), user, etype, value, "{}")


_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def test_twap_weights_by_holding_time(spark):
    from mapreduce_golang_spark.operators.windows import time_weighted_user_value

    events = spark.createDataFrame(
        [
            # user 1: 10 held 10 s, 20 held 30 s, 99 is last (no weight)
            _ev(1, "2024-01-01 00:00:00", 1, "view", 10.0),
            _ev(2, "2024-01-01 00:00:10", 1, "view", 20.0),
            _ev(3, "2024-01-01 00:00:40", 1, "view", 99.0),
            # user 2: single event → no interval → excluded
            _ev(4, "2024-01-01 00:00:00", 2, "view", 5.0),
            # user 3: two events at the SAME ts → zero total weight → excluded
            _ev(5, "2024-01-01 00:00:00", 3, "view", 1.0),
            _ev(6, "2024-01-01 00:00:00", 3, "view", 2.0),
        ],
        _EV_COLS,
    )
    rows = {r.user_id: r for r in time_weighted_user_value(events).collect()}
    assert set(rows) == {1}
    assert rows[1].twap == pytest.approx((10.0 * 10 + 20.0 * 30) / 40, abs=1e-6)
    assert rows[1].n_intervals == 2
    assert rows[1].span_secs == pytest.approx(40.0, abs=1e-6)


def test_mad_flags_outlier_not_bulk(spark):
    from mapreduce_golang_spark.operators.windows import value_mad_anomalies

    # values 1..9 + 100: interpolated median 5.5, MAD 2.5 →
    # robust_z(100) ≈ 25.5 flagged, robust_z(9) ≈ 0.94 not; type B is
    # constant → MAD 0 → degenerate-distribution guard reports nothing
    rows = [_ev(i, "2024-01-01 00:00:00", 1, "A", float(i)) for i in range(1, 10)]
    rows.append(_ev(100, "2024-01-01 00:00:00", 1, "A", 100.0))
    rows += [_ev(200 + i, "2024-01-01 00:00:00", 1, "B", 7.0) for i in range(5)]
    out = value_mad_anomalies(spark.createDataFrame(rows, _EV_COLS)).collect()
    assert [(r.event_id, r.event_type) for r in out] == [(100, "A")]
    assert out[0].robust_z == pytest.approx(94.5 / (1.4826 * 2.5), abs=1e-5)


def test_session_incident_overlap_counts_qualifying_hours(spark):
    from mapreduce_golang_spark.operators.windows import session_incident_overlap

    rows = [
        # user 1: one session 10:30 → 11:10 (gaps ≤ 30 min) spanning hours 10+11
        _ev(1, "2024-01-01 10:30:00", 1, "view", 1.0),
        _ev(2, "2024-01-01 10:50:00", 1, "view", 1.0),
        _ev(3, "2024-01-01 11:10:00", 1, "view", 1.0),
        # user 2: session entirely inside hour 12
        _ev(4, "2024-01-01 12:15:00", 2, "view", 1.0),
    ]
    # hour 10: 5 errors (incident); hour 12: 4 errors (below threshold)
    rows += [_ev(10 + i, "2024-01-01 10:05:00", 9, "error", 0.0) for i in range(5)]
    rows += [_ev(20 + i, "2024-01-01 12:05:00", 9, "error", 0.0) for i in range(4)]
    out = session_incident_overlap(spark.createDataFrame(rows, _EV_COLS)).collect()
    hit = [(r.user_id, r.n_incident_hours, r.session_start) for r in out if r.user_id == 1]
    assert hit == [(1, 1, "2024-01-01 10:30:00")]
    # user 2's session touches no qualifying hour; user 9's error
    # bursts themselves DO overlap the hour-10 incident
    assert {r.user_id for r in out} == {1, 9}


def test_snapshot_diff_classes_and_null_safety(spark):
    from mapreduce_golang_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 10.0), (5, None), (6, None)],
        "k long, v double",
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (4, 10.0), (5, None), (6, 3.0)],
        "k long, v double",
    )
    out = {r.k: r for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    # 1 unchanged (dropped), 5 NULL==NULL unchanged (dropped)
    assert {k: r.change for k, r in out.items()} == {
        2: "changed",
        3: "removed",
        4: "added",
        6: "changed",
    }
    assert out[4].old_v is None and out[4].new_v == 10.0
    assert out[3].new_v is None and out[3].old_v == 10.0


def test_incremental_refresh_equals_direct_aggregate(spark):
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.operators.merge import incremental_agg_refresh

    rows = [(k, float(v)) for k in ("a", "b") for v in range(1, 8)]
    df = spark.createDataFrame(rows, "k string, m double")
    # any split must merge back to the direct aggregate — keys present
    # only in base ('a' when delta takes m>100) and only in delta are
    # both covered by the disjoint m-range splits
    for pred in ["m < 4", "m >= 4", "m > 100"]:
        merged = incremental_agg_refresh(
            df.where(pred), df.where(f"NOT ({pred})"), keys=["k"],
            measure="m", exact_decimal="decimal(18,2)",
        )
        direct = df.groupBy("k").agg(
            F.count("m").cast("long").alias("n_rows"),
            F.round(F.sum(F.col("m").cast("decimal(18,2)")).cast("double"), 6).alias("sum_m"),
            F.round(F.sum(F.col("m").cast("decimal(18,2)")).cast("double") / F.count("m"), 6).alias("avg_m"),
            F.round(F.min("m"), 6).alias("min_m"),
            F.round(F.max("m"), 6).alias("max_m"),
        )
        got = sorted(map(tuple, merged.collect()))
        want = sorted(map(tuple, direct.collect()))
        assert got == want, pred


def test_winsorized_stats_clip_and_degenerate(spark):
    from mapreduce_golang_spark.operators.analytics import winsorized_value_stats

    rows = [_ev(i, "2024-01-01 00:00:00", 1, "A", float(v)) for i, v in enumerate(range(1, 100))]
    rows.append(_ev(999, "2024-01-01 00:00:00", 1, "A", 100000.0))
    # type B: constant — clipping is the identity
    rows += [_ev(2000 + i, "2024-01-01 00:00:00", 1, "B", 5.0) for i in range(10)]
    out = {r.event_type: r for r in winsorized_value_stats(
        spark.createDataFrame(rows, _EV_COLS)).collect()}
    a, b = out["A"], out["B"]
    # the outlier drags the raw mean far above the winsorized one,
    # which must stay inside the clip band
    assert a.mean_raw > a.mean_winsorized
    assert a.p_lo <= a.mean_winsorized <= a.p_hi
    assert a.n == 100
    assert b.mean_raw == b.mean_winsorized == 5.0
    assert b.sd_winsorized == 0.0


def test_chi2_zero_iff_weekday_independent(spark):
    from mapreduce_golang_spark.operators.analytics import event_weekday_chi2

    # 2024-01-01 = Monday, 2024-01-02 = Tuesday
    def burst(base, etype, day, n):
        return [_ev(base + i, f"2024-01-0{day} 12:00:00", 1, etype, 1.0) for i in range(n)]

    # A and B proportional across Mon/Tue → marginals reproduce the
    # observed grid exactly → chi2 = 0 for both
    indep = burst(0, "A", 1, 2) + burst(10, "A", 2, 2) + burst(20, "B", 1, 3) + burst(30, "B", 2, 3)
    out = {r.event_type: r.chi2 for r in event_weekday_chi2(
        spark.createDataFrame(indep, _EV_COLS)).collect()}
    assert out == {"A": 0.0, "B": 0.0}

    # concentrating C on Monday breaks independence for everyone, C most
    skewed = indep + burst(40, "C", 1, 5)
    out2 = {r.event_type: r.chi2 for r in event_weekday_chi2(
        spark.createDataFrame(skewed, _EV_COLS)).collect()}
    assert out2["C"] > out2["A"] > 0.0


def test_quality_drift_zero_for_identical_one_for_disjoint(spark):
    from mapreduce_golang_spark.operators.text_analysis import source_quality_drift

    prose = "the cat and the dog ran to the park"
    junk = "!!! ??? !!! ???"
    rows = [(i, prose, "en", "A", len(prose)) for i in range(5)]
    rows += [(10 + i, prose, "en", "B", len(prose)) for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    # A and B are score-identical → each vs the other is drift-free
    out = {r.source: r.ks_stat for r in source_quality_drift(docs).collect()}
    assert out == {"A": 0.0, "B": 0.0}

    # C's scores land in a disjoint bin → maximal drift; A and B now
    # drift a little (their "rest" includes C) but stay symmetric
    rows += [(20 + i, junk, "en", "C", len(junk)) for i in range(5)]
    docs2 = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out2 = {r.source: r.ks_stat for r in source_quality_drift(docs2).collect()}
    assert out2["C"] == 1.0
    assert 0.0 < out2["A"] == out2["B"] < 1.0
