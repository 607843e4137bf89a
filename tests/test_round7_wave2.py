"""Round-7 wave 23 (below the driver window): nonparametric stats
(Spearman / Kendall tau-b / Theil-Sen / Kruskal-Wallis), seasonal
time-series (CUSUM changepoint, hour-of-day profile, seasonally
adjusted anomalies, seasonal-naive backtest), and the LLM-pipeline
text trio (span-level dup fraction, truncation loss, token fertility)
— oracle matches plus crafted-input ground-truth checks.
"""

from __future__ import annotations

import datetime as dt

import pytest

from mapreduce_golang_spark.operators import analytics as A
from mapreduce_golang_spark.operators import text_analysis as T
from mapreduce_golang_spark.operators import windows as W

WAVE23 = [
    "spearman_time_value",
    "kendall_tau_daily",
    "theil_sen_daily_trend",
    "kruskal_wallis_value",
    "cusum_hourly_changepoint",
    "hourly_seasonality_profile",
    "seasonal_adjusted_anomalies",
    "seasonal_naive_backtest",
    "duplicate_shingle_fraction",
    "truncation_loss_report",
    "token_fertility_by_source",
]

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _ev(rows, spark):
    return spark.createDataFrame(rows, _EV_SCHEMA)


def _t(day, hour=0, minute=0):
    return dt.datetime(2024, 1, day, hour, minute)


@pytest.mark.parametrize("name", WAVE23)
def test_wave23_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_spearman_monotone_is_one(spark):
    # value strictly increasing in time → rho = 1 regardless of spacing
    rows = [(i, _t(1 + i), 1, "click", float(i * i), None) for i in range(8)]
    out = A.spearman_time_value(_ev(rows, spark)).collect()
    assert len(out) == 1 and out[0].n == 8 and out[0].rho == 1.0


def test_spearman_antitone_is_minus_one(spark):
    rows = [(i, _t(1 + i), 1, "view", float(100 - i), None) for i in range(6)]
    out = A.spearman_time_value(_ev(rows, spark)).collect()
    assert out[0].rho == -1.0


def test_kendall_concordant_series(spark):
    # daily (count, mean value) both strictly increasing over 4 days:
    # day d carries d events of value d → tau_b = 1, C(4,2)=6 pairs
    rows = []
    eid = 0
    for d in range(1, 5):
        for _ in range(d):
            rows.append((eid, _t(d), 1, "click", float(d), None))
            eid += 1
    out = A.kendall_tau_daily(_ev(rows, spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_days, r.concordant, r.discordant, r.tau_b) == (4, 6, 0, 1.0)


def test_theil_sen_ignores_outlier_day(spark):
    # daily counts 1,2,3,4,5,50,7 — OLS slope is dragged to ~4.8 by the
    # spike; the median pairwise slope stays 1 (the robustness claim)
    counts = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 50, 7: 7}
    rows = []
    eid = 0
    for d, c in counts.items():
        for _ in range(c):
            rows.append((eid, _t(d), 1, "click", 1.0, None))
            eid += 1
    out = A.theil_sen_daily_trend(_ev(rows, spark)).collect()
    assert len(out) == 1 and out[0].n_days == 7
    assert out[0].sen_slope == 1.0


def test_kruskal_all_tied_is_zero(spark):
    # every value identical across groups → H = 0 exactly and the tie
    # correction divides by zero → h_corrected NULL
    rows = [(i, _t(1 + i % 3), 1, ["click", "view", "error"][i % 3], 5.0, None)
            for i in range(9)]
    out = A.kruskal_wallis_value(_ev(rows, spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.k_groups, r.n_total, r.h_stat, r.h_corrected) == (3, 9, 0.0, None)


def test_cusum_peak_at_step_boundary(spark):
    # 10 hours at count 1 then 10 hours at count 11: z = ∓1 exactly, so
    # |CUSUM| peaks (=10) at the last pre-shift hour
    rows = []
    eid = 0
    for h in range(20):
        cnt = 1 if h < 10 else 11
        for _ in range(cnt):
            rows.append((eid, _t(1 + h // 24, h % 24), 1, "click", 1.0, None))
            eid += 1
    out = W.cusum_hourly_changepoint(_ev(rows, spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_hours == 20
    assert r.peak_hour == "2024-01-01 09:00:00"
    assert r.peak_cusum == -10.0


def test_seasonality_profile_uniform_index_is_one(spark):
    # one event every hour for exactly 2 full days → every hour-of-day
    # mean is 1 and every seasonal index is exactly 1.0
    rows = [(i, _t(1 + i // 24, i % 24), 1, "click", 1.0, None) for i in range(48)]
    out = W.hourly_seasonality_profile(_ev(rows, spark)).collect()
    assert len(out) == 24
    assert all(r.n_hours == 2 and r.mean_cnt == 1.0 and r.seasonal_index == 1.0
               for r in out)


def test_seasonal_anomaly_flags_only_the_spike(spark):
    # 11 days × 24 hours at 1 event/hour, except day 6 hour 5 at 31
    # events: that cell's z = sqrt(10) ≈ 3.162 (single outlier among 11
    # same-hod samples); every other hod is constant → stddev 0 → no row
    rows = []
    eid = 0
    for d in range(1, 12):
        for h in range(24):
            cnt = 31 if (d == 6 and h == 5) else 1
            for _ in range(cnt):
                rows.append((eid, _t(d, h), 1, "click", 1.0, None))
                eid += 1
    out = W.seasonal_adjusted_anomalies(_ev(rows, spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.hour == "2024-01-06 05:00:00" and r.hod == 5 and r.cnt == 31
    assert r.z == pytest.approx(3.162278, abs=1e-6)


def test_seasonal_backtest_perfect_periodicity(spark):
    # counts depend only on hour-of-day over 3 full days → the lag-24
    # forecast is exact (MAE 0, skill 1); naive lag-1 errs on the ramp
    rows = []
    eid = 0
    for d in range(1, 4):
        for h in range(24):
            for _ in range(1 + h % 3):
                rows.append((eid, _t(d, h), 1, "click", 1.0, None))
                eid += 1
    out = W.seasonal_naive_backtest(_ev(rows, spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_eval == 48
    assert r.mae_seasonal == 0.0 and r.rmse_seasonal == 0.0
    assert r.mae_naive > 0 and r.skill == 1.0


def test_duplicate_shingle_fraction_crafted(spark):
    # doc 0 ≡ doc 1 (all shingles df=2 → dup_frac 1); doc 2 unique
    docs = spark.createDataFrame(
        [
            (0, "a b c d e", "en", "s1", 9),
            (1, "a b c d e", "en", "s2", 9),
            (2, "x y z w v", "en", "s1", 9),
        ],
        _DOC_SCHEMA,
    )
    out = {r.source: r for r in T.duplicate_shingle_fraction(docs).collect()}
    assert out["s1"].n_docs == 2
    assert out["s1"].mean_dup_frac == 0.5 and out["s1"].max_dup_frac == 1.0
    assert out["s1"].n_mostly_dup == 1
    assert out["s2"].mean_dup_frac == 1.0 and out["s2"].n_mostly_dup == 1


def test_truncation_loss_crafted(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d e", "en", "s", 9), (1, " ".join(["w"] * 200), "en", "s", 399)],
        _DOC_SCHEMA,
    )
    out = {r.context_len: r for r in
           T.truncation_loss_report(docs, context_lens=(3, 1000)).collect()}
    r3 = out[3]
    assert (r3.n_docs, r3.n_truncated, r3.total_tokens, r3.kept_tokens) == (2, 2, 205, 6)
    assert r3.loss_frac == pytest.approx(1 - 6 / 205, abs=1e-6)
    r1k = out[1000]
    assert r1k.n_truncated == 0 and r1k.kept_tokens == 205 and r1k.loss_frac == 0.0


def test_token_fertility_ascii_vs_multibyte(spark):
    docs = spark.createDataFrame(
        [(0, "abc def", "en", "ascii", 7), (1, "héllo wörld", "de", "utf8", 11)],
        _DOC_SCHEMA,
    )
    out = {r.source: r for r in T.token_fertility_by_source(docs).collect()}
    a = out["ascii"]
    assert a.total_tokens == 2 and a.total_chars == 7 and a.total_bytes == 7
    assert a.chars_per_token == 3.5 and a.tokens_per_doc == 2.0
    u = out["utf8"]
    assert u.total_chars == 11 and u.total_bytes == 13  # é, ö are 2-byte
    assert u.bytes_per_token == 6.5


def test_wave23_ops_on_empty(spark):
    empty_ev = spark.createDataFrame([], _EV_SCHEMA)
    empty_docs = spark.createDataFrame([], _DOC_SCHEMA)
    assert A.spearman_time_value(empty_ev).count() == 0
    k = A.kendall_tau_daily(empty_ev).collect()
    assert len(k) == 1 and k[0].n_days == 0 and k[0].tau_b is None
    assert A.theil_sen_daily_trend(empty_ev).count() == 0
    kw = A.kruskal_wallis_value(empty_ev).collect()
    assert len(kw) == 1 and kw[0].k_groups == 0
    assert W.cusum_hourly_changepoint(empty_ev).count() == 0
    assert W.hourly_seasonality_profile(empty_ev).count() == 0
    assert W.seasonal_adjusted_anomalies(empty_ev).count() == 0
    assert W.seasonal_naive_backtest(empty_ev).count() == 0
    assert T.duplicate_shingle_fraction(empty_docs).count() == 0
    assert T.truncation_loss_report(empty_docs).count() == 0
    assert T.token_fertility_by_source(empty_docs).count() == 0
