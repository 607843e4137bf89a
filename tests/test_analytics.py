from __future__ import annotations

import __spark_entry__ as entrymod
import pytest

ORACLE_CHECKED = [
    "value_percentiles",
    "event_type_user_stats",
    "users_purchase_not_error",
    "users_signup_and_purchase",
    "event_counts_pivot",
    "last_click_before_purchase",
    "mr_wc",
    "event_value_hmean",
    "cumulative_active_users",
    "event_gap_stats",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_approx_distinct_within_rsd(spark, sf_dir):
    exact = {
        r.event_type: r.n_users
        for r in entrymod.queries()["event_type_user_stats"](spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r.n_users_approx
        for r in entrymod.queries()["approx_distinct_users"](spark, sf_dir).collect()
    }
    for t, exact_n in exact.items():
        assert abs(approx[t] - exact_n) / exact_n < 0.15  # 3× the 5% rsd


def test_cumulative_active_users_invariants(spark, sf_dir):
    from mapreduce_golang_spark.sources.tables import load_table

    rows = sorted(
        entrymod.queries()["cumulative_active_users"](spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    # running total is nondecreasing, equals its own prefix sums, and
    # ends at the exact distinct-user count
    running = 0
    for r in rows:
        running += r.new_users
        assert r.cumulative_users == running
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert rows[-1].cumulative_users == n_users


def test_event_gap_stats_tiny_exact(spark):
    from datetime import datetime

    from mapreduce_golang_spark.operators.windows import event_gap_stats

    df = spark.createDataFrame(
        [
            (1, 7, datetime(2026, 1, 1, 0, 0, 0), "view", 1.0, "{}"),
            (2, 7, datetime(2026, 1, 1, 0, 0, 10), "view", 1.0, "{}"),
            (3, 7, datetime(2026, 1, 1, 0, 1, 0), "view", 1.0, "{}"),
            (4, 9, datetime(2026, 1, 1, 0, 0, 0), "view", 1.0, "{}"),  # single event: no gaps
        ],
        ["event_id", "user_id", "ts", "event_type", "value", "props"],
    )
    rows = {r.user_id: r for r in event_gap_stats(df).collect()}
    assert 9 not in rows  # users with one event produce no gap row
    r = rows[7]
    assert r.n_gaps == 2
    assert r.avg_gap_s == 30.0  # (10 + 50) / 2
    assert r.max_gap_s == 50.0
