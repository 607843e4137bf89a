"""Round-6 wave 10 (registered below the driver window): MoM revenue
growth, user-value Pareto shares, brand HHI concentration, session
duration histogram — oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "orders_monthly_growth",
        "user_value_pareto",
        "part_brand_hhi",
        "session_duration_histogram",
    ],
)
def test_wave10_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_monthly_growth_percentages(spark):
    from mapreduce_golang_spark.operators.analytics import orders_monthly_growth

    rows = [
        (1, 1, "O", 100.0, dt.date(2024, 1, 10), "P"),
        (2, 1, "O", 100.0, dt.date(2024, 1, 20), "P"),
        (3, 1, "O", 300.0, dt.date(2024, 2, 5), "P"),
    ]
    orders = spark.createDataFrame(
        rows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    out = {r.month: r for r in orders_monthly_growth(orders).collect()}
    assert out["2024-01"].mom_growth_pct is None  # first month: no baseline
    assert out["2024-02"].mom_growth_pct == pytest.approx(50.0, abs=1e-6)
    assert out["2024-01"].n_orders == 2 and out["2024-01"].total_price == 200.0


def test_pareto_concentrated_value(spark):
    from mapreduce_golang_spark.operators.analytics import user_value_pareto

    t0 = dt.datetime(2024, 1, 1)
    # 99 users worth 1 each, one whale worth 901 → top1 share ≈ 0.901
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(99)]
    rows.append((99, t0, 99, "view", 901.0, "{}"))
    events = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    r = user_value_pareto(events).collect()[0]
    assert r.n_users == 100 and r.total_value == 1000.0
    assert r.top1_share == pytest.approx(0.901, abs=1e-6)
    assert r.top10_share >= r.top1_share


def test_hhi_monopoly_vs_fragmented(spark):
    from mapreduce_golang_spark.operators.analytics import part_brand_hhi

    rows = [(i, "n", "OnlyBrand", "mono", 1, 1.0) for i in range(4)]
    rows += [(10 + i, "n", f"B{i}", "frag", 1, 1.0) for i in range(4)]
    part = spark.createDataFrame(
        rows, ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]
    )
    out = {r.p_type: r for r in part_brand_hhi(part).collect()}
    assert out["mono"].hhi == 1.0 and out["mono"].n_brands == 1
    assert out["frag"].hhi == 0.25 and out["frag"].n_brands == 4
