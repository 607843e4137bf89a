"""Round-6 wave 16 (below the driver window): nation share-shift,
order-ship latency percentiles, deterministic bootstrap CI, and the 2-D
skyline — oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "nation_share_shift",
        "order_ship_latency",
        "bootstrap_mean_ci",
        "part_price_size_skyline",
    ],
)
def test_wave16_matches_oracle(query_check, name):
    assert query_check(name) > 0


def _order(okey, ckey, price, year):
    return (okey, ckey, "O", price, dt.datetime(year, 6, 1), "1-URGENT")


_OCOLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]


def test_share_shift_tracks_yoy_delta(spark):
    from mapreduce_golang_spark.operators.joins import nation_share_shift

    orders = spark.createDataFrame(
        [
            _order(1, 1, 100.0, 2023), _order(2, 2, 100.0, 2023),
            _order(3, 1, 300.0, 2024), _order(4, 2, 100.0, 2024),
        ],
        _OCOLS,
    )
    customer = spark.createDataFrame(
        [(1, "Customer#1", 10, 0.0, "BUILDING"), (2, "Customer#2", 20, 0.0, "BUILDING")],
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    nation = spark.createDataFrame(
        [(10, "ALPHA", 0), (20, "BETA", 0)], ["n_nationkey", "n_name", "n_regionkey"]
    )
    out = {r.n_name: r for r in nation_share_shift(orders, customer, nation).collect()}
    # only 2024 rows survive (2023 has no prior year)
    assert all(r.o_year == 2024 for r in out.values())
    assert out["ALPHA"].share == 0.75 and out["ALPHA"].share_shift == 0.25
    assert out["BETA"].share == 0.25 and out["BETA"].share_shift == -0.25


def test_ship_latency_percentiles(spark):
    from mapreduce_golang_spark.operators.joins import order_ship_latency

    orders = spark.createDataFrame(
        [_order(1, 1, 10.0, 2024), _order(2, 1, 10.0, 2024)], _OCOLS
    )
    li_cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ]
    lineitem = spark.createDataFrame(
        [
            (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 6, 2)),
            (1, 2, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 6, 9)),
            (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 6, 4)),
        ],
        li_cols,
    )
    r = order_ship_latency(orders, lineitem).collect()[0]
    # latencies: order 1 → 1 day (earliest line), order 2 → 3 days
    assert r.n_orders == 2 and r.p50 == 2.0


def test_bootstrap_ci_degenerate_on_constant(spark):
    from mapreduce_golang_spark.operators.analytics import bootstrap_mean_ci

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "view", 7.5, "{}") for i in range(200)]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    r = bootstrap_mean_ci(df).collect()[0]
    assert r.n_boot == 32
    assert r.boot_mean == 7.5 and r.ci_lo == 7.5 and r.ci_hi == 7.5


def test_skyline_keeps_pareto_frontier(spark):
    from mapreduce_golang_spark.operators.analytics import part_price_size_skyline

    rows = [
        (1, "a", "B", "T", 5, 1.0),
        (2, "b", "B", "T", 10, 2.0),
        (3, "c", "B", "T", 3, 2.0),   # dominated by (2.0, 10)
        (4, "d", "B", "T", 1, 3.0),   # dominated by everything cheaper+bigger
        (5, "e", "B", "T", 10, 2.0),  # duplicate point of 2 → collapses
    ]
    df = spark.createDataFrame(
        rows, ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]
    )
    out = {(r.p_retailprice, r.p_size): r.n_parts for r in part_price_size_skyline(df).collect()}
    assert out == {(1.0, 5): 1, (2.0, 10): 2}
