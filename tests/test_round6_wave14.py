"""Round-6 wave 14 (below the driver window): rolling exact median,
market-basket association rules, k-anonymity audit, Benford's-law
first-digit screen, and streaming OHLC bars — oracle matches plus
crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "rolling_median_value",
        "order_basket_rules",
        "k_anonymity_audit",
        "benford_price_audit",
        "streaming_hourly_ohlc",
    ],
)
def test_wave14_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_rolling_median_resists_outlier(spark):
    from mapreduce_golang_spark.operators.windows import rolling_median_value

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 9, "view", v, "{}")
        for i, v in enumerate([1.0, 100.0, 2.0, 3.0])
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.event_id: r.roll_median for r in rolling_median_value(df, frame=2).collect()}
    # frames: [1], [1,100], [1,100,2], [100,2,3]
    assert out[0] == 1.0 and out[1] == 50.5 and out[2] == 2.0 and out[3] == 3.0


def test_basket_rules_metrics(spark):
    from mapreduce_golang_spark.operators.analytics import order_basket_rules

    def li(okey, pkey):
        return (okey, pkey, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1))

    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ]
    rows = [li(1, 10), li(1, 20), li(1, 30), li(2, 10), li(2, 20), li(3, 10), li(3, 20)]
    df = spark.createDataFrame(rows, cols)
    out = order_basket_rules(df, min_both=2, k=10).collect()
    pairs = {(r.part_a, r.part_b): r for r in out}
    assert set(pairs) == {(10, 20)}
    r = pairs[(10, 20)]
    assert r.n_both == 3 and r.n_a == 3 and r.n_b == 3
    assert r.support == 1.0 and r.confidence == 1.0 and r.lift == 1.0


def test_k_anonymity_flags_small_classes(spark):
    from mapreduce_golang_spark.operators.analytics import k_anonymity_audit

    rows = [(i, f"Customer#{i}", 1, 500.0, "BUILDING") for i in range(6)]
    rows.append((99, "Customer#99", 2, 2500.0, "AUTOMOBILE"))  # class of 1
    df = spark.createDataFrame(
        rows, ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    )
    out = k_anonymity_audit(df, k=5).collect()
    assert len(out) == 1
    r = out[0]
    assert r.c_mktsegment == "AUTOMOBILE" and r.acctbal_band == 2 and r.group_size == 1


def test_benford_uniform_digits(spark):
    from mapreduce_golang_spark.operators.analytics import benford_price_audit

    rows = [
        (d, 1, "O", float(d) * 100 + 23.45, dt.datetime(2024, 1, 1), "1-URGENT")
        for d in range(1, 10)
    ]
    df = spark.createDataFrame(
        rows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    out = {r.digit: r for r in benford_price_audit(df).collect()}
    assert set(out) == set(range(1, 10))
    for d, r in out.items():
        assert r.n == 1 and r.obs_frac == pytest.approx(1 / 9, abs=1e-6)
        assert r.benford_frac > 0 and r.chi2_term >= 0
    # digit 1 is under-sampled vs Benford (expected ~0.301)
    assert out[1].obs_frac < out[1].benford_frac
