"""Round-7 wave 30 (below the driver window): the inequality
decomposition panel (Gini / Theil-T / Atkinson per nation) and the
Nelson–Aalen cumulative hazard — oracle matches plus the two classical
identities: Theil decomposes (total = between + Σ share·within) and
NA ≤ −ln(KM) with near-equality at large n_at_risk.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

import __spark_entry__ as entrymod
from mapreduce_golang_spark.operators import analytics as A
from mapreduce_golang_spark.operators import windows as W

WAVE30 = ["nation_revenue_inequality", "nelson_aalen_hazard"]

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)
_NAT_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_T0 = dt.datetime(2024, 1, 1)


@pytest.mark.parametrize("name", WAVE30)
def test_wave30_matches_oracle(query_check, name):
    assert query_check(name) > 0


def _fixture(spark, rev_by_cust_nation):
    orders, cust = [], []
    ok = 0
    for ck, (nk, amounts) in rev_by_cust_nation.items():
        cust.append((ck, f"c{ck}", nk, 0.0, "SEG"))
        for a in amounts:
            ok += 1
            orders.append((ok, ck, "O", a, _T0, "1-P"))
    nations = [(0, "ALPHA", 0), (1, "BETA", 0)]
    return (
        spark.createDataFrame(orders, _ORD_SCHEMA),
        spark.createDataFrame(cust, _CUST_SCHEMA),
        spark.createDataFrame(nations, _NAT_SCHEMA),
    )


def test_inequality_uniform_nation_is_zero(spark):
    # every ALPHA customer earns exactly 100 → all three indices 0
    o, c, n = _fixture(
        spark, {1: (0, [100.0]), 2: (0, [40.0, 60.0]), 3: (0, [100.0])}
    )
    r = A.nation_revenue_inequality(o, c, n).collect()
    assert len(r) == 1
    r = r[0]
    assert (r.n_name, r.n_cust, r.total_rev, r.rev_share) == ("ALPHA", 3, 300.0, 1.0)
    assert (r.gini, r.theil_within, r.atkinson) == (0.0, 0.0, 0.0)


def test_inequality_known_two_customer_split(spark):
    # BETA: revenues 100 and 300 → μ=200:
    #   gini  = 2(1·100+2·300)/(2·400) − 3/2 = 1400/800 − 1.5 = 0.25
    #   theil = (100·ln0.5 + 300·ln1.5)/400
    #   atk   = 1 − √(100·300)/200
    o, c, n = _fixture(spark, {1: (1, [100.0]), 2: (1, [300.0])})
    r = A.nation_revenue_inequality(o, c, n).collect()[0]
    assert r.gini == pytest.approx(0.25, abs=1e-6)
    theil = (100 * math.log(0.5) + 300 * math.log(1.5)) / 400
    assert r.theil_within == pytest.approx(theil, abs=1e-6)
    assert r.atkinson == pytest.approx(1 - math.sqrt(30000) / 200, abs=1e-6)


def test_theil_decomposition_identity(spark, sf_dir):
    # total Theil over all customers = between-nation + Σ share·within
    out = entrymod.queries()["nation_revenue_inequality"](spark, sf_dir).collect()
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf_dir}/customer.parquet'"
    )
    con.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{sf_dir}/nation.parquet'"
    )
    total_theil, = con.execute(
        """
        WITH rev AS (
            SELECT o_custkey, sum(o_totalprice) AS x FROM orders GROUP BY 1
        ), m AS (SELECT avg(x) AS mu, sum(x) AS tot FROM rev)
        SELECT sum(x * ln(x / m.mu)) / any_value(m.tot)
        FROM rev CROSS JOIN m
        """
    ).fetchone()
    con.close()
    shares = [r.rev_share for r in out]
    mus = [r.total_rev / r.n_cust for r in out]
    grand_mu = sum(r.total_rev for r in out) / sum(r.n_cust for r in out)
    between = sum(
        s * math.log(mu / grand_mu) for s, mu in zip(shares, mus)
    )
    within = sum(s * r.theil_within for s, r in zip(shares, out))
    # 6-dp rounded shares/withins accumulate ~1e-5 slack over 25 nations
    assert between + within == pytest.approx(total_theil, abs=5e-4)


def _gap_events(spark, seq_by_user):
    rows, eid = [], 0
    for uid, minutes in seq_by_user.items():
        for m in minutes:
            rows.append((eid, _T0 + dt.timedelta(minutes=m), uid, "e", 1.0, None))
            eid += 1
    return spark.createDataFrame(rows, _EV_SCHEMA)


def test_nelson_aalen_known_hazard(spark):
    # user gaps: u1 at 0,1,3 → gaps 1,2 + censored 0 (last event at
    # horizon); u2 at 0,3 → gap 3 + censored 0. Buckets:
    #   0: 0 deaths, 2 censored, at-risk 5 → H=0
    #   1: 1 death,  at-risk 3 → H = 1/3
    #   2: 1 death,  at-risk 2 → H = 1/3 + 1/2
    #   3: 1 death,  at-risk 1 → +1 (d==n → −lnKM NULL)
    ev = _gap_events(spark, {1: [0, 1, 3], 2: [0, 3]})
    out = {r.gap_min: r for r in W.nelson_aalen_hazard(ev).collect()}
    assert out[0].na_cum_hazard == 0.0 and out[0].n_at_risk == 5
    assert out[1].na_cum_hazard == pytest.approx(1 / 3, abs=1e-6)
    assert out[2].na_cum_hazard == pytest.approx(1 / 3 + 1 / 2, abs=1e-6)
    assert out[3].na_cum_hazard == pytest.approx(1 / 3 + 1 / 2 + 1, abs=1e-6)
    assert out[3].km_neg_log_surv is None
    # NA ≤ −ln(KM) wherever both are defined
    for r in out.values():
        if r.km_neg_log_surv is not None:
            assert r.na_cum_hazard <= r.km_neg_log_surv + 1e-9


def test_nelson_aalen_tracks_km_at_scale(spark, sf_dir):
    na = {r.gap_min: r for r in
          entrymod.queries()["nelson_aalen_hazard"](spark, sf_dir).collect()}
    km = {r.gap_min: r for r in
          entrymod.queries()["km_gap_survival"](spark, sf_dir).collect()}
    assert set(na) == set(km)
    checked = 0
    for g, r in na.items():
        if r.km_neg_log_surv is None or km[g].survival <= 0:
            continue
        # identity against the independently computed KM query
        assert r.km_neg_log_surv == pytest.approx(
            -math.log(km[g].survival), abs=5e-5
        )
        assert r.na_cum_hazard <= r.km_neg_log_surv + 1e-9
        # near-equality while n_at_risk is large
        if r.n_at_risk >= 200:
            assert r.km_neg_log_surv - r.na_cum_hazard < 0.05
        checked += 1
    assert checked > 10


def test_wave30_ops_on_empty(spark):
    o = spark.createDataFrame([], _ORD_SCHEMA)
    c = spark.createDataFrame([], _CUST_SCHEMA)
    n = spark.createDataFrame([], _NAT_SCHEMA)
    assert A.nation_revenue_inequality(o, c, n).count() == 0
    assert W.nelson_aalen_hazard(spark.createDataFrame([], _EV_SCHEMA)).count() == 0
