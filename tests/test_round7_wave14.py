"""Round-7 wave 34 (below the driver window): the order↔lineitem
financial reconciliation audit — oracle match plus a crafted book
where one order reconciles to the cent, one is off by a known amount,
and one has no lines at all.
"""

from __future__ import annotations

import datetime as dt

from mapreduce_golang_spark.operators import analytics as A

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_quantity double, "
    "l_extendedprice double, l_discount double, l_tax double"
)
_T0 = dt.datetime(2024, 1, 1)


def test_reconciliation_matches_oracle(query_check):
    assert query_check("order_reconciliation_audit") > 0


def test_reconciliation_crafted_book(spark):
    # order 1: two lines, 100·0.9·1.1 = 99.00 and 50·1.0·1.2 = 60.00 →
    #          calc 159.00, header 159.00 → reconciles
    # order 2: one line 200·1.0·1.0 = 200.00, header 210.00 → off by 10
    # order 3: header only → orphan
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 159.00, _T0, "1-P"),
            (2, 1, "O", 210.00, _T0, "1-P"),
            (3, 1, "F", 42.00, _T0, "1-P"),
        ],
        _ORD_SCHEMA,
    )
    lines = spark.createDataFrame(
        [
            (1, 10, 1.0, 100.0, 0.1, 0.1),
            (1, 11, 1.0, 50.0, 0.0, 0.2),
            (2, 12, 1.0, 200.0, 0.0, 0.0),
        ],
        _LI_SCHEMA,
    )
    out = {r.o_orderstatus: r for r in
           A.order_reconciliation_audit(orders, lines).collect()}
    o = out["O"]
    assert (o.n_orders, o.n_with_lines, o.n_orphan) == (2, 2, 0)
    assert (o.n_reconciled, o.reconcile_rate) == (1, 0.5)
    assert (o.p50_abs_diff, o.max_abs_diff) == (5.0, 10.0)
    f = out["F"]
    assert (f.n_orders, f.n_with_lines, f.n_orphan) == (1, 0, 1)
    # an all-orphan status has NOTHING to reconcile: the count, rate
    # and percentiles are NULL (sum over no non-null diffs), not 0
    assert f.n_reconciled is None
    assert f.reconcile_rate is None and f.p50_abs_diff is None


def test_reconciliation_empty(spark):
    o = spark.createDataFrame([], _ORD_SCHEMA)
    li = spark.createDataFrame([], _LI_SCHEMA)
    assert A.order_reconciliation_audit(o, li).count() == 0
