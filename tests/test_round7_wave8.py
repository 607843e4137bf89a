"""Round-7 wave 28 (below the driver window): the engine-introspection
pack — join-key skew advisory, deterministic hash-partition balance,
and the measured-bytes broadcast planning report — oracle matches plus
hand-computed crafted-input ground truths.
"""

from __future__ import annotations

import math

import pytest

from mapreduce_golang_spark.operators import analytics as A

WAVE28 = [
    "join_key_skew_advisory",
    "shuffle_partition_balance",
    "broadcast_planning_report",
]

_LI_SCHEMA = "l_orderkey long, l_partkey long"


def _li(spark, rows):
    return spark.createDataFrame(rows, _LI_SCHEMA)


@pytest.mark.parametrize("name", WAVE28)
def test_wave28_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_skew_advisory_known_distribution(spark):
    # partkey counts: {1: 5, 2: 1, 3: 1, 4: 1} → sorted [1,1,1,5]
    rows = [(i, 1) for i in range(5)] + [(10, 2), (11, 3), (12, 4)]
    r = A.join_key_skew_advisory(_li(spark, rows)).collect()[0]
    assert (r.n_rows, r.n_keys, r.mean_rows, r.p50_rows, r.max_rows) == (
        8, 4, 2.0, 1.0, 5,
    )
    # p99 interpolates within [1,1,1,5]: idx 0.99·3 = 2.97 → 1 + 0.97·4
    assert r.p99_rows == pytest.approx(1 + 0.97 * 4, abs=1e-6)
    assert (r.hot_key, r.skew_ratio) == (1, 2.5)
    assert r.salt_factor == math.ceil(5 / (1 + 0.97 * 4))


def test_skew_advisory_hot_key_tie_breaks_to_smaller(spark):
    rows = [(0, 7), (1, 7), (2, 3), (3, 3), (4, 9)]
    r = A.join_key_skew_advisory(_li(spark, rows)).collect()[0]
    assert (r.max_rows, r.hot_key) == (2, 3)


def test_partition_balance_conserves_and_bounds(spark):
    rows = [(k, 1) for k in range(500)]
    out = A.shuffle_partition_balance(_li(spark, rows)).collect()
    assert len(out) <= 32
    assert sum(r.n_rows for r in out) == 500
    assert sum(r.share for r in out) == pytest.approx(1.0, abs=1e-4)
    # sequential keys through the mixer: no partition should swallow
    # a constant fraction (the whole point of mixing before pmod)
    assert max(r.n_rows for r in out) < 100


def test_broadcast_report_measured_bytes(spark):
    region = spark.createDataFrame(
        [(0, "AA"), (1, "BBBB")], "r_regionkey int, r_name string"
    )
    nation = spark.createDataFrame(
        [(0, "X", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    supplier = spark.createDataFrame(
        [], "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    )
    customer = spark.createDataFrame(
        [(1, "c", 0, 1.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    out = {r.table_name: r for r in
           A.broadcast_planning_report(region, nation, supplier, customer).collect()}
    # region: (8 + 2+4) + (8 + 4+4) = 14 + 16
    assert (out["region"].n_rows, out["region"].est_bytes) == (2, 30)
    # nation: 8 + (1+4) + 8 = 21
    assert (out["nation"].n_rows, out["nation"].est_bytes) == (1, 21)
    # empty table: zero rows, NULL measured bytes, NULL eligibility
    assert out["supplier"].n_rows == 0 and out["supplier"].est_bytes is None
    # customer: 8 + (1+4) + 8 + 8 + (3+4) = 36
    assert (out["customer"].est_bytes, out["customer"].broadcastable) == (36, 1)


def test_wave28_ops_on_empty(spark):
    r = A.join_key_skew_advisory(_li(spark, [])).collect()[0]
    assert r.n_rows is None and r.hot_key is None
    assert A.shuffle_partition_balance(_li(spark, [])).count() == 0
