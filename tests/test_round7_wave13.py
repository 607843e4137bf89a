"""Round-7 wave 33 (below the driver window): Apriori triple itemsets
(with the losslessness of lattice pruning proven against the naive
3-way join), the weekly PSI drift series, and Neyman minimum-variance
sample allocation — oracle matches plus crafted ground truths.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from mapreduce_golang_spark.operators import analytics as A

WAVE33 = ["basket_triple_itemsets", "weekly_psi_series", "neyman_allocation"]

_LI_SCHEMA = "l_orderkey long, l_partkey long"
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_T0 = dt.datetime(2024, 1, 1)  # a Monday


def _li(spark, baskets):
    rows = [(ok, pk) for ok, parts in enumerate(baskets) for pk in parts]
    return spark.createDataFrame(rows, _LI_SCHEMA)


@pytest.mark.parametrize("name", WAVE33)
def test_wave33_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_triples_known_baskets(spark):
    # {1,2,3} appears twice, {1,2,4} once → only (1,2,3) is frequent.
    # 4 baskets; n_1: 1→3, 2→3, 3→2 → lift = (2/4)/((3/4)³·(2/3)...)
    baskets = [[1, 2, 3], [1, 2, 3], [1, 2, 4], [9]]
    out = A.basket_triple_itemsets(_li(spark, baskets)).collect()
    assert [(r.part_a, r.part_b, r.part_c, r.n_all3) for r in out] == [(1, 2, 3, 2)]
    r = out[0]
    assert r.support == 0.5
    lift = (2 / 4) / ((3 / 4) * (3 / 4) * (2 / 4))
    assert r.lift == pytest.approx(lift, abs=1e-6)


def test_triples_duplicate_lines_collapse(spark):
    # the same part twice in one order is ONE basket membership
    baskets = [[5, 5, 6, 7], [5, 6, 7]]
    out = A.basket_triple_itemsets(_li(spark, baskets)).collect()
    assert [(r.part_a, r.part_b, r.part_c, r.n_all3) for r in out] == [(5, 6, 7, 2)]


def test_weekly_psi_baseline_zero_and_shift_positive(spark):
    # week 0: values uniform 1..100; week 1: identical → PSI ≈ 0;
    # week 2: all mass shifted high → PSI large
    rows = []
    eid = 0
    for w, vals in enumerate(
        [list(range(1, 101)), list(range(1, 101)), [1000.0] * 100]
    ):
        for v in vals:
            rows.append((eid, _T0 + dt.timedelta(weeks=w), 1, "a", float(v), None))
            eid += 1
    out = A.weekly_psi_series(spark.createDataFrame(rows, _EV_SCHEMA)).collect()
    assert [r.week_start for r in out] == [
        "2024-01-01", "2024-01-08", "2024-01-15",
    ]
    assert out[0].psi == 0.0
    assert abs(out[1].psi) < 0.01  # identical distribution, smoothing noise only
    assert out[2].psi > 1.0  # all mass in the top bin


def test_neyman_allocation_favors_high_variance(spark):
    # stratum a: constant (S=0) → gets nothing under Neyman but its
    # proportional share; stratum b: spread → gets the whole budget
    rows = [(i, _T0, 1, "a", 5.0, None) for i in range(60)]
    rows += [(100 + i, _T0, 1, "b", float(i % 10), None) for i in range(40)]
    out = {r.event_type: r for r in
           A.neyman_allocation(spark.createDataFrame(rows, _EV_SCHEMA)).collect()}
    assert (out["a"].neyman_share, out["a"].neyman_n) == (0.0, 0)
    assert (out["b"].neyman_share, out["b"].neyman_n) == (1.0, 10000)
    assert out["a"].proportional_n == 6000 and out["b"].proportional_n == 4000
    # known stddev of 0..9 cycle: sqrt(8.25)
    assert out["b"].stddev_value == pytest.approx(math.sqrt(8.25), abs=1e-6)


def test_wave33_ops_on_empty(spark):
    assert A.basket_triple_itemsets(_li(spark, [])).count() == 0
    ev = spark.createDataFrame([], _EV_SCHEMA)
    assert A.weekly_psi_series(ev).count() == 0
    assert A.neyman_allocation(ev).count() == 0
