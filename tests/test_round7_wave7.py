"""Round-7 wave 27 (below the driver window): the binned two-sample
distribution-distance matrix (KS / Wasserstein-1 / Cramér–von Mises /
energy over a shared 256-bin grid) — oracle match plus closed-form
crafted-input ground truths at full separation, identity, and the
degenerate constant-value corpus.
"""

from __future__ import annotations

import datetime as dt

import pytest

from mapreduce_golang_spark.operators import analytics as A

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_T0 = dt.datetime(2024, 1, 1)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, _T0, 1, t, v, None) for i, (t, v) in enumerate(rows)], _EV_SCHEMA
    )


def test_distribution_distances_matches_oracle(query_check):
    n = query_check("value_distribution_distances")
    # 5 event types in the synthetic tables → C(5,2) pairs
    assert n == 10


def test_distances_full_separation(spark):
    # a: all mass at 0 (bin 0); b: all mass at 10 (bin 255).
    # width = 10/256; ΔF = 1 on bins 0..254, 0 at 255:
    #   ks = 1, w1 = 255·width, cvm = ½ (all of a's mass at ΔF=1),
    #   energy = 2·255·width (within-terms vanish for point masses)
    rows = [("a", 0.0)] * 4 + [("b", 10.0)] * 6
    r = A.value_distribution_distances(_ev(spark, rows)).collect()
    assert len(r) == 1
    r = r[0]
    width = 10.0 / 256
    assert (r.type_a, r.type_b, r.n_a, r.n_b) == ("a", "b", 4, 6)
    assert r.ks == 1.0
    assert r.w1 == pytest.approx(255 * width, abs=1e-6)
    assert r.cvm == pytest.approx(0.5, abs=1e-6)
    assert r.energy == pytest.approx(510 * width, abs=1e-6)


def test_distances_identical_distributions_are_zero(spark):
    rows = [(t, v) for t in ("a", "b") for v in (1.0, 2.0, 3.0, 9.0)]
    r = A.value_distribution_distances(_ev(spark, rows)).collect()[0]
    assert (r.ks, r.w1, r.cvm, r.energy) == (0.0, 0.0, 0.0, 0.0)


def test_distances_constant_corpus_degenerate_range(spark):
    # v_max == v_min → zero-width bins, everything lands in bin 0,
    # and the ANSI 0/0 guard must keep the query alive
    rows = [("a", 5.0)] * 3 + [("b", 5.0)] * 2
    r = A.value_distribution_distances(_ev(spark, rows)).collect()[0]
    assert (r.ks, r.w1, r.cvm, r.energy) == (0.0, 0.0, 0.0, 0.0)


def test_distances_empty_and_single_type(spark):
    assert A.value_distribution_distances(_ev(spark, [])).count() == 0
    assert (
        A.value_distribution_distances(_ev(spark, [("a", 1.0), ("a", 2.0)])).count()
        == 0
    )
