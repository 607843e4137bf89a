"""Round-7 wave 26 (below the driver window): the categorical
association & agreement pack — Cramér's V, source↔lang mutual
information, Cohen's kappa between two deterministic raters, Theil's
uncertainty coefficient over event transitions, and the sign-quadrant
label-purity screen — oracle matches plus closed-form crafted-input
ground truths.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from mapreduce_golang_spark.operators import analytics as A
from mapreduce_golang_spark.operators import similarity as S
from mapreduce_golang_spark.operators import text_analysis as T
from mapreduce_golang_spark.operators import windows as W

WAVE26 = [
    "cramers_v_order_attrs",
    "mutual_information_source_lang",
    "cohens_kappa_langid",
    "theil_u_event_transitions",
    "embedding_sign_bucket_purity",
]

_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_EMB_SCHEMA = "vec_id long, embedding array<float>, label int"

_T0 = dt.datetime(2024, 1, 1)


def _orders(spark, pairs):
    rows = [
        (i, 1, s, 100.0, _T0, p) for i, (s, p) in enumerate(pairs)
    ]
    return spark.createDataFrame(rows, _ORD_SCHEMA)


def _docs(spark, rows):
    return spark.createDataFrame(rows, _DOC_SCHEMA)


def _events(spark, seq_by_user):
    rows = []
    eid = 0
    for uid, types in seq_by_user.items():
        for k, t in enumerate(types):
            rows.append((eid, _T0 + dt.timedelta(minutes=k), uid, t, 1.0, None))
            eid += 1
    return spark.createDataFrame(rows, _EV_SCHEMA)


@pytest.mark.parametrize("name", WAVE26)
def test_wave26_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_cramers_v_independent_is_zero(spark):
    # perfectly balanced 2×2 → observed == expected everywhere
    pairs = [(s, p) for s in ("O", "F") for p in ("1-HI", "2-LO") for _ in range(5)]
    r = A.cramers_v_order_attrs(_orders(spark, pairs)).collect()[0]
    assert (r.n, r.r, r.c, r.dof) == (20, 2, 2, 1)
    assert r.chi2 == 0.0 and r.cramers_v == 0.0


def test_cramers_v_perfect_association_is_one(spark):
    pairs = [("O", "1-HI")] * 5 + [("F", "2-LO")] * 5
    r = A.cramers_v_order_attrs(_orders(spark, pairs)).collect()[0]
    # diagonal 2×2: chi2 = n, V = 1
    assert r.chi2 == pytest.approx(10.0, abs=1e-6)
    assert r.cramers_v == 1.0


def test_cramers_v_counts_empty_cells(spark):
    # 2×2 with one EMPTY cell: O always HI, F split evenly.
    # cells: (O,HI)=4 (O,LO)=0 (F,HI)=2 (F,LO)=2; marginals O=4 F=4
    # HI=6 LO=2, n=8 → exp = (2,... ) chi2 = sum over ALL FOUR cells:
    # (4-3)^2/3 + (0-1)^2/1 + (2-3)^2/3 + (2-1)^2/1 = 1/3+1+1/3+1 = 8/3
    pairs = [("O", "1-HI")] * 4 + [("F", "1-HI")] * 2 + [("F", "2-LO")] * 2
    r = A.cramers_v_order_attrs(_orders(spark, pairs)).collect()[0]
    assert r.chi2 == pytest.approx(8 / 3, abs=1e-6)
    assert r.cramers_v == pytest.approx(math.sqrt((8 / 3) / 8), abs=1e-6)


def test_mutual_information_extremes(spark):
    # source determines lang, uniform over 3 sources → MI = Hs = Hl =
    # ln 3, NMI = 1
    rows = [
        (i * 10 + j, "t", f"l{i}", f"s{i}", 1) for i in range(3) for j in range(4)
    ]
    r = T.mutual_information_source_lang(_docs(spark, rows)).collect()[0]
    assert (r.n_docs, r.n_sources, r.n_langs) == (12, 3, 3)
    assert r.mi_nats == pytest.approx(math.log(3), abs=1e-6)
    assert r.nmi == 1.0
    # independent 2×2 (every cell equal) → MI exactly 0
    rows = [
        (i, "t", f"l{i % 2}", f"s{i // 2 % 2}", 1) for i in range(8)
    ]
    r = T.mutual_information_source_lang(_docs(spark, rows)).collect()[0]
    assert r.mi_nats == 0.0 and r.nmi == 0.0
    assert r.h_source == pytest.approx(math.log(2), abs=1e-6)


def test_cohens_kappa_known_table(spark):
    # (A,B) per doc: (1,1),(0,0),(1,0),(0,1),(1,1) →
    # n=5 na=3 nb=3 n_both=2, po=0.6, pe=0.52, kappa=1/6
    rows = [
        (0, "the cat sat", "en", "s", 1),          # A=1 B=1
        (1, "zzz 123", "xx", "s", 1),              # A=0 B=0
        (2, "the 9999999999999999", "en", "s", 1), # A=1 B=0
        (3, "abcdefghij klmnopqrst", "xx", "s", 1),# A=0 B=1
        (4, "the dog ran", "en", "s", 1),          # A=1 B=1
    ]
    r = T.cohens_kappa_langid(_docs(spark, rows)).collect()[0]
    assert (r.n, r.p_a, r.p_b, r.po, r.pe) == (5, 0.6, 0.6, 0.6, 0.52)
    assert r.kappa == pytest.approx(1 / 6, abs=1e-6)


def test_cohens_kappa_constant_raters_guard(spark):
    # both raters say yes on every doc → pe = 1; the 0/0 kappa is
    # pinned to 0.0 instead of NULL/NaN
    rows = [(i, "the cat", "en", "s", 1) for i in range(4)]
    r = T.cohens_kappa_langid(_docs(spark, rows)).collect()[0]
    assert (r.po, r.pe, r.kappa) == (1.0, 1.0, 0.0)


def test_theil_u_deterministic_chain_is_one(spark):
    # a,b,a,b,a: every prev fully determines next → H(next|prev)=0
    r = W.theil_u_event_transitions(
        _events(spark, {1: ["a", "b", "a", "b", "a"]})
    ).collect()[0]
    assert r.n_transitions == 4
    assert r.h_cond == 0.0 and r.theil_u == 1.0
    assert r.h_next == pytest.approx(math.log(2), abs=1e-6)


def test_theil_u_known_mixed_value(spark):
    # a,a,b,b → pairs (a,a),(a,b),(b,b) each 1/3:
    # H(next) = -(1/3 ln 1/3 + 2/3 ln 2/3), H(next|prev) = 2/3 ln 2
    r = W.theil_u_event_transitions(
        _events(spark, {1: ["a", "a", "b", "b"]})
    ).collect()[0]
    h_next = -(1 / 3 * math.log(1 / 3) + 2 / 3 * math.log(2 / 3))
    h_cond = 2 / 3 * math.log(2)
    assert r.h_next == pytest.approx(h_next, abs=1e-6)
    assert r.h_cond == pytest.approx(h_cond, abs=1e-6)
    assert r.theil_u == pytest.approx((h_next - h_cond) / h_next, abs=1e-6)


def test_theil_u_single_next_type_guard(spark):
    # a,a,a: H(next) = 0 → U pinned to 0.0, not NULL
    r = W.theil_u_event_transitions(
        _events(spark, {1: ["a", "a", "a"]})
    ).collect()[0]
    assert (r.h_next, r.theil_u) == (0.0, 0.0)


def test_sign_bucket_purity_quadrants_and_ties(spark):
    rows = [
        # bucket 3 (+,+): pure label 9
        (0, [1.0, 1.0, 0.0], 9),
        (1, [2.0, 3.0, 0.0], 9),
        # bucket 0 (-,-): labels 7 and 3 tie → smaller id wins
        (2, [-1.0, -1.0, 0.0], 7),
        (3, [-2.0, -2.0, 0.0], 3),
        # bucket 2 (+,-): 2 of label 5, 1 of label 6
        (4, [1.0, -1.0, 0.0], 5),
        (5, [1.0, -2.0, 0.0], 5),
        (6, [2.0, -1.0, 0.0], 6),
        # zero counts as NON-positive → bucket 0, but the NULL label
        # is filtered out, leaving bucket 0 a genuine 1-1 tie
        (7, [0.0, 0.0, 0.0], None),
    ]
    out = {
        r.bucket: r
        for r in S.embedding_sign_bucket_purity(
            spark.createDataFrame(rows, _EMB_SCHEMA)
        ).collect()
    }
    assert set(out) == {0, 2, 3}
    assert (out[3].n_vecs, out[3].top_label, out[3].top_share) == (2, 9, 1.0)
    assert (out[0].n_vecs, out[0].n_labels, out[0].top_label) == (2, 2, 3)
    assert out[2].top_share == pytest.approx(2 / 3, abs=1e-6)


def test_wave26_ops_on_empty(spark):
    assert (
        S.embedding_sign_bucket_purity(
            spark.createDataFrame([], _EMB_SCHEMA)
        ).count()
        == 0
    )
    r = T.cohens_kappa_langid(_docs(spark, [])).collect()[0]
    assert r.n == 0 and r.p_a is None
    r = A.cramers_v_order_attrs(_orders(spark, [])).collect()[0]
    assert r.n is None and r.chi2 is None
    r = T.mutual_information_source_lang(_docs(spark, [])).collect()[0]
    assert r.n_docs is None and r.n_sources == 0
    r = W.theil_u_event_transitions(_events(spark, {})).collect()[0]
    assert r.n_transitions is None
