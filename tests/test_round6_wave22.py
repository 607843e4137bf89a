"""Round-6 wave 22 (below the driver window): bigram-LM cross-entropy,
l-diversity audit, Mann-Whitney U, and ordered journey signatures —
oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from mapreduce_golang_spark.operators import analytics, windows as W
from mapreduce_golang_spark.operators import text_analysis as T


@pytest.mark.parametrize(
    "name",
    [
        "source_bigram_cross_entropy",
        "l_diversity_audit",
        "mann_whitney_u",
        "user_journey_signatures",
    ],
)
def test_wave22_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_cross_entropy_diagonal_is_row_minimum(spark, sf_dir):
    # a source's own LM must be least surprised by it
    from mapreduce_golang_spark.sources.tables import load_table

    out = T.source_bigram_cross_entropy(
        load_table(spark, sf_dir, "documents")
    ).collect()
    by_eval = {}
    for r in out:
        by_eval.setdefault(r.eval_source, {})[r.lm_source] = r.cross_entropy
    for ev, row in by_eval.items():
        assert row[ev] == min(row.values()), ev


def test_cross_entropy_crafted(spark):
    # identical corpora → symmetric matrix with equal diagonal;
    # hand-check one cell: single doc "a b a b" per source
    docs = spark.createDataFrame(
        [(0, "a b a b", "en", "s1", 7), (1, "a b a b", "en", "s2", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {(r.lm_source, r.eval_source): r.cross_entropy
           for r in T.source_bigram_cross_entropy(docs).collect()}
    # bigrams per doc: (a,b)x2, (b,a)x1; vocab=2, c(a)=2, c(b)=1
    # P(b|a)=(2+1)/(2+2)=0.75 ; P(a|b)=(1+1)/(1+2)=2/3
    expected = -(2 * math.log(0.75) + 1 * math.log(2 / 3)) / 3
    assert out[("s1", "s1")] == pytest.approx(expected, abs=1e-6)
    assert out[("s1", "s2")] == out[("s2", "s1")] == out[("s2", "s2")]


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_mwu_known_value(spark):
    # purchase values all above click values → U1 = n1*n2 (maximal)
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "purchase", 10.0 + i) for i in range(3)] + [
        (10 + i, t0, 2, "click", 1.0 + i) for i in range(4)
    ]
    r = analytics.mann_whitney_u(_ev(spark, rows)).collect()[0]
    assert (r.n_a, r.n_b) == (3, 4)
    assert r.u_stat == pytest.approx(12.0)
    assert r.z_score > 0


def test_mwu_ties_use_midranks(spark):
    # all values identical → R1 = n1 * (n+1)/2, U1 = n1*n2/2 exactly
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "purchase", 5.0) for i in range(2)] + [
        (10 + i, t0, 2, "click", 5.0) for i in range(2)
    ]
    r = analytics.mann_whitney_u(_ev(spark, rows)).collect()[0]
    assert r.u_stat == pytest.approx(2.0)  # n1*n2/2 = 2
    assert r.z_score is None  # zero variance → undefined, not an abort


def test_journey_signature_order_and_prefix(spark):
    # out-of-registration-order inserts still sort by (ts, event_id);
    # prefix cap truncates at prefix_len
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (2, t0 + dt.timedelta(minutes=2), 1, "purchase", 1.0),
        (1, t0 + dt.timedelta(minutes=1), 1, "view", 1.0),
        (0, t0, 1, "signup", 1.0),
    ]
    out = W.user_journey_signatures(_ev(spark, rows), prefix_len=2).collect()
    assert out[0].signature == "signup>view"


def test_l_diversity_flags_homogeneous_class(spark):
    cust = spark.createDataFrame(
        [(1, "SEG", 1, 500.0), (2, "SEG", 1, 700.0)],
        "c_custkey long, c_mktsegment string, c_nationkey long, c_acctbal double",
    )
    orders = spark.createDataFrame(
        [(10, 1, "1-URGENT"), (11, 2, "1-URGENT"), (12, 2, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    out = analytics.l_diversity_audit(cust, orders, l=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_customers, r.n_orders, r.n_priorities) == (2, 3, 1)
