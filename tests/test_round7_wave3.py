"""Round-7 wave 24 (below the driver window): the data-quality pack
(Deequ-style column profile, constraint/referential audit), embedding
geometry (closed-form mean pairwise cosine, norm deciles), and the
Heaps'-law vocabulary-growth fit — oracle matches plus crafted-input
ground-truth checks.
"""

from __future__ import annotations

import math

import pytest

from mapreduce_golang_spark.operators import analytics as A
from mapreduce_golang_spark.operators import similarity as S
from mapreduce_golang_spark.operators import text_analysis as T

WAVE24 = [
    "lineitem_column_profile",
    "orders_constraint_audit",
    "embedding_isotropy_report",
    "embedding_norm_deciles",
    "heaps_law_fit",
]

_LI_SCHEMA = (
    "l_orderkey long, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double"
)
_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.mark.parametrize("name", WAVE24)
def test_wave24_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_column_profile_counts_nulls_and_distincts(spark):
    rows = [
        (1, 1.0, 10.0, 0.1, 0.02),
        (2, 2.0, 10.0, 0.1, None),
        (3, 2.0, 30.0, None, 0.04),
        (4, None, 40.0, 0.3, 0.04),
    ]
    li = spark.createDataFrame(rows, _LI_SCHEMA)
    out = {r.col_name: r for r in A.lineitem_column_profile(li).collect()}
    assert set(out) == {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    q = out["l_quantity"]
    assert (q.n_rows, q.n_nulls, q.n_distinct) == (4, 1, 2)
    assert (q.min_val, q.max_val) == (1.0, 2.0)
    assert q.mean_val == pytest.approx(5.0 / 3, abs=1e-6)
    d = out["l_discount"]
    assert (d.n_nulls, d.n_distinct, d.mean_val) == (1, 2, pytest.approx(0.5 / 3, abs=1e-6))


def test_column_profile_all_null_column_mean_is_null(spark):
    li = spark.createDataFrame([(1, None, 5.0, 0.1, 0.1)], _LI_SCHEMA)
    q = {r.col_name: r for r in A.lineitem_column_profile(li).collect()}["l_quantity"]
    assert q.n_nulls == 1 and q.n_distinct == 0
    assert q.mean_val is None and q.min_val is None


def _orders(spark, rows):
    return spark.createDataFrame(rows, _ORD_SCHEMA)


def _cust(spark, keys):
    return spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "SEG") for k in keys],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )


def test_constraint_audit_flags_each_rule(spark):
    import datetime as dt

    ok_date = dt.datetime(1997, 6, 1)
    rows = [
        (1, 10, "O", 100.0, ok_date, "1-URGENT"),        # clean
        (2, 10, "X", 100.0, ok_date, "1-URGENT"),        # bad status
        (3, 10, "F", -5.0, ok_date, "1-URGENT"),         # bad price
        (4, 10, "P", 100.0, dt.datetime(1990, 1, 1), "1-URGENT"),  # bad date
        (5, 99, "O", 100.0, ok_date, "1-URGENT"),        # dangling FK
    ]
    out = {
        r.rule: r
        for r in A.orders_constraint_audit(
            _orders(spark, rows), _cust(spark, [10])
        ).collect()
    }
    assert all(r.n_checked == 5 for r in out.values())
    assert out["positive_total"].n_violations == 1
    assert out["status_domain"].n_violations == 1
    assert out["date_range"].n_violations == 1
    assert out["customer_fk"].n_violations == 1
    assert out["customer_fk"].violation_rate == 0.2


def test_isotropy_orthonormal_is_zero_identical_is_one(spark):
    # label 0: 4 orthonormal basis vectors → mean pairwise cosine 0
    # label 1: 3 identical vectors → mean pairwise cosine 1
    # label 2: one zero vector (excluded) + two opposite vectors → -1
    basis = [
        (i, [1.0 if j == i else 0.0 for j in range(4)], 0) for i in range(4)
    ]
    same = [(10 + i, [3.0, 4.0, 0.0, 0.0], 1) for i in range(3)]
    opp = [
        (20, [0.0, 0.0, 0.0, 0.0], 2),
        (21, [1.0, 1.0, 0.0, 0.0], 2),
        (22, [-1.0, -1.0, 0.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(basis + same + opp, _EMB_SCHEMA)
    out = {r.label: r for r in S.embedding_isotropy_report(emb).collect()}
    assert (out[0].n_vectors, out[0].dim, out[0].avg_pairwise_cosine) == (4, 4, 0.0)
    assert out[0].avg_norm == 1.0
    assert (out[1].n_vectors, out[1].avg_norm, out[1].avg_pairwise_cosine) == (3, 5.0, 1.0)
    assert (out[2].n_vectors, out[2].avg_pairwise_cosine) == (2, -1.0)


def test_isotropy_singleton_label_cosine_null(spark):
    emb = spark.createDataFrame([(0, [1.0, 2.0], 7)], _EMB_SCHEMA)
    r = S.embedding_isotropy_report(emb).collect()[0]
    assert r.n_vectors == 1 and r.avg_pairwise_cosine is None
    assert r.avg_norm == pytest.approx(math.sqrt(5.0), abs=1e-6)


def test_norm_deciles_partition_and_extrema(spark):
    # 20 axis vectors with norms 1..20 → 10 deciles of 2, extrema exact
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0], 0) for i in range(1, 21)], _EMB_SCHEMA
    )
    out = {r.decile: r for r in S.embedding_norm_deciles(emb).collect()}
    assert sorted(out) == list(range(1, 11))
    assert all(r.n_vectors == 2 for r in out.values())
    assert (out[1].min_norm, out[1].max_norm, out[1].avg_norm) == (1.0, 2.0, 1.5)
    assert (out[10].min_norm, out[10].max_norm) == (19.0, 20.0)


def test_heaps_two_point_exact_fit_and_degenerate_drop(spark):
    # source A: cum curve (2,2) → (6,4): exact 2-point fit,
    # beta = ln2/ln3, r2 = 1. source B: constant vocabulary → dropped.
    docs = [
        (1, "aa bb", "en", "A", 5),
        (2, "aa bb cc dd", "en", "A", 11),
        (3, "xx xx", "en", "B", 5),
        (4, "xx xx", "en", "B", 5),
    ]
    out = T.heaps_law_fit(spark.createDataFrame(docs, _DOC_SCHEMA)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.source == "A" and r.n_points == 2 and r.r2 == 1.0
    assert r.beta == pytest.approx(math.log(2) / math.log(3), abs=1e-6)
    # ln V = ln_k + beta ln n at the first point: ln 2 = ln_k + beta ln 2
    assert r.ln_k == pytest.approx(math.log(2) * (1 - math.log(2) / math.log(3)), abs=1e-6)


def test_wave24_ops_on_empty(spark):
    li = spark.createDataFrame([], _LI_SCHEMA)
    prof = A.lineitem_column_profile(li).collect()
    assert len(prof) == 4 and all(r.n_rows == 0 and r.mean_val is None for r in prof)
    audit = A.orders_constraint_audit(
        spark.createDataFrame([], _ORD_SCHEMA), _cust(spark, [])
    ).collect()
    assert len(audit) == 4
    assert all(r.n_checked == 0 and r.violation_rate is None for r in audit)
    emb = spark.createDataFrame([], _EMB_SCHEMA)
    assert S.embedding_isotropy_report(emb).count() == 0
    assert S.embedding_norm_deciles(emb).count() == 0
    assert T.heaps_law_fit(spark.createDataFrame([], _DOC_SCHEMA)).count() == 0
