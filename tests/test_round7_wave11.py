"""Round-7 wave 31 (below the driver window): TF-IDF cosine pair join
(the sparse, embedding-free similarity path), the distribution-free
order-statistic median CI, and the partition-layout advisory — oracle
matches plus crafted ground truths (identical docs must hit cosine 1,
the posting cap must drop ubiquitous terms, CI ranks and byte math are
checked by hand).
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from mapreduce_golang_spark.operators import analytics as A
from mapreduce_golang_spark.operators import text_analysis as T

WAVE31 = [
    "tfidf_cosine_pairs",
    "median_order_stat_ci",
    "partition_layout_advisory",
]

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_T0 = dt.datetime(2024, 1, 1)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(rows)], _DOC_SCHEMA
    )


@pytest.mark.parametrize("name", WAVE31)
def test_wave31_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_tfidf_cosine_identical_docs_hit_one(spark):
    out = T.tfidf_cosine_pairs(
        _docs(spark, ["aa bb", "aa bb", "zz yy ww"]), threshold=0.3
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(0, 1)]
    assert out[0].cosine == 1.0 and out[0].n_common_terms == 2


def test_tfidf_cosine_weighting_downranks_common_terms(spark):
    # docs 0,1 share only the ubiquitous term; docs 2,3 share a rare
    # one — idf must score the rare pair far above the common pair
    rows = [
        "common alpha",
        "common beta",
        "common rare gamma",
        "common rare delta",
    ]
    out = {
        (r.doc_a, r.doc_b): r.cosine
        for r in T.tfidf_cosine_pairs(_docs(spark, rows), threshold=0.0).collect()
    }
    assert out[(2, 3)] > out[(0, 1)]


def test_tfidf_cosine_posting_cap_drops_hot_terms(spark):
    # 'common' sits in all 4 docs; with max_doc_freq=2 it vanishes
    # from every vector, so only the rare-term pair survives
    rows = ["common alpha", "common beta", "common rare x", "common rare y"]
    out = T.tfidf_cosine_pairs(
        _docs(spark, rows), threshold=0.01, max_doc_freq=2
    ).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(2, 3)]


def test_median_ci_known_ranks(spark):
    # n=25, values 1..25: lo = floor((25−9.8)/2) = 7,
    # hi = ceil((25+9.8)/2)+1 = 19
    rows = [(i, _T0, 1, "a", float(i + 1), None) for i in range(25)]
    r = A.median_order_stat_ci(
        spark.createDataFrame(rows, _EV_SCHEMA)
    ).collect()[0]
    assert (r.n, r.median, r.ci_lo, r.ci_hi) == (25, 13.0, 7.0, 19.0)


def test_median_ci_tiny_group_clamps(spark):
    rows = [(0, _T0, 1, "a", 5.0, None), (1, _T0, 1, "a", 7.0, None)]
    r = A.median_order_stat_ci(
        spark.createDataFrame(rows, _EV_SCHEMA)
    ).collect()[0]
    # ranks clamp to [1, n] → the CI degenerates to the sample range
    assert (r.ci_lo, r.ci_hi) == (5.0, 7.0)
    assert r.median == 6.0


def test_layout_advisory_verdicts_and_bytes(spark):
    # 3 event types (< 4 → TOO_COARSE); 5 distinct days of tiny rows
    # (→ TOO_GRANULAR); byte formula checked by hand on one row shape:
    # 32 fixed + (len('aa')+4) + (NULL props → 0+4) = 42
    rows = [
        (i, _T0 + dt.timedelta(days=i % 5), 1, "aa", 1.0, None)
        for i in range(15)
    ]
    rows += [(100 + i, _T0, 1, "bbb", 1.0, None) for i in range(2)]
    rows += [(200, _T0, 1, "c", 1.0, None)]
    out = {r.candidate: r for r in
           A.partition_layout_advisory(
               spark.createDataFrame(rows, _EV_SCHEMA)
           ).collect()}
    et = out["event_type"]
    assert (et.n_values, et.verdict) == (3, "TOO_COARSE")
    ed = out["event_date"]
    assert (ed.n_values, ed.verdict) == (5, "TOO_GRANULAR")
    # total bytes: 15·42 + 2·(32+3+4+4) + (32+1+4+4) = 630+86+41 = 757
    total = 15 * 42 + 2 * 43 + 41
    assert ed.est_mb_per_value == round(total / 5 / 1024 / 1024, 6)
    assert ed.files_per_value == 1


def test_wave31_ops_on_empty(spark):
    assert T.tfidf_cosine_pairs(_docs(spark, [])).count() == 0
    ev = spark.createDataFrame([], _EV_SCHEMA)
    assert A.median_order_stat_ci(ev).count() == 0
    assert A.partition_layout_advisory(ev).count() == 0
