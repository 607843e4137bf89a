"""Round-7 wave 25 (below the driver window): PPJoin-style prefix-
filter similarity join, inter-arrival (Poisson-ness) stats, hourly
Fano burstiness, and adjacent-decile shingle drift — oracle matches,
a prefix-filter-vs-exact-all-pairs equivalence proof, and crafted
ground-truth checks.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from mapreduce_golang_spark.operators import dedup as D
from mapreduce_golang_spark.operators import text_analysis as T
from mapreduce_golang_spark.operators import windows as W

WAVE25 = [
    "prefix_filter_jaccard_pairs",
    "interarrival_stats",
    "hourly_fano_burstiness",
    "decile_shingle_drift",
]

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _ev(rows, spark):
    return spark.createDataFrame(rows, _EV_SCHEMA)


def _docs(rows, spark):
    return spark.createDataFrame(rows, _DOC_SCHEMA)


@pytest.mark.parametrize("name", WAVE25)
def test_wave25_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_prefix_filter_equals_exact_all_pairs(spark, sf_dir):
    # the losslessness claim: prefix filtering at tau=0.8 must return
    # EXACTLY the pairs the uncapped all-pairs join finds at >= 0.8
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    via_prefix = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.prefix_filter_jaccard_pairs(docs).collect()
    }
    via_exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.8, max_doc_freq=None
        ).collect()
    }
    assert via_prefix == via_exact and len(via_prefix) > 0


def test_prefix_filter_finds_boilerplate_only_pair(spark):
    # two docs identical except one trailing word (J >= 0.8), plus many
    # docs sharing the SAME opening boilerplate: a doc-freq posting cap
    # at tiny values could drop the shared shingles, but the prefix
    # (rarest shingles first) keeps the discriminative tail
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, base + " lambda", "en", "s", 1), (1, base + " mu", "en", "s", 1)]
    # letter suffixes — digits would be stripped by the letters-only
    # tokenizer, collapsing these into identical docs
    rows += [(i, "alpha beta gamma unrelated" + chr(ord("a") + i) * 3, "en", "s", 1)
             for i in range(2, 8)]
    out = D.prefix_filter_jaccard_pairs(_docs(rows, spark)).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(0, 1)]
    # 9 shingles each, 8 shared: J = 8 / (9 + 9 - 8) = 0.8 exactly —
    # the boundary case must be INCLUDED (>= tau, integer-exact)
    assert out[0].jaccard == 0.8


def test_interarrival_known_gaps(spark):
    t0 = dt.datetime(2024, 1, 1)
    times = [0, 10, 20, 40]
    rows = [(i, t0 + dt.timedelta(seconds=s), 1, "click", 1.0, None)
            for i, s in enumerate(times)]
    r = W.interarrival_stats(_ev(rows, spark)).collect()[0]
    assert r.n_gaps == 3
    assert r.mean_gap_s == pytest.approx(40 / 3, abs=1e-6)
    assert (r.p50_gap_s, r.max_gap_s) == (10.0, 20.0)
    # gaps 10,10,20: cv = sqrt(200/9)/(40/3) = sqrt(200)/40
    assert r.cv_gap == pytest.approx(math.sqrt(200) / 40, abs=1e-6)


def test_interarrival_constant_gaps_cv_zero(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(seconds=5 * i), 1, "view", 1.0, None)
            for i in range(6)]
    r = W.interarrival_stats(_ev(rows, spark)).collect()[0]
    assert (r.n_gaps, r.mean_gap_s, r.cv_gap) == (5, 5.0, 0.0)


def test_fano_constant_series_zero_and_dense_grid(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # type A: exactly 2 events in each of hours 0,1,2 → fano 0
    for h in range(3):
        for _ in range(2):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "a", 1.0, None))
            eid += 1
    # type B: 1 event in hour 0 only → dense counts [1,0,0]:
    # mean 1/3, var_pop 2/9, fano 2/3 (sparse series would say 0)
    rows.append((eid, t0, 1, "b", 1.0, None))
    out = {r.event_type: r for r in W.hourly_fano_burstiness(_ev(rows, spark)).collect()}
    assert (out["a"].n_hours, out["a"].mean_cnt, out["a"].fano) == (3, 2.0, 0.0)
    assert out["b"].n_hours == 3
    assert out["b"].mean_cnt == pytest.approx(1 / 3, abs=1e-6)
    assert out["b"].fano == pytest.approx(2 / 3, abs=1e-6)


def test_decile_drift_identical_and_disjoint(spark):
    # doc_ids 0..9 land one per decile; all docs identical except doc 5
    same = "aa bb cc dd ee"  # 3 shingles
    rows = [(i, same if i != 5 else "xx yy zz ww vv", "en", "s", 1)
            for i in range(10)]
    out = {r.decile_from: r for r in
           T.decile_shingle_drift(_docs(rows, spark)).collect()}
    assert sorted(out) == list(range(9))
    for d, r in out.items():
        assert (r.n_from, r.n_to) == (3, 3)
        if d in (4, 5):  # adjacencies touching the odd doc out
            assert (r.n_common, r.jaccard) == (0, 0.0)
        else:
            assert (r.n_common, r.jaccard, r.containment_fwd) == (3, 1.0, 1.0)


def test_wave25_ops_on_empty(spark):
    empty_ev = spark.createDataFrame([], _EV_SCHEMA)
    empty_docs = spark.createDataFrame([], _DOC_SCHEMA)
    assert D.prefix_filter_jaccard_pairs(empty_docs).count() == 0
    assert W.interarrival_stats(empty_ev).count() == 0
    assert W.hourly_fano_burstiness(empty_ev).count() == 0
    assert T.decile_shingle_drift(empty_docs).count() == 0
