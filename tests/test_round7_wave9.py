"""Round-7 wave 29 (below the driver window): readability + pricing
economics — Flesch reading ease per source, per-brand log-log price
elasticity, and the discount-level quantity response — oracle matches
plus exact crafted-input ground truths (a perfectly log-linear demand
curve must regress to slope −2 / R² 1).
"""

from __future__ import annotations

import math

import pytest

from mapreduce_golang_spark.operators import analytics as A
from mapreduce_golang_spark.operators import text_analysis as T

WAVE29 = [
    "flesch_reading_ease_by_source",
    "brand_price_elasticity",
    "discount_quantity_response",
]

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double"
)
_LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_quantity double, "
    "l_extendedprice double, l_discount double"
)


@pytest.mark.parametrize("name", WAVE29)
def test_wave29_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_flesch_known_text(spark):
    # 6 words, 2 sentence runs, 6 single-vowel-run syllables:
    # wps = 3, spw = 1 → 206.835 − 1.015·3 − 84.6 = 119.19
    docs = spark.createDataFrame(
        [(0, "The cat sat. The dog ran!", "en", "s", 1)], _DOC_SCHEMA
    )
    r = T.flesch_reading_ease_by_source(docs).collect()[0]
    assert (r.n_docs, r.words_per_sentence, r.syllables_per_word) == (1, 3.0, 1.0)
    assert r.flesch == pytest.approx(206.835 - 1.015 * 3 - 84.6, abs=1e-6)


def test_flesch_drops_wordless_docs(spark):
    docs = spark.createDataFrame(
        [(0, "123 456 !!!", "xx", "nums", 1), (1, "one two.", "en", "txt", 1)],
        _DOC_SCHEMA,
    )
    out = T.flesch_reading_ease_by_source(docs).collect()
    assert [r.source for r in out] == ["txt"]


def test_elasticity_perfect_log_linear_demand(spark):
    # qty = exp(5 − 2·ln price) → slope −2, intercept 5, R² 1
    part = spark.createDataFrame(
        [(k, f"p{k}", "B#1", "t", 1, math.exp(k)) for k in (1, 2, 3)]
        + [(9, "p9", "LONE", "t", 1, 4.0)],
        _PART_SCHEMA,
    )
    li = spark.createDataFrame(
        [(k, k, math.exp(5 - 2 * k), 1.0, 0.0) for k in (1, 2, 3)]
        + [(9, 9, 2.0, 1.0, 0.0)],
        _LI_SCHEMA,
    )
    out = A.brand_price_elasticity(li, part).collect()
    # the single-part brand has zero price variance → dropped
    assert [r.p_brand for r in out] == ["B#1"]
    r = out[0]
    assert r.n_parts == 3
    # the operator quantizes log points to 6 dp (cross-engine ln()
    # determinism), so the recovered coefficients carry that noise
    assert r.elasticity == pytest.approx(-2.0, abs=5e-6)
    assert r.intercept == pytest.approx(5.0, abs=1e-5)
    assert r.r2 == pytest.approx(1.0, abs=1e-5)


def test_discount_response_levels(spark):
    li = spark.createDataFrame(
        [
            (1, 1, 1.0, 2.0, 0.0),
            (2, 1, 3.0, 6.0, 0.0),
            (3, 1, 10.0, 20.0, 0.1),
            (4, 1, 0.0, 9.0, 0.2),  # zero-qty row filtered (0/0 guard)
        ],
        _LI_SCHEMA,
    )
    out = {r.discount_level: r for r in A.discount_quantity_response(li).collect()}
    assert set(out) == {0.0, 0.1}
    assert (out[0.0].n_items, out[0.0].avg_qty, out[0.0].avg_unit_price) == (
        2, 2.0, 2.0,
    )
    assert out[0.0].share_of_rows == pytest.approx(2 / 3, abs=1e-6)
    assert (out[0.1].n_items, out[0.1].avg_qty) == (1, 10.0)


def test_wave29_ops_on_empty(spark):
    docs = spark.createDataFrame([], _DOC_SCHEMA)
    assert T.flesch_reading_ease_by_source(docs).count() == 0
    li = spark.createDataFrame([], _LI_SCHEMA)
    part = spark.createDataFrame([], _PART_SCHEMA)
    assert A.brand_price_elasticity(li, part).count() == 0
    assert A.discount_quantity_response(li).count() == 0
