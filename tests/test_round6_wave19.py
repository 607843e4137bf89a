"""Round-6 wave 19 (below the driver window): KWIC concordance,
template-opener detection, ABC classification, and the type-correlation
matrix — oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "kwic_snippets",
        "template_opening_report",
        "part_abc_classification",
        "type_hourly_correlation",
    ],
)
def test_wave19_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_kwic_window_and_position(spark):
    from mapreduce_golang_spark.operators.text_analysis import kwic_snippets

    docs = spark.createDataFrame(
        [
            (1, "x" * 100 + " spark lives here " + "y" * 100, "en", "s", 220),
            (2, "spark at the very start", "en", "s", 23),
            (3, "no match at all", "en", "s", 15),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r for r in kwic_snippets(docs, term="spark", radius=10).collect()}
    assert set(out) == {1, 2}
    assert out[1].pos == 102  # 100 x's + 1 space, 1-based
    # start = pos-10 = 92 → 9 trailing x's then the hit, 25 chars total
    assert out[1].snippet == "x" * 9 + " spark lives her"
    assert out[2].pos == 1 and out[2].snippet.startswith("spark at")


def test_template_openers_found(spark):
    from mapreduce_golang_spark.operators.text_analysis import template_opening_report

    rows = [(i, "dear customer your order shipped", "en", f"s{i % 2}", 30) for i in range(4)]
    rows.append((10, "totally different text here", "en", "s0", 27))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = template_opening_report(df, n_tokens=2, min_docs=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r.opening == "dear customer" and r.n_docs == 4
    assert r.n_sources == 2 and r.min_doc_id == 0


def test_abc_cuts_partition_revenue(spark):
    from mapreduce_golang_spark.operators.analytics import part_abc_classification

    li_cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ]
    # revenues: 70, 20, 6, 4 → cum shares 0.70 (A), 0.90 (B), 0.96 (C), 1.0 (C)
    rows = [
        (1, 100, 1, 1, 1.0, 70.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (2, 200, 1, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (3, 300, 1, 1, 1.0, 6.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
        (4, 400, 1, 1, 1.0, 4.0, 0.0, 0.0, "N", "O", dt.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, li_cols)
    out = {r.abc_class: r for r in part_abc_classification(df).collect()}
    assert out["A"].n_parts == 1 and out["A"].total_revenue == 70.0
    assert out["B"].n_parts == 1 and out["B"].total_revenue == 20.0
    assert out["C"].n_parts == 2 and out["C"].total_revenue == 10.0
    assert sum(r.revenue_share for r in out.values()) == pytest.approx(1.0, abs=1e-5)


def test_correlation_detects_comovement(spark):
    from mapreduce_golang_spark.operators.analytics import type_hourly_correlation

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(12):
        n = 2 + (h % 4)
        for _ in range(n):  # clicks and views move together
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "click", 0.0, "{}")); eid += 1
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "view", 0.0, "{}")); eid += 1
        for _ in range(7 - n):  # errors move opposite
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "error", 0.0, "{}")); eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {(r.type_a, r.type_b): r.pearson_r for r in type_hourly_correlation(df).collect()}
    assert out[("click", "view")] == pytest.approx(1.0, abs=1e-6)
    assert out[("click", "error")] == pytest.approx(-1.0, abs=1e-6)
