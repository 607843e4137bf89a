"""Round-6 wave 12 (below the driver window): OHLC bars, the UNPIVOT
melt surface, blocking-key entity resolution over part names, and
per-source n-gram diversity — oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "hourly_value_ohlc",
        "monthly_metric_unpivot",
        "part_name_near_matches",
        "ngram_diversity_by_source",
    ],
)
def test_wave12_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_ohlc_open_close_pick_endpoints(spark):
    from mapreduce_golang_spark.operators.windows import hourly_value_ohlc

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # one hour, one type: values arrive 5.0 → 9.0 → 1.0 → 7.0
        (1, t0 + dt.timedelta(minutes=1), 100, "view", 5.0, "{}"),
        (2, t0 + dt.timedelta(minutes=2), 100, "view", 9.0, "{}"),
        (3, t0 + dt.timedelta(minutes=3), 100, "view", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=4), 100, "view", 7.0, "{}"),
        # same-ts tie broken by event_id: 6 wins close over 5
        (5, t0 + dt.timedelta(hours=1), 100, "buy", 2.0, "{}"),
        (6, t0 + dt.timedelta(hours=1), 100, "buy", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.event_type: r for r in hourly_value_ohlc(df).collect()}
    v = out["view"]
    assert (v.open, v.high, v.low, v.close) == (5.0, 9.0, 1.0, 7.0)
    assert v.n_events == 4 and v.total_value == 22.0
    b = out["buy"]
    assert (b.open, b.close) == (2.0, 3.0)


def test_unpivot_is_long_format(spark):
    from mapreduce_golang_spark.operators.analytics import monthly_metric_unpivot

    rows = [
        (1, 10, "O", 100.0, dt.datetime(2024, 3, 5), "1-URGENT"),
        (2, 11, "O", 50.0, dt.datetime(2024, 3, 9), "1-URGENT"),
        (3, 10, "F", 25.0, dt.datetime(2024, 4, 1), "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    out = monthly_metric_unpivot(df).collect()
    assert len(out) == 2 * 3  # 2 months x 3 metrics
    mar = {r.metric: r.value for r in out if r.month.month == 3}
    assert mar == {"revenue": 150.0, "n_orders": 2.0, "n_customers": 2.0}


def test_name_matching_blocks_and_verifies(spark):
    from mapreduce_golang_spark.operators.dedup import part_name_near_matches

    rows = [
        (1, "red widget", "B", "T", 1, 1.0),
        (2, "red widget", "B", "T", 1, 1.0),  # exact dup name collapses
        (3, "blue widget", "B", "T", 1, 1.0),  # same block, dist 3
        (4, "blue gizmo", "B", "T", 1, 1.0),  # different block: never compared
        (5, "crimson widget", "B", "T", 1, 1.0),  # same block, dist > 4 from both
    ]
    df = spark.createDataFrame(
        rows, ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]
    )
    out = part_name_near_matches(df).collect()
    pairs = {(r.name_a, r.name_b): r for r in out}
    assert set(pairs) == {("blue widget", "red widget")}
    m = pairs[("blue widget", "red widget")]
    assert m.edit_dist == 4 and m.n_parts_a == 1 and m.n_parts_b == 2


def test_diversity_ttr_bounds(spark):
    from mapreduce_golang_spark.operators.text_analysis import ngram_diversity_by_source

    rows = [
        (1, "alpha beta gamma delta", "en", "varied", 22),
        (2, "spam spam spam spam spam", "en", "loop", 24),
        (3, "xy", "en", "short", 2),  # 1 token: no trigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r.source: r for r in ngram_diversity_by_source(df).collect()}
    assert out["varied"].ttr1 == 1.0 and out["varied"].ttr3 == 1.0
    assert out["loop"].n_tokens == 5 and out["loop"].n_unique_tokens == 1
    assert out["loop"].ttr3 == pytest.approx(1 / 3)  # 3 identical trigrams
    assert out["short"].n_trigrams == 0 and out["short"].ttr3 == 0.0
