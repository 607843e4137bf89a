"""Round-6 wave 20 (below the driver window): try_* error-safe math,
posexplode ordinality, MapType algebra, and DataFrame.transpose —
oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import datetime as dt

import pytest

import __spark_entry__ as entrymod


@pytest.mark.parametrize(
    "name",
    [
        "try_arithmetic_functions",
        "posexplode_tokens",
        "map_functions_pack",
        "event_metric_transpose",
    ],
)
def test_wave20_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_try_functions_null_not_raise(spark, sf_dir):
    # the point of try_*: ANSI mode would RAISE on these rows. Overflow
    # fires only on the ~0.1% dirty slice (l_orderkey % 997 == 0) so the
    # exception path stays off the hot loop (round-6 verdict: 24 s when
    # every row overflowed); clean rows pass values through untouched.
    out = entrymod.queries()["try_arithmetic_functions"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    dirty = [r for r in rows if r.l_orderkey % 997 == 0 and r.l_orderkey > 1]
    assert dirty and all(r.add_overflow is None and r.mul_overflow is None for r in dirty)
    clean = [r for r in rows if r.l_orderkey % 997 != 0]
    assert clean and all(
        r.add_overflow == float(r.l_orderkey) and r.mul_overflow == float(r.l_orderkey)
        for r in clean[:1000]
    )


def test_posexplode_positions_are_zero_based(spark, sf_dir):
    out = entrymod.queries()["posexplode_tokens"](spark, sf_dir)
    first = out.where("doc_id = 0").orderBy("pos").collect()
    assert first and first[0].pos == 0
    assert [r.pos for r in first] == list(range(len(first)))


def test_map_pack_counts(spark, sf_dir):
    from mapreduce_golang_spark.sources.tables import load_table

    out = {r.user_id: r for r in entrymod.queries()["map_functions_pack"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    some_user = ev.select("user_id").first().user_id
    expected_types = ev.where(f"user_id = {some_user}").select("event_type").distinct().count()
    assert out[some_user].n_types == expected_types


def test_transpose_shape(spark, sf_dir):
    out = entrymod.queries()["event_metric_transpose"](spark, sf_dir)
    rows = out.collect()
    assert {r.key for r in rows} == {"n_events", "total_value", "avg_value"}
    assert set(out.columns) == {"key", "click", "error", "purchase", "signup", "view"}
