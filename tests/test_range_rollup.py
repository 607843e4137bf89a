from __future__ import annotations

import __spark_entry__ as entrymod
import pytest


@pytest.mark.parametrize("name", ["events_range_join", "multi_granularity_rollup"])
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_range_join_buckets_are_lossless(spark):
    # events exactly at, just inside, and just outside the window edge;
    # including one in the preceding bucket (crosses the bucket seam).
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 10, 7, 0)
    rows = [
        (1, base, 7, "error", 0.0, "{}"),
        (2, base - dt.timedelta(minutes=4, seconds=59), 7, "click", 0.0, "{}"),  # inside, prior bucket
        (3, base - dt.timedelta(minutes=5), 7, "view", 0.0, "{}"),               # exactly -5min → closed bound, included
        (4, base - dt.timedelta(seconds=1), 7, "view", 0.0, "{}"),               # inside, same bucket
        (5, base, 7, "click", 0.0, "{}"),                                        # same instant → excluded
        (6, base - dt.timedelta(minutes=2), 99, "click", 0.0, "{}"),             # other user
        (8, base - dt.timedelta(minutes=5, seconds=1), 7, "view", 0.0, "{}"),    # outside → excluded
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    from mapreduce_golang_spark.operators.windows import events_near_errors_range_join

    out = {r.error_event_id: r.n_preceding for r in events_near_errors_range_join(df).collect()}
    assert out == {1: 3}


def test_rollup_grains_are_consistent(spark, sf_dir):
    rows = entrymod.queries()["multi_granularity_rollup"](spark, sf_dir).collect()
    by_grain = {}
    for r in rows:
        by_grain.setdefault(r.grain, 0)
        by_grain[r.grain] += r.n_events
    # every grain partitions the same event set
    assert by_grain["1h"] == by_grain["6h"] == by_grain["1d"]
