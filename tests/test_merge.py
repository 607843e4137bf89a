from __future__ import annotations

from pyspark.sql import functions as F


def test_merge_upsert(spark):
    from mapreduce_golang_spark.operators.merge import merge_upsert

    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"])
    updates = spark.createDataFrame([(2, "B2"), (4, "d")], ["id", "v"])
    merged = {r.id: r.v for r in merge_upsert(target, updates, "id").collect()}
    assert merged == {1: "a", 2: "B2", 3: "c", 4: "d"}


def test_merge_upsert_plan_ships_only_keys(spark):
    from mapreduce_golang_spark.operators.merge import merge_upsert
    from mapreduce_golang_spark.sources.tables import load_table

    target = load_table(spark, "/root/testdata/sf0.001", "orders")
    updates = target.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 0
    )
    out = merge_upsert(target, updates, "o_orderkey")
    assert out.count() == target.count()
    zeroed = out.where(F.col("o_totalprice") == 0).count()
    assert zeroed == updates.count()


def test_scd2_apply(spark):
    import datetime as dt

    from mapreduce_golang_spark.operators.merge import scd2_apply

    OPEN = "9999-12-31 00:00:00"
    current = spark.createDataFrame(
        [
            (1, "v1", "2024-01-01 00:00:00", OPEN),
            (2, "w1", "2024-01-01 00:00:00", OPEN),
            (2, "w0", "2023-01-01 00:00:00", "2024-01-01 00:00:00"),
        ],
        ["id", "val", "valid_from", "valid_to"],
    )
    updates = spark.createDataFrame(
        [(2, "w2", dt.datetime(2024, 6, 1))], ["id", "val", "ts"]
    ).select("id", "val", F.col("ts"))
    out = scd2_apply(current, updates.withColumnRenamed("ts", "event_ts"), "id", "event_ts")
    rows = sorted((r.id, r.val, r.valid_from, r.valid_to) for r in out.collect())
    assert (1, "v1", "2024-01-01 00:00:00", OPEN) in rows          # untouched open row
    assert (2, "w0", "2023-01-01 00:00:00", "2024-01-01 00:00:00") in rows  # old closed row kept
    assert (2, "w1", "2024-01-01 00:00:00", "2024-06-01 00:00:00") in rows  # closed by update
    assert (2, "w2", "2024-06-01 00:00:00", OPEN) in rows          # new open version
    assert len(rows) == 4


def test_scd2_and_salted_queries_match_oracle(query_check):
    for name in ("scd2_customers", "salted_event_counts"):
        assert query_check(name) > 0
