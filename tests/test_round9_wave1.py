"""Round-9 wave 36: the APPLIED salted join (operators/skew.py::
salted_join) — the explicit defense for the skew case AQE's byte-based
skew detection misses (PERF.md, experiment D), plus its driver-
contract registration (salted_segment_value)."""

from __future__ import annotations

import __spark_entry__ as entrymod
from pyspark.sql import functions as F


def test_salted_segment_value_matches_oracle(query_check):
    assert query_check("salted_segment_value") > 0


def _skewed_fixture(spark):
    # one hot key holding ~80% of the fact, plus a long tail
    fact = spark.range(0, 1000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") < 800, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") * 2).cast("double").alias("v"),
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("seg_"), F.col("id") % 5).alias("seg")
    )
    return fact, dim


def test_salted_join_equals_plain_join(spark):
    from mapreduce_golang_spark.operators.skew import salted_join

    fact, dim = _skewed_fixture(spark)
    plain = fact.join(dim, "k")
    salted = salted_join(fact, dim, "k", n_salts=8, salt_from="row_id")
    assert sorted(salted.columns) == sorted(plain.columns)
    p = sorted(map(tuple, plain.collect()))
    s = sorted(map(tuple, salted.collect()))
    assert s == p


def test_salted_join_without_salt_from_equals_plain(spark):
    # the all-columns xxhash64 fallback must be just as invisible
    from mapreduce_golang_spark.operators.skew import salted_join

    fact, dim = _skewed_fixture(spark)
    p = sorted(map(tuple, fact.join(dim, "k").collect()))
    s = sorted(map(tuple, salted_join(fact, dim, "k", n_salts=5).collect()))
    assert s == p


def test_salted_join_spreads_hot_key_across_salts(spark):
    # the point of the operator: the hot key's fact rows must land in
    # MANY (key, salt) groups, not one — otherwise it's a rename
    from mapreduce_golang_spark.operators.skew import salted_join

    fact, dim = _skewed_fixture(spark)
    n_salts = 8
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64("row_id"), F.lit(n_salts)).cast("int")
    )
    hot_groups = (
        salted_fact.where(F.col("k") == 7).select("_salt").distinct().count()
    )
    assert hot_groups == n_salts
    # and the joined plan carries the composite key
    plan = (
        salted_join(fact, dim, "k", n_salts=n_salts, salt_from="row_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_salt" in plan


def test_salted_join_dim_replication_is_exact(spark):
    # dim side must be replicated exactly once per salt value
    from mapreduce_golang_spark.operators.skew import salted_join  # noqa: F401

    _, dim = _skewed_fixture(spark)
    n_salts = 6
    exploded = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    assert exploded.count() == dim.count() * n_salts
    assert exploded.groupBy("k").count().agg(F.max("count")).first()[0] == n_salts


def test_near_dup_stream_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    """E2E proof the streaming near-dup operator works off the memory
    sink (round-8 verdict #5, optional half): the sink-agnostic stream
    drained through foreachBatch into parquet emits exactly the same
    per-source survivor counts as the registered memory-sink query."""
    from mapreduce_golang_spark.streaming.events_stream import (
        near_dup_survivors_stream,
        streaming_near_dup_docs,
    )

    out = str(tmp_path / "survivors_parquet")
    ckpt = str(tmp_path / "ckpt")

    def _sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        near_dup_survivors_stream(spark, sf_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.source: r.n
        for r in spark.read.parquet(out).groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    want = {
        r.source: r.n_unique_docs
        for r in streaming_near_dup_docs(
            spark, sf_dir, query_name="stream_near_dup_feb_ref"
        ).collect()
    }
    assert got == want and sum(got.values()) > 0


# --- table-argument UDTF (wave 36 second entry) -------------------------------


def test_sessionize_table_udtf_matches_oracle(query_check):
    assert query_check("sessionize_table_udtf") > 0


def test_sessionize_table_udtf_equals_window_form(spark, sf_dir):
    # the stateful per-group UDTF must reproduce the lag+cumsum window
    # operator row-for-row (same gap rule, same 1-based session_seq)
    from mapreduce_golang_spark.operators.windows import sessionize
    from mapreduce_golang_spark.sources.tables import load_table

    want = sorted(
        map(tuple, sessionize(load_table(spark, sf_dir, "events")).collect())
    )
    got = sorted(
        map(tuple, entrymod.queries()["sessionize_table_udtf"](spark, sf_dir).collect())
    )
    assert got == want


def test_sessionize_udtf_terminate_closes_last_session(spark):
    # a user whose events all sit inside one gap must still emit —
    # that row can only come from terminate()
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, 1_000_000, 10), (1, 2_000_000, 11), (2, 5_000_000, 12)],
        ["user_id", "us", "event_id"],
    ).createOrReplaceTempView("_sess_tf_unit")
    rows = spark.sql(
        "SELECT * FROM sessionize_tf(TABLE(_sess_tf_unit) "
        "PARTITION BY user_id ORDER BY (us, event_id))"
    ).collect()
    got = {(r.user_id, r.session_seq): (r.n_events, r.dur_us) for r in rows}
    assert got == {(1, 1): (2, 1_000_000), (2, 1): (1, 0)}


def test_sessionize_udtf_splits_on_gap(spark):
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    gap = 1_800_000_000
    spark.createDataFrame(
        [(7, 0, 1), (7, gap, 2), (7, 2 * gap + 1, 3)],
        ["user_id", "us", "event_id"],
    ).createOrReplaceTempView("_sess_tf_unit2")
    rows = spark.sql(
        "SELECT * FROM sessionize_tf(TABLE(_sess_tf_unit2) "
        "PARTITION BY user_id ORDER BY (us, event_id))"
    ).collect()
    # gap of exactly GAP_US does NOT split (strict >, as the window form)
    got = sorted((r.session_seq, r.n_events) for r in rows)
    assert got == [(1, 2), (2, 1)]


# --- cogrouped-map as-of join (wave 36 third entry) ---------------------------


def test_asof_cogrouped_matches_oracle(query_check):
    assert query_check("asof_cogrouped_clicks") > 0


def test_asof_cogrouped_equals_window_form(spark, sf_dir):
    # the two-input per-key merge must reproduce the single-relation
    # window operator row-for-row
    from mapreduce_golang_spark.operators.analytics import (
        last_click_before_purchase,
        last_click_before_purchase_cogrouped,
    )
    from mapreduce_golang_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    want = sorted(map(tuple, last_click_before_purchase(ev).collect()))
    got = sorted(map(tuple, last_click_before_purchase_cogrouped(ev).collect()))
    assert got == want


def test_cogroup_self_pruning_sharp_edge(spark, sf_dir):
    """Regression pin for the self-cogroup column-pruning hazard this
    operator defends against (round 9): when BOTH cogroup children
    derive from the same scan with identical column names (shared
    attribute ids), any expression projection above the cogrouped map
    makes Catalyst prune the right child's data columns — the UDF
    receives a key-only pdf and pd.concat NaN-fills silently. The
    operator's defense is renaming the right side at the source (fresh
    attribute ids). This test (a) demonstrates the hazard is real on
    this Spark version, (b) proves the renamed form survives the same
    projection — if (a) ever starts passing columns through, the
    upstream bug is fixed and the rename can be retired."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    same_names = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    renamed = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("c_event_id"),
        F.col("ts").alias("c_ts"),
    )

    def probe_same(p, c):
        return pd.DataFrame({"ok": [int("event_id" in c.columns)]})

    def probe_renamed(p, c):
        return pd.DataFrame({"ok": [int("c_event_id" in c.columns)]})

    def run(right, probe):
        out = (
            left.groupBy("user_id")
            .cogroup(right.groupBy("user_id"))
            .applyInPandas(probe, "ok bigint")
        )
        # the non-trivial projection is what triggers the mis-pruning
        return (
            out.select((F.col("ok") * 1).alias("ok"))
            .agg(F.min("ok"))
            .first()[0]
        )

    assert run(renamed, probe_renamed) == 1, "defended form lost columns"
    hazard = run(same_names, probe_same)
    assert hazard in (0, 1)
    if hazard == 1:  # upstream fixed — surface it loudly
        import warnings

        warnings.warn(
            "self-cogroup pruning hazard no longer reproduces: the "
            "rename defense in last_click_before_purchase_cogrouped "
            "can be retired"
        )


# --- Observation-API ride-along metrics (wave 36 fourth entry) ---------------


def test_observed_ingest_metrics_matches_oracle(query_check):
    assert query_check("observed_ingest_metrics") == 1


def test_observed_metrics_equal_second_pass_scan(spark, sf_dir):
    # the ride-along aggregates must equal a plain recomputation on the
    # same session — the zero-second-scan claim is only worth making if
    # the numbers are the ground truth
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.operators.corpus import observed_ingest_metrics
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = observed_ingest_metrics(docs).first()
    want = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.count(F.when(F.length("text") == 0, 1)).alias("n_empty_text"),
    ).first()
    assert tuple(got) == tuple(want)
