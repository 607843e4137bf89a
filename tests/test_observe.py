from __future__ import annotations

import threading

import pytest

from mapreduce_golang_spark.operators.analytics import observed_quality_metrics
from mapreduce_golang_spark.sources.tables import load_table


def test_observation_metrics_single_pass(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    observed, obs = observed_quality_metrics(li)
    n = observed.count()  # the action the metrics ride along with
    metrics = obs.get
    assert metrics["n_rows"] == n
    assert 0 <= metrics["bad_qty"] <= n
    assert 0 <= metrics["bad_discount"] <= n


@pytest.mark.parametrize("empty", ["no_partitions", "filtered"])
def test_checkpoint_counted_on_empty_frame(spark, empty):
    """The graph loops read their counts through checkpoint_counted;
    over an empty frame it must return (count 0, sum None), not block
    in Observation.get waiting for a job that never ran."""
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.operators.dedup import checkpoint_counted

    if empty == "no_partitions":
        df = spark.createDataFrame(spark.sparkContext.emptyRDD(), "x long")
        assert df.rdd.getNumPartitions() == 0
    else:
        df = spark.range(10).where(F.col("id") < 0).select(F.col("id").alias("x"))
    out: dict = {}

    def run():
        out["result"] = checkpoint_counted(
            df, F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
        )

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "checkpoint_counted hung on an empty frame"
    d, m = out["result"]
    assert m["n"] == 0
    assert m["s"] is None
    assert d.count() == 0
