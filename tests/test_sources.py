from __future__ import annotations

import os

import __spark_entry__ as entrymod
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapreduce_golang_spark.sources import formats
from mapreduce_golang_spark.sources.tables import TABLES, load_table
from tests.oracle import assert_same_rowset


def _events_sample(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")


def test_warm_load_table_launches_no_job(spark, sf_dir, launched_jobs):
    first = {name: load_table(spark, sf_dir, name).dtypes for name in TABLES}
    with launched_jobs() as jobs:
        again = {name: load_table(spark, sf_dir, name).dtypes for name in TABLES}
    assert jobs == []
    assert again == first
    assert dict(again["events"])["ts"] == "timestamp"


def test_load_table_schema_follows_rewritten_file(spark, tmp_path, launched_jobs):
    # the schema memo is keyed by the file's version: a file rewritten
    # at the same path with other columns must not read the old schema
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    with launched_jobs() as cold:
        assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    with launched_jobs() as warm:
        load_table(spark, str(tmp_path), "t")
    assert len(cold) == 1 and warm == []

    pq.write_table(pa.table({"a": [3], "c": [0.5], "d": [True]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("c", "double"), ("d", "boolean")]
    assert [tuple(r) for r in df.collect()] == [(3, 0.5, True)]


def test_nanos_events_read_as_the_fixture_does(spark, sf_dir, tmp_path):
    # events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark
    # reads only with nanosAsLong on; every registry query pins that
    # itself, so a session that has it off still gets the fixture's rows
    # from the batch and the streaming read
    for name in TABLES:
        if name != "events":
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events.schema.get_field_index("ts")
    nanos = events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("ns")))
    pq.write_table(nanos, tmp_path / "events.parquet", version="2.6")
    assert "timeUnit=nanoseconds" in str(pq.ParquetFile(tmp_path / "events.parquet").schema.column(ts))

    qs = entrymod.queries()
    for name in ("hourly_event_counts", "streaming_hourly_counts"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        got = qs[name](spark, str(tmp_path)).toPandas()
        assert assert_same_rowset(got, qs[name](spark, sf_dir).toPandas()) > 0, name


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    df = _events_sample(spark, sf_dir)
    path = str(tmp_path / "ev_csv")
    formats.write_csv(df, path)
    back = formats.read_csv(spark, path, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    df = _events_sample(spark, sf_dir)
    path = str(tmp_path / "ev_json")
    formats.write_json(df, path)
    back = formats.read_json(spark, path, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_xml_roundtrip(spark, sf_dir, tmp_path):
    df = _events_sample(spark, sf_dir)
    path = str(tmp_path / "ev_xml")
    formats.write_xml(df, path)
    back = formats.read_xml(spark, path, df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    df = _events_sample(spark, sf_dir)
    path = str(tmp_path / "ev_orc")
    formats.write_orc(df, path)
    back = formats.read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # ORC scans must take pushed filters like parquet ones do
    plan = (
        back.where(F.col("event_type") == "purchase")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    df = _events_sample(spark, sf_dir)
    path = str(tmp_path / "ev_part")
    formats.write_partitioned_parquet(df, path, ["event_type"])
    back = formats.read_parquet(spark, path).where(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition filter reached the scan → non-matching dirs never read
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert back.count() == df.where(F.col("event_type") == "click").count()


def test_parquet_schema_merge(spark, tmp_path):
    # schema evolution: new column appears in later files; mergeSchema
    # unifies, old rows read NULL
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "x"]).write.parquet(p + "/batch=1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "x", "score"]).write.parquet(p + "/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    rows = {r.id: (r.x, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_parquet_compression_codecs(spark, sf_dir, tmp_path):
    from mapreduce_golang_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "nation")
    for codec in ["snappy", "zstd", "gzip"]:
        p = str(tmp_path / f"nation_{codec}")
        df.write.option("compression", codec).mode("overwrite").parquet(p)
        assert sorted(map(tuple, spark.read.parquet(p).collect())) == sorted(map(tuple, df.collect()))


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    formats.save_bucketed_table(orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey")
    formats.save_bucketed_table(lineitem, "b_lineitem", "l_orderkey")
    # hint("merge") pins SMJ (tiny test tables would otherwise broadcast)
    # so the property under test is visible: bucketed layout → the join
    # AND the following agg on the bucket key need no hash exchange.
    joined = (
        spark.table("b_orders")
        .join(spark.table("b_lineitem").hint("merge"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SelectedBucketsCount" in plan
    n = joined.count()
    assert n == orders.select("o_orderkey").distinct().join(
        lineitem, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    ).count()


def test_bucketed_query_entry_plan(query_check, spark, sf_dir):
    # the queries()-grade entry must be exchange-free AND oracle-correct
    import __spark_entry__ as entrymod

    df = entrymod.queries()["bucketed_join_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SelectedBucketsCount" in plan
    assert query_check("bucketed_join_revenue") > 0

def test_kvtext_datasource_roundtrip(spark, tmp_path):
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    df = spark.createDataFrame(
        [("apple", "3"), ("banana", "7"), ("cherry", "1")], ["key", "value"]
    )
    out = str(tmp_path / "kvout")
    df.write.format("kvtext").mode("append").save(out)
    back = spark.read.format("kvtext").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_kvtext_datasource_drops_malformed_lines(spark, tmp_path):
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    p = tmp_path / "raw"
    p.mkdir()
    (p / "mr-out-0").write_text("good 1\nmalformed\nalso good but three\nok 2\n")
    rows = sorted(map(tuple, spark.read.format("kvtext").load(str(p)).collect()))
    assert rows == [("good", "1"), ("ok", "2")]


def test_kvtext_datasource_reads_write_kv_text_output(spark, tmp_path):
    # the two kvtext implementations share one on-disk contract
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource
    from mapreduce_golang_spark.sources.text import write_kv_text

    spark.dataSource.register(KvTextDataSource)
    df = spark.createDataFrame([("k1", "10"), ("k2", "20")], ["key", "value"])
    out = str(tmp_path / "jvmout")
    write_kv_text(df, out, n_files=2)
    back = spark.read.format("kvtext").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_kvtext_stream_reader_drains_directory(spark, tmp_path):
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "mr-out-0").write_text("a 1\nb 2\n")
    (src / "mr-out-1").write_text("c 3\nbad-line\n")
    q = (
        spark.readStream.format("kvtext")
        .load(str(src))
        .writeStream.format("memory")
        .queryName("kvstream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(map(tuple, spark.sql("SELECT * FROM kvstream").collect()))
    assert rows == [("a", "1"), ("b", "2"), ("c", "3")]


def test_kvtext_overwrite_clears_stale_parts(spark, tmp_path):
    # a prior write with MORE partitions must not leave stale part
    # files behind an overwrite (mixed old+new rows on read)
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    out = str(tmp_path / "kvow")
    wide = spark.createDataFrame(
        [(f"old{i}", str(i)) for i in range(8)], ["key", "value"]
    ).repartition(8)
    wide.write.format("kvtext").mode("append").save(out)
    narrow = spark.createDataFrame([("new", "1")], ["key", "value"]).coalesce(1)
    narrow.write.format("kvtext").mode("overwrite").save(out)
    rows = sorted(map(tuple, spark.read.format("kvtext").load(out).collect()))
    assert rows == [("new", "1")]
    # no hidden staged files left behind either
    import os

    assert [f for f in os.listdir(out) if f.startswith(".staged")] == []


def test_kvtext_append_never_clobbers_prior_parts(spark, tmp_path):
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    out = str(tmp_path / "kvap")
    a = spark.createDataFrame([("a", "1")], ["key", "value"]).coalesce(1)
    b = spark.createDataFrame([("b", "2")], ["key", "value"]).coalesce(1)
    a.write.format("kvtext").mode("append").save(out)
    b.write.format("kvtext").mode("append").save(out)  # same partition id 0
    rows = sorted(map(tuple, spark.read.format("kvtext").load(out).collect()))
    assert rows == [("a", "1"), ("b", "2")]


def test_kvtext_stream_writer_roundtrip(spark, tmp_path):
    # streaming write: parquet-backed stream -> kvtext sink, availableNow
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    src = tmp_path / "swin"
    src.mkdir()
    (src / "mr-out-0").write_text("x 1\ny 2\n")
    out = str(tmp_path / "swout")
    q = (
        spark.readStream.format("kvtext")
        .load(str(src))
        .writeStream.format("kvtext")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination()
    rows = sorted(map(tuple, spark.read.format("kvtext").load(out).collect()))
    assert rows == [("x", "1"), ("y", "2")]
    import os

    names = sorted(f for f in os.listdir(out) if not f.startswith("."))
    assert all(n.startswith("part-") and n.endswith(".txt") for n in names)


def test_kvtext_stream_writer_complete_mode_truncates(spark, tmp_path):
    """Complete output mode re-emits the FULL aggregate every batch —
    the sink must hold only the latest batch's snapshot, not the union
    of every batch's parts — and orphaned staged files are swept."""
    import os

    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    src = tmp_path / "cwin"
    src.mkdir()
    out = str(tmp_path / "cwout")
    ckpt = str(tmp_path / "cckpt")

    def drain():
        q = (
            spark.readStream.format("kvtext")
            .load(str(src))
            .groupBy("key")
            .count()
            .selectExpr("key", "CAST(count AS STRING) AS value")
            .writeStream.format("kvtext")
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start(out)
        )
        q.awaitTermination()

    (src / "mr-out-0").write_text("x 1\nx 1\ny 1\n")
    drain()
    first = dict(map(tuple, spark.read.format("kvtext").load(out).collect()))
    assert first == {"x": "2", "y": "1"}

    (src / "mr-out-1").write_text("x 1\nz 1\n")
    drain()
    second = dict(
        map(tuple, spark.read.format("kvtext").load(out).collect())
    )
    # latest snapshot only — no union with batch 0's parts
    assert second == {"x": "3", "y": "1", "z": "1"}
    assert not [f for f in os.listdir(out) if f.startswith(".staged-")]


def test_kvtext_overwrite_empty_dataframe_and_subdir(spark, tmp_path):
    """Edge cases the commit path must survive: overwriting a path that
    contains a subdirectory (another format's output) and writing an
    empty DataFrame to a fresh path (no write task ever runs)."""
    from mapreduce_golang_spark.sources.kvtext_datasource import KvTextDataSource

    spark.dataSource.register(KvTextDataSource)
    out = tmp_path / "edgeout"
    out.mkdir()
    (out / "somedir").mkdir()
    (out / "part-00000.txt").write_text("old 1\n")
    df = spark.createDataFrame([("a", "1")], "key string, value string")
    df.write.format("kvtext").mode("overwrite").save(str(out))
    assert (out / "somedir").is_dir()  # untouched
    rows = sorted(map(tuple, spark.read.format("kvtext").load(str(out)).collect()))
    assert rows == [("a", "1")]

    empty = df.limit(0).repartition(1).limit(0)
    fresh = str(tmp_path / "freshout")
    empty.where("1=0").write.format("kvtext").mode("overwrite").save(fresh)
    assert spark.read.format("kvtext").load(fresh).count() == 0
