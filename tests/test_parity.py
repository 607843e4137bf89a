from __future__ import annotations

import __spark_entry__ as entrymod
import pytest


@pytest.mark.parametrize("name", ["indexer", "indexer_packed", "file_counts", "crash_data"])
def test_parity_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_indexer_packed_format(spark):
    # bit-exact reference value format: "<n> <doc1,doc2,...>" with docs
    # sorted (indexer.go:36-39)
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.operators.parity import inverted_index

    df = spark.createDataFrame(
        [("b.txt", 1, "shared"), ("a.txt", 2, "shared only"), ("c.txt", 3, "other")],
        ["source", "doc_id", "text"],
    )
    doc = F.col("source")
    # r["index"] not r.index — Row.index is a method name
    rows = {r.word: r["index"] for r in inverted_index(df, doc_col=doc, packed=True).collect()}
    assert rows["shared"] == "2 a.txt,b.txt"
    assert rows["only"] == "1 a.txt"
    assert rows["other"] == "1 c.txt"


def test_crash_data_has_four_keys(spark, sf_dir):
    rows = entrymod.queries()["crash_data"](spark, sf_dir).collect()
    assert sorted(r.key for r in rows) == ["a", "b", "c", "d"]
    d = next(r for r in rows if r.key == "d")
    assert set(d.value.split(" ")) == {"xyzzy"}


def test_kv_text_roundtrip(spark, tmp_path):
    # Reference output contract: "k v" lines across nReduce files,
    # order-insensitive (src/mr/worker.go:125-141, test-mr.sh:90).
    from mapreduce_golang_spark.sources.text import read_kv_text, write_kv_text

    df = spark.createDataFrame(
        [("apple", "3"), ("pear", "7"), ("zed", "1")], ["key", "value"]
    )
    out = str(tmp_path / "kvout")
    write_kv_text(df, out, n_files=3)
    back = read_kv_text(spark, out)
    assert sorted((r.key, r.value) for r in back.collect()) == [
        ("apple", "3"),
        ("pear", "7"),
        ("zed", "1"),
    ]


def test_read_text_documents(spark, tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "a.txt").write_text("Hello world hello")
    (corpus / "b.txt").write_text("")
    from mapreduce_golang_spark.sources.text import read_text_documents

    df = read_text_documents(spark, str(corpus))
    rows = {r.filename: r.contents for r in df.collect()}
    assert rows == {"a.txt": "Hello world hello", "b.txt": ""}
