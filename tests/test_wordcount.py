from __future__ import annotations

import __spark_entry__ as entrymod


def test_wc_matches_oracle(query_check):
    assert query_check("wc") > 0


def test_tokenizer_go_semantics(spark):
    # Faithful to Go unicode.IsLetter splitting: case-sensitive,
    # digits/punct split, unicode letters kept (wc.go:21-27).
    from mapreduce_golang_spark.functions.tokenize import tokenize

    df = spark.createDataFrame([("Hello, wörld 123abc Hello",)], ["text"])
    toks = sorted(r.word for r in tokenize(df).collect())
    assert toks == ["Hello", "Hello", "abc", "wörld"]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
