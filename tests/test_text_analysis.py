from __future__ import annotations

import pytest


@pytest.mark.parametrize(
    "name",
    [
        "lang_id",
        "text_quality",
        "token_stats",
        "doc_fingerprints",
        "tfidf_top_terms",
        "contamination_check",
        "stratified_sample",
        "repetition_ratio",
        "cross_source_overlap",
        "balanced_mixing_sample",
        "vocab_growth",
        "source_doc_stats",
        "bigram_counts",
    ],
)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_lang_id_unknown_for_empty(spark):
    from mapreduce_golang_spark.operators.text_analysis import lang_id

    df = spark.createDataFrame([(1, "zz qq xx"), (2, "the the and of is")], ["doc_id", "text"])
    rows = {r.doc_id: (r.predicted_lang, r.score) for r in lang_id(spark, df).collect()}
    assert rows[1] == ("unknown", 0)
    assert rows[2][0] == "en"


def test_fingerprints_detect_shared_text(spark):
    from mapreduce_golang_spark.operators.text_analysis import doc_fingerprints

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words here now ok yes no maybe")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: (r.n_fingerprints, r.min_fp, r.max_fp) for r in doc_fingerprints(df).collect()}
    # identical docs → identical fingerprint sets; different doc differs
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_fingerprints_k_parameter_respected(spark, k):
    # regression: k used to be accepted but hardcoded to 3-token
    # shingles (k=2 kept only ragged tails, k>3 returned zero rows)
    from mapreduce_golang_spark.operators.text_analysis import doc_fingerprints

    words = [f"w{i}" for i in range(12)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    rows = doc_fingerprints(df, k=k, window=4).collect()
    assert len(rows) == 1
    # n tokens → n-k+1 full shingles → n-k+1-(window-1) full windows,
    # fingerprints = distinct window-mins ∈ [1, windows]
    n_windows = len(words) - k + 1 - 3
    assert 1 <= rows[0].n_fingerprints <= n_windows


def test_fingerprints_different_k_different_prints(spark):
    from mapreduce_golang_spark.operators.text_analysis import doc_fingerprints

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    k2 = doc_fingerprints(df, k=2).collect()[0]
    k3 = doc_fingerprints(df, k=3).collect()[0]
    assert (k2.min_fp, k2.max_fp) != (k3.min_fp, k3.max_fp)


def test_contamination_detects_planted_overlap(spark):
    from mapreduce_golang_spark.operators.text_analysis import contamination_check

    leak = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, leak + " extra tail words here", "train_a"),
            (2, leak, "eval_x"),
            (3, "completely unrelated benchmark text rows", "eval_x"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {
        r.doc_id: (r.contaminated, r.total_ngrams, r.contamination_ratio)
        for r in contamination_check(df, eval_sources=("eval_x",), k=3).collect()
    }
    # doc 2 is fully contained in train doc 1 → every shingle contaminated
    assert rows[2][0] == rows[2][1] and rows[2][2] == 1.0
    assert rows[3][0] == 0 and rows[3][2] == 0.0


def test_repetition_ratio_degenerate_doc_flagged(spark):
    from mapreduce_golang_spark.operators.text_analysis import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one word looped
            (2, "each word appears exactly once here"),  # no repetition
            (3, ""),  # empty doc must not divide by zero
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_ratio(df).collect()}
    assert rows[1].word_rep_ratio > 0.8 and rows[1].bigram_rep_ratio > 0.7
    assert rows[2].word_rep_ratio == 0.0 and rows[2].bigram_rep_ratio == 0.0
    assert rows[3].n_words == 0 and rows[3].word_rep_ratio == 0.0


def test_cross_source_overlap_detects_shared_text(spark):
    from mapreduce_golang_spark.operators.text_analysis import cross_source_overlap

    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, shared, "srcA"),
            (2, shared + " tail words", "srcB"),
            (3, "completely different vocabulary in this one", "srcC"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {(r.source_a, r.source_b): r.jaccard for r in cross_source_overlap(df).collect()}
    assert rows[("srcA", "srcB")] > 0.5  # near-identical vocabularies
    assert ("srcA", "srcC") not in rows  # zero-overlap pairs don't appear


def test_balanced_mixing_sample_quota_exact(spark, sf_dir):
    from mapreduce_golang_spark.operators.corpus import balanced_mixing_sample
    from mapreduce_golang_spark.sources.tables import load_table
    import math

    docs = load_table(spark, sf_dir, "documents")
    out = balanced_mixing_sample(docs).collect()
    per_src = {}
    for r in out:
        per_src.setdefault(r.source, []).append(r)
    totals = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    for src, rows in per_src.items():
        assert len(rows) == math.ceil(math.sqrt(totals[src]))
    # deterministic: second run picks the same docs
    again = sorted((r.source, r.doc_id) for r in balanced_mixing_sample(docs).collect())
    assert again == sorted((r.source, r.doc_id) for r in out)


def test_stratified_sample_deterministic(spark, sf_dir):
    from mapreduce_golang_spark.operators.corpus import stratified_sample
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(r.doc_id for r in stratified_sample(docs, fraction=0.3).collect())
    b = sorted(r.doc_id for r in stratified_sample(docs, fraction=0.3).collect())
    assert a == b and len(a) > 0
    # smaller fraction is a strict subset (same hash, lower threshold)
    c = set(r.doc_id for r in stratified_sample(docs, fraction=0.1).collect())
    assert c < set(a)


def test_bigram_counts_tiny_corpus_exact(spark):
    from mapreduce_golang_spark.operators.text_analysis import bigram_counts

    df = spark.createDataFrame(
        [
            (0, "a b a b"),      # "a b" ×2, "b a" ×1
            (1, "a b"),          # "a b" ×1
            (2, "solo"),         # no bigrams (single token)
            (3, ""),             # no bigrams (empty)
            (4, "x, y! x y"),    # punctuation splits: "x y" ×2, "y x" ×1
        ],
        ["doc_id", "text"],
    )
    got = {(r.bigram, r.cnt) for r in bigram_counts(df, k=10).collect()}
    assert got == {("a b", 3), ("b a", 1), ("x y", 2), ("y x", 1)}
