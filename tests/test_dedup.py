from __future__ import annotations

import warnings

import __spark_entry__ as entrymod
import pytest

DEDUP_QUERIES = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash",
    "simhash64",
    "simhash_pairs",
    "embedding_cosine_pairs",
]


@pytest.mark.parametrize("name", DEDUP_QUERIES)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_embedding_cosine_pairs_builds_without_a_warning(spark, sf_dir):
    # applyInPandas warns when it cannot infer an eval type from the
    # function's type hints, as when only some parameters carry one
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        entrymod.queries()["embedding_cosine_pairs"](spark, sf_dir)
    assert [str(w.message) for w in caught if issubclass(w.category, UserWarning)] == []


def test_exact_dedup_collapses_duplicates(spark):
    from mapreduce_golang_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello world "), (3, "different")],
        ["doc_id", "text"],
    )
    rows = {r.keep_doc_id: r.n_copies for r in exact_dedup(df).collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    # LSH candidates must contain the true high-jaccard pairs found by
    # the exhaustive n-gram join (recall check at jaccard >= 0.5).
    qs = entrymod.queries()
    exact = {(r.doc_a, r.doc_b) for r in qs["ngram_jaccard_pairs"](spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in qs["minhash_lsh_pairs"](spark, sf_dir).collect()}
    assert exact, "fixture should contain planted near-dups"
    assert lsh == exact  # at jaccard>=0.5 with 4 bands of 3, recall is total here


def test_simhash_identical_docs_same_hash(spark):
    from mapreduce_golang_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "alpha beta gamma alpha"), (3, "omega psi chi")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert rows[1] == rows[2]
    assert 0 <= rows[1] < 2**16


def test_ngram_hot_shingle_guard_caps_posting_list(spark):
    # a boilerplate shingle shared by MANY docs must not generate
    # candidates (posting list capped at max_doc_freq), while pairs
    # sharing a rare shingle still verify Jaccard over FULL sets
    from mapreduce_golang_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved forever"  # one shared 4-token run -> shared 3-shingles
    rows = [(i, f"{boiler} unique{i} filler{i} pad{i}") for i in range(40)]
    # docs 100/101: share boilerplate AND a rare tail -> near-dup pair
    rows += [
        (100, f"{boiler} special marker tail one"),
        (101, f"{boiler} special marker tail two"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # cap below the boilerplate doc-frequency: the 40 filler docs share
    # ONLY capped shingles -> zero pairs among them
    guarded = ngram_jaccard_pairs(df, threshold=0.3, max_doc_freq=10).collect()
    pair_ids = {(r.doc_a, r.doc_b): r.jaccard for r in guarded}
    assert all(a in (100, 101) or b in (100, 101) for a, b in pair_ids)
    assert (100, 101) in pair_ids

    # jaccard must equal the UNFILTERED value (full-set verify), not the
    # underestimate from filtered postings
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.3, max_doc_freq=None).collect()
    }
    assert pair_ids[(100, 101)] == exact[(100, 101)]


def test_ngram_guard_default_matches_exact_on_fixture(spark, sf_dir):
    # at fixture scale no shingle exceeds the default cap, so the
    # guarded default must return the identical pair set
    from mapreduce_golang_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    guarded = {tuple(r) for r in ngram_jaccard_pairs(docs).collect()}
    exact = {tuple(r) for r in ngram_jaccard_pairs(docs, max_doc_freq=None).collect()}
    assert guarded == exact and len(guarded) > 0


def test_incremental_dedup_statuses(spark):
    # batch = doc_id % 10 == 0 → docs 0,10,20,30.
    # 0: exact copy of corpus doc 1 → dup_exact
    # 10: exact copy of batch doc 0 but 0 < 10 shares its hash → dup_exact
    # 20: near-dup of corpus doc 3 (one word changed) → dup_near
    # 30: unrelated → kept
    from mapreduce_golang_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (0, "shared corpus text body here"),
            (10, "  SHARED corpus TEXT body here "),
            (20, base.replace("lazy", "sleepy")),
            (30, "completely unrelated content with its own words entirely"),
            (1, "shared corpus text body here"),
            (3, base),
            (7, "corpus filler document that matches nothing else at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.status for r in incremental_dedup(df).collect()}
    assert rows == {0: "dup_exact", 10: "dup_exact", 20: "dup_near", 30: "kept"}


def test_incremental_dedup_matches_oracle(query_check):
    assert query_check("incremental_dedup") > 0


def test_minhash_crosscheck_scaled_floors_to_pinned_at_fixture_scale(spark, sf_dir):
    """num_features=None sizes by the corpus: at fixture scale the
    distinct-shingle count is far below 2^18/4, so the auto mode
    floors to the library default and must reproduce the pinned
    variant EXACTLY (same HashingTF space, same seed, same joins) —
    the two legs only diverge once the corpus outgrows the pin, which
    the 100x pair in PERF.md measures."""
    from mapreduce_golang_spark.operators.dedup import minhash_ml_crosscheck

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pinned = minhash_ml_crosscheck(docs).collect()
    scaled = minhash_ml_crosscheck(docs, num_features=None).collect()
    assert [tuple(r) for r in pinned] == [tuple(r) for r in scaled]
    assert len(pinned) == 1 and pinned[0]["n_ours"] >= 0
