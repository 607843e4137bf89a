"""Round-6 wave 11 (below the driver window): multi-round BPE merge
learning, SemDeDup within-cluster semantic dedup, and the one-row
dataset card — oracle matches plus crafted-input checks.
"""

from __future__ import annotations

import pytest



@pytest.mark.parametrize(
    "name",
    ["bpe_learn_merges", "semdedup_survivors", "dataset_card_report"],
)
def test_wave11_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_bpe_learns_expected_merges(spark):
    from mapreduce_golang_spark.operators.text_analysis import bpe_learn_merges

    # classic BPE toy: "aaab" x3 — round 1 merges the most frequent
    # adjacent pair 'a a' (2 per word x 3 words = 6), producing
    # 'aa a b'; round 2 then sees {aa a: 3, a b: 3} and ties toward
    # the lexicographically smaller 'a b'
    docs = spark.createDataFrame(
        [(i, "aaab", "en", "s", 4) for i in range(3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.merge_rank: r for r in bpe_learn_merges(docs, n_merges=3).collect()}
    assert out[1].pair == "a a" and out[1].n == 6
    assert out[2].pair == "a b" and out[2].n == 3
    assert out[3].pair == "aa ab" and out[3].n == 3


def test_semdedup_drops_near_identical_within_cluster(spark):
    from mapreduce_golang_spark.operators.similarity import semdedup_survivors

    # two tight blobs; vectors 2 and 3 are near-copies of 0 and 1
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9999, 0.001]),   # ~copy of 0
        (3, [0.001, 0.9999]),   # ~copy of 1
        (4, [0.5, 0.5]),
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = {r.vec_id for r in semdedup_survivors(emb, threshold=0.99, k=2, updates=1).collect()}
    assert 0 in out and 1 in out
    assert 2 not in out and 3 not in out  # higher-id near-copies dropped


def test_dataset_card_counts(spark):
    from mapreduce_golang_spark.operators.corpus import dataset_card_report

    docs = spark.createDataFrame(
        [
            (0, "hello world", "en", "a", 11),
            (1, "hello world", "en", "b", 11),   # exact dup text
            (2, "three more words here", "fr", "a", 21),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = dataset_card_report(docs).collect()[0]
    assert r.n_docs == 3 and r.n_sources == 2 and r.n_langs == 2
    assert r.n_unique_texts == 2
    assert r.dup_frac == pytest.approx(1 / 3, abs=1e-6)
    assert r.n_tokens == 8 and r.avg_doc_tokens == pytest.approx(8 / 3, abs=1e-6)


def test_bpe_survives_fully_merged_words(spark):
    from mapreduce_golang_spark.operators.text_analysis import bpe_learn_merges

    # a 2-char word collapses to ONE symbol after round 1; later rounds
    # must yield no pairs (empty argmax), not a descending-sequence crash
    docs = spark.createDataFrame(
        [(0, "ab ab ab", "en", "s", 8)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = bpe_learn_merges(docs, n_merges=3).collect()
    assert [(r.merge_rank, r.pair, r.n) for r in out] == [(1, "a b", 3)]
