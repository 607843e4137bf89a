"""Round-7 wave 1: cross-source shingle overlap matrix and the corpus
trigram novelty curve — both against the DuckDB oracle, plus behavioral
invariants (symmetric containment algebra, monotone cumulative curve)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from mapreduce_golang_spark.sources.tables import load_table


@pytest.mark.parametrize("name", ["source_shingle_overlap", "trigram_novelty_curve"])
def test_wave1_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_overlap_containment_algebra(spark, sf_dir):
    # jaccard <= min(containments); containment_a_in_b = n_common/|A|
    rows = entrymod.queries()["source_shingle_overlap"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.jaccard <= min(r.containment_a_in_b, r.containment_b_in_a) + 1e-9
        assert r.n_common > 0


def test_overlap_pairs_are_canonical_and_complete(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_sources = docs.select("source").distinct().count()
    rows = entrymod.queries()["source_shingle_overlap"](spark, sf_dir).collect()
    # fixture sources share the generator vocabulary, so every pair overlaps
    assert len(rows) == n_sources * (n_sources - 1) // 2
    assert all(r.source_a < r.source_b for r in rows)


def test_novelty_curve_is_a_partition_of_all_shingles(spark, sf_dir):
    from mapreduce_golang_spark.operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    total = word_shingles(docs).select("shingle").distinct().count()
    rows = sorted(
        entrymod.queries()["trigram_novelty_curve"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert sum(r.n_new_shingles for r in rows) == total
    assert rows[-1].cum_new_shingles == total
    # cumulative is monotone; shares sum to ~1
    cums = [r.cum_new_shingles for r in rows]
    assert cums == sorted(cums)
    assert abs(sum(r.new_share for r in rows) - 1.0) < 1e-4


def test_novelty_curve_declines_for_repetitive_corpus(spark, sf_dir):
    # the fixture corpus draws from a fixed vocabulary, so later deciles
    # must contribute fewer first-seen trigrams than the first decile
    rows = sorted(
        entrymod.queries()["trigram_novelty_curve"](spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert rows[0].n_new_shingles == max(r.n_new_shingles for r in rows)


def test_empty_inputs_round7(spark, sf_dir):
    from mapreduce_golang_spark.operators.dedup import source_shingle_overlap
    from mapreduce_golang_spark.operators.text_analysis import trigram_novelty_curve

    empty = load_table(spark, sf_dir, "documents").where("doc_id < 0")
    assert source_shingle_overlap(empty).count() == 0
    assert trigram_novelty_curve(empty).count() == 0
