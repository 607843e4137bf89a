"""Round-6 data-mixing / selection wave: DSIR importance weights,
linear quality scorer, temperature mixing weights, CCNet perplexity
buckets, per-eval-doc decontamination, MinHashLSH library cross-check
— oracle matches at the test SF plus crafted-input behavioral checks.
"""

from __future__ import annotations

import pytest



@pytest.mark.parametrize(
    "name",
    [
        "dsir_importance_weights",
        "quality_classifier_scores",
        "source_mixing_weights",
        "ccnet_perplexity_buckets",
        "eval_decontamination",
    ],
)
def test_mixing_matches_oracle(query_check, name):
    assert query_check(name) > 0


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def test_dsir_prefers_target_like_docs(spark):
    from mapreduce_golang_spark.operators.mixing import dsir_importance_weights

    # target vocabulary = {apple banana cherry}; raw doc 3 shares it,
    # raw doc 4 is disjoint — the importance weight must rank 3 above 4
    rows = [
        ("apple banana cherry apple banana", "tgt"),
        ("banana cherry apple cherry", "tgt"),
        ("apple banana cherry banana apple", "raw"),
        ("xylophone quartz vortex jumble crypt", "raw"),
    ]
    out = {
        r.doc_id: r.dsir_logweight
        for r in dsir_importance_weights(
            _docs(spark, rows), target_sources=("tgt",)
        ).collect()
    }
    assert set(out) == {2, 3}
    assert out[2] > out[3]


def test_quality_scores_are_deterministic_and_bounded(spark):
    from mapreduce_golang_spark.operators.mixing import quality_classifier_scores

    rows = [
        ("the quick brown fox jumps", "a"),
        ("the quick brown fox jumps", "b"),  # same text → same score
        ("completely different words here now", "a"),
        ("", "a"),  # no tokens → dropped
    ]
    out = quality_classifier_scores(_docs(spark, rows)).collect()
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {0, 1, 2}
    assert by_id[0].quality_score == by_id[1].quality_score
    for r in out:
        assert 0.0 < r.quality_score < 1.0
        assert r.is_quality == (r.quality_score >= 0.5)
    assert by_id[0].n_tokens == 5


def test_mixing_weights_are_dedup_aware(spark):
    from mapreduce_golang_spark.operators.mixing import source_mixing_weights

    # source a: 4 copies of one text (1 unique); source b: 2 unique
    rows = [("same text", "a")] * 4 + [("unique one", "b"), ("unique two", "b")]
    out = {r.source: r for r in source_mixing_weights(_docs(spark, rows)).collect()}
    assert out["a"].n_docs == 4 and out["a"].n_unique == 1
    assert out["b"].n_docs == 2 and out["b"].n_unique == 2
    # α=0.7: w_a = 1/(1+2^0.7), w_b = 2^0.7/(1+2^0.7)
    w_b_expected = 2**0.7 / (1 + 2**0.7)
    assert abs(out["b"].mix_weight - round(w_b_expected, 6)) < 1e-9
    assert abs(out["a"].mix_weight + out["b"].mix_weight - 1.0) < 1e-6
    # upsampled small source replays more epochs than its fair share
    assert out["a"].effective_epochs > 1.0 > out["b"].effective_epochs


def test_ccnet_buckets_partition_each_lang(spark, sf_dir):
    from mapreduce_golang_spark.operators.mixing import ccnet_perplexity_buckets
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = ccnet_perplexity_buckets(docs).collect()
    per_lang = {}
    for r in out:
        per_lang.setdefault(r.lang, {})[r.ppl_bucket] = r
    doc_counts = {r.lang: r.cnt for r in docs.groupBy("lang").count().withColumnRenamed("count", "cnt").collect()}
    for lang, buckets in per_lang.items():
        assert sum(b.n_docs for b in buckets.values()) == doc_counts[lang]
        if "head" in buckets and "tail" in buckets:
            assert buckets["head"].mean_nll <= buckets["tail"].mean_nll


def test_eval_decontamination_flags_exact_copy(spark):
    from mapreduce_golang_spark.operators.text_analysis import eval_decontamination

    train_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (train_text, "train"),
        ("iota kappa lambda mu nu xi omicron pi", "train"),
        (train_text, "eval"),  # exact copy of train doc 0
        ("rho sigma tau upsilon phi chi psi omega", "eval"),  # no overlap
    ]
    out = {
        r.doc_id: r
        for r in eval_decontamination(
            _docs(spark, rows), eval_sources=("eval",)
        ).collect()
    }
    assert set(out) == {2, 3}
    assert out[2].best_train_doc == 0
    assert out[2].max_overlap == 1.0 and out[2].contaminated
    assert out[3].best_train_doc is None
    assert out[3].max_overlap == 0.0 and not out[3].contaminated


def test_minhash_ml_crosscheck_agrees_on_clear_dups(spark):
    from mapreduce_golang_spark.operators.dedup import minhash_ml_crosscheck

    base = "one two three four five six seven eight nine ten"
    rows = [
        (base, "a"),
        (base, "a"),  # exact dup — every scheme must pair these
        ("totally unrelated text with other tokens entirely", "b"),
    ]
    r = minhash_ml_crosscheck(_docs(spark, rows)).collect()[0]
    assert r.n_ours >= 1 and r.n_lib >= 1
    assert r.n_common <= min(r.n_ours, r.n_lib)
    assert 0.0 <= r.agreement <= 1.0
    # the exact-dup pair is unmissable for both sides
    assert r.n_common >= 1


@pytest.mark.parametrize(
    "name",
    [
        "embedding_pca_topvar",
        "quality_weighted_sample",
        "packing_efficiency_report",
        "common_sentence_filter",
    ],
)
def test_wave2_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_pca_finds_dominant_axis(spark):
    from mapreduce_golang_spark.operators.similarity import embedding_pca_topvar

    # all variance on axis 0 → top eigenvalue == trace, ratio == 1
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0, 0.0], 0) for i in range(4)],
        ["vec_id", "embedding", "label"],
    )
    r = embedding_pca_topvar(emb).collect()[0]
    assert r.n_vectors == 4 and r.dim == 4
    # sample variance of [0,1,2,3] = 5/3
    assert abs(r.trace - round(5.0 / 3.0, 6)) < 1e-9
    assert abs(r.top_eigenvalue - r.trace) < 1e-5
    assert abs(r.explained_ratio - 1.0) < 1e-5


def test_pca_isotropic_cloud_splits_variance(spark):
    from mapreduce_golang_spark.operators.similarity import embedding_pca_topvar

    # two orthogonal axes with EQUAL variance → no direction explains
    # more than ~half the trace
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [-1.0, 0.0], 0),
            (2, [0.0, 1.0], 0),
            (3, [0.0, -1.0], 0),
        ],
        ["vec_id", "embedding", "label"],
    )
    r = embedding_pca_topvar(emb).collect()[0]
    assert r.explained_ratio <= 0.500001


def test_quality_weighted_sample_respects_k_and_scores(spark, sf_dir):
    from mapreduce_golang_spark.operators.mixing import (
        quality_classifier_scores,
        quality_weighted_sample,
    )
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = quality_weighted_sample(docs, k=3).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    scores = {
        r.doc_id: r.quality_score for r in quality_classifier_scores(docs).collect()
    }
    for src, rows in by_src.items():
        assert len(rows) <= 3
        assert sorted(r.rk for r in rows) == list(range(1, len(rows) + 1))
        ordered = sorted(rows, key=lambda r: r.rk)
        for a, b in zip(ordered, ordered[1:]):
            assert (a.wkey, -a.doc_id) >= (b.wkey, -b.doc_id)
        for r in rows:
            assert r.quality_score == scores[r.doc_id]


def test_packing_efficiency_overflow_semantics(spark):
    from mapreduce_golang_spark.operators.corpus import packing_efficiency_report

    # 3 docs × 10 tokens, budget 25: greedy pre-sum binning puts all
    # three in bin 0 (pre-sums 0/10/20 < 25) → fill 30/25 = 1.2
    text = " ".join(["tok"] * 10)
    docs = spark.createDataFrame(
        [(i, text, "en", "a", len(text)) for i in range(3)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = packing_efficiency_report(docs, budget_tokens=25).collect()[0]
    assert (r.n_bins, r.total_tokens, r.lb_bins) == (1, 30, 2)
    assert r.fill_ratio == 1.2 and r.waste_frac == -0.2


def test_common_sentence_filter_flags_boilerplate(spark):
    from mapreduce_golang_spark.operators.text_analysis import common_sentence_filter

    rows = [
        ("buy now. unique alpha text.", "a"),
        ("buy now. unique beta text.", "a"),
        ("buy now. unique gamma text.", "b"),
        ("only original content here.", "b"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.doc_id: r for r in common_sentence_filter(docs, min_doc_freq=3).collect()}
    for i in range(3):
        assert out[i].n_sentences == 2
        assert out[i].n_boilerplate == 1  # "buy now" appears in 3 docs
        assert out[i].boilerplate_frac == 0.5
    assert out[3].n_boilerplate == 0 and out[3].boilerplate_frac == 0.0


@pytest.mark.parametrize(
    "name",
    ["bpe_merge_candidates", "corpus_top_p_selection", "embedding_quantization_report"],
)
def test_wave3_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_bpe_candidates_weight_by_word_frequency(spark):
    from mapreduce_golang_spark.operators.text_analysis import bpe_merge_candidates

    # "aaab" ×2 as two docs: pairs per word = {a a: 2, a b: 1},
    # word-frequency weighting doubles both
    docs = _docs(spark, [("aaab", "s"), ("aaab", "s")])
    out = {r.pair: r.n for r in bpe_merge_candidates(docs).collect()}
    assert out == {"a a": 4, "a b": 2}


def test_top_p_keeps_quality_prefix(spark, sf_dir):
    from mapreduce_golang_spark.operators.mixing import (
        corpus_top_p_selection,
        quality_classifier_scores,
    )
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    p = 0.5
    kept = {
        (r.source, r.doc_id) for r in corpus_top_p_selection(docs, p=p).collect()
    }
    by_src = {}
    for r in quality_classifier_scores(docs).collect():
        by_src.setdefault(r.source, []).append((r.quality_score, r.doc_id))
    expected = set()
    for src, rows in by_src.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        total = sum(s for s, _ in rows)
        cum = 0.0
        for s, d in rows:
            if cum < p * total:
                expected.add((src, d))
            cum += s
    assert kept == expected
    # every source keeps at least one doc, never all the mass twice over
    for src, rows in by_src.items():
        n_kept = sum(1 for s, d in kept if s == src)
        assert 1 <= n_kept <= len(rows)


def test_quantization_report_exact_and_degenerate(spark):
    from mapreduce_golang_spark.operators.similarity import (
        embedding_quantization_report,
    )

    emb = spark.createDataFrame(
        [
            (0, [127.0, 0.0], 1),  # scale 1.0, values on the int grid → mse 0
            (1, [0.0, 0.0], 2),    # all-zero → scale 0 → mse 0 by definition
            (2, [1.0, 0.5], 3),    # 0.5/scale = 63.5 rounds to 64 → nonzero err
        ],
        ["vec_id", "embedding", "label"],
    )
    out = {r.label: r for r in embedding_quantization_report(emb).collect()}
    assert out[1].avg_mse == 0.0 and out[1].avg_scale == 1.0
    assert out[2].avg_mse == 0.0 and out[2].avg_scale == 0.0
    scale = 1.0 / 127.0
    err = 0.5 - 64.0 * scale
    assert abs(out[3].avg_mse - (err * err) / 2.0) < 1e-12


@pytest.mark.parametrize(
    "name",
    ["leakage_safe_splits", "split_leakage_audit", "token_budget_allocation"],
)
def test_wave4_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_leakage_safe_splits_keep_components_together(spark):
    from mapreduce_golang_spark.operators.mixing import leakage_safe_splits

    # docs 0/1 are near-dup twins (one shingle swap), 2 is unrelated;
    # supply the pair explicitly so the test pins the split invariant,
    # not the candidate generator.
    docs = _docs(
        spark,
        [
            ("alpha beta gamma delta epsilon", "s"),
            ("alpha beta gamma delta zeta", "s"),
            ("totally different words here now", "s"),
        ],
    )
    pairs = spark.createDataFrame([(0, 1, 0.67)], ["doc_a", "doc_b", "jaccard"])
    out = {r.doc_id: r for r in leakage_safe_splits(docs, pairs=pairs).collect()}
    assert len(out) == 3
    # the twins share a component and therefore a split — by construction
    assert out[0].component_id == out[1].component_id == 0
    assert out[0].split == out[1].split
    assert out[2].component_id == 2
    for r in out.values():
        assert r.split in ("train", "val", "test")


def test_split_leakage_audit_component_policy_is_leak_free(spark, sf_dir):
    from mapreduce_golang_spark.operators.mixing import split_leakage_audit
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = {r.policy: r for r in split_leakage_audit(docs).collect()}
    assert set(rows) == {"doc_hash", "component"}
    # the leakage-safe policy cannot cross-assign a pair, ever
    assert rows["component"].n_cross_pairs == 0
    assert rows["component"].leakage_frac == 0.0
    assert rows["doc_hash"].n_pairs == rows["component"].n_pairs


def test_token_budget_allocation_sums_to_budget(spark):
    from mapreduce_golang_spark.operators.mixing import token_budget_allocation

    docs = _docs(
        spark,
        [("one two three four", "big")] * 6 + [("five six", "small")],
    )
    out = {r.source: r for r in token_budget_allocation(docs, budget_ratio=0.5).collect()}
    assert out["big"].n_tokens == 24 and out["small"].n_tokens == 2
    # allocations exhaust the budget (0.5 · 26 tokens)
    total_alloc = sum(r.alloc_tokens for r in out.values())
    assert total_alloc == pytest.approx(13.0, abs=1e-4)
    # α=0.7 tilts toward the small source: its epochs exceed big's
    assert out["small"].epochs > out["big"].epochs
    # oversampled flag consistent with epochs > 1
    for r in out.values():
        assert r.oversampled == (r.epochs > 1.0)
