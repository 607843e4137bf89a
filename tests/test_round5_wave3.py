"""Round-5 third-wave operators: block-level dedup, Gopher flags,
PMI collocations, BM25 retrieval, containment pairs, graph histograms,
Markov transitions, truncated EWMA, trailing z-score anomalies, RFM
segmentation, SCD2 point-in-time join, and centroid outliers — each
oracle-differential plus a behavioral property on crafted inputs (the
reference's golden-twin discipline,
/root/reference/src/main/test-mr.sh:90-91, applied per operator)."""

from __future__ import annotations


ORACLE_BACKED = (
    "block_dedup_fraction",
    "gopher_quality_flags",
    "token_pmi_pairs",
    "bm25_top_docs",
    "containment_pairs",
    "near_dup_degree_hist",
    "dup_cluster_size_hist",
    "markov_transitions",
    "ewma_user_value",
    "value_zscore_anomalies",
    "rfm_user_segments",
    "scd2_point_in_time",
    "centroid_outliers",
)


def test_wave3_ops_match_oracle(query_check):
    for name in ORACLE_BACKED:
        assert query_check(name) > 0, name


def test_block_dedup_flags_shared_boilerplate(spark):
    from mapreduce_golang_spark.operators.text_analysis import duplicate_block_fraction

    boiler = " ".join(f"w{i}" for i in range(10))  # one exact 10-token block
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + uniq_a),  # 2 blocks, 1 duplicated
            (2, boiler + " " + uniq_b),  # 2 blocks, 1 duplicated
            (3, " ".join(f"c{i}" for i in range(20))),  # all unique
            (4, "too short"),  # < 1 block -> excluded
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicate_block_fraction(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_blocks == 2 and out[1].n_dup_blocks == 1 and out[1].dup_ratio == 0.5
    assert out[2].dup_ratio == 0.5
    assert out[3].n_dup_blocks == 0 and out[3].dup_ratio == 0.0


def test_gopher_flags_fire_per_rule(spark):
    from mapreduce_golang_spark.operators.text_analysis import gopher_quality_flags

    good = "the " + " ".join(f"word{i} having" for i in range(40))  # 81 words, prose-ish
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "tiny doc"),  # fails word-count floor
            (3, " ".join("### ###" for _ in range(60))),  # symbols, no alpha
            (4, ""),  # empty: must be REPORTED failing, not omitted
            (5, "   "),  # whitespace-only: same
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # the gate reports every doc
    assert out[1].flag_word_count == 1 and out[1].flag_alpha == 1
    assert out[2].flag_word_count == 0 and out[2].passes == 0
    assert out[3].flag_symbol == 0 and out[3].flag_alpha == 0 and out[3].passes == 0
    assert out[4].n_words == 0 and out[4].passes == 0
    assert out[5].n_words == 0 and out[5].passes == 0


def test_pmi_separates_collocation_from_independence(spark):
    from mapreduce_golang_spark.operators.text_analysis import token_pmi_pairs

    # "strong collocation": x always followed by y; fillers are shuffled
    rows = [(i, "x y " + "f" + str(i % 3) + " f" + str((i + 1) % 3)) for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.w1, r.w2): r.pmi for r in token_pmi_pairs(docs, min_count=5).collect()}
    assert ("x", "y") in out
    assert out[("x", "y")] > 0  # co-occur far above chance


def test_bm25_prefers_term_dense_docs(spark):
    from mapreduce_golang_spark.operators.text_analysis import bm25_top_docs

    filler = " ".join("pad" for _ in range(20))
    docs = spark.createDataFrame(
        [
            (1, "spark table hash " + filler),  # all three query terms
            (2, "spark " + filler),  # one term
            (3, filler),  # none
        ],
        ["doc_id", "text"],
    )
    out = bm25_top_docs(docs, k=3).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == 1 and ranked[-1] == 3
    scores = {r.doc_id: r.bm25 for r in out}
    assert scores[1] > scores[2] > scores[3] == 0.0


def test_containment_catches_subset_docs(spark):
    from mapreduce_golang_spark.operators.dedup import (
        ngram_jaccard_pairs,
        overlap_containment_pairs,
    )

    quoted = " ".join(f"q{i}" for i in range(12))
    host = quoted + " " + " ".join(f"h{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, quoted), (2, host), (3, " ".join(f"z{i}" for i in range(30)))],
        ["doc_id", "text"],
    )
    cont = {(r.doc_a, r.doc_b): r.containment for r in overlap_containment_pairs(docs).collect()}
    # doc 1 fully contained in doc 2 -> containment 1.0 ...
    assert cont[(1, 2)] == 1.0
    # ... while symmetric Jaccard at the default threshold misses it
    jac = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs).collect()}
    assert (1, 2) not in jac


def test_degree_and_cluster_histograms(spark):
    from mapreduce_golang_spark.operators.graph import (
        dup_cluster_size_hist,
        near_dup_degree_hist,
    )

    docs = spark.createDataFrame([(i, "x") for i in range(1, 7)], ["doc_id", "text"])
    # triangle {1,2,3} + edge {4,5}; 6 is a singleton
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], ["doc_a", "doc_b"]
    )
    deg = {r.degree: r.n_nodes for r in near_dup_degree_hist(docs, pairs=pairs).collect()}
    assert deg == {2: 3, 1: 2}
    hist = {r.cluster_size: r.n_clusters for r in dup_cluster_size_hist(docs, pairs=pairs).collect()}
    assert hist == {3: 1, 2: 1, 1: 1}


def test_markov_transitions_deterministic_chain(spark):
    from mapreduce_golang_spark.operators.windows import markov_transitions

    events = spark.createDataFrame(
        [
            (1, 1, "a", "2024-01-01 00:00:00"),
            (2, 1, "b", "2024-01-01 00:01:00"),
            (3, 1, "a", "2024-01-01 00:02:00"),
            (4, 1, "b", "2024-01-01 00:03:00"),
            (5, 2, "a", "2024-01-01 00:00:00"),
            (6, 2, "c", "2024-01-01 00:01:00"),
        ],
        ["event_id", "user_id", "event_type", "ts_str"],
    ).selectExpr("event_id", "user_id", "event_type", "CAST(ts_str AS TIMESTAMP) AS ts")
    out = {(r.prev_type, r.next_type): (r.n, r.prob) for r in markov_transitions(events).collect()}
    assert out[("a", "b")] == (2, round(2 / 3, 6))  # a -> b twice, a -> c once
    assert out[("a", "c")] == (1, round(1 / 3, 6))
    assert out[("b", "a")] == (1, 1.0)


def test_ewma_constant_series_is_identity(spark):
    from mapreduce_golang_spark.operators.windows import ewma_user_value

    events = spark.createDataFrame(
        [(i, 1, 42.0, f"2024-01-01 00:0{i}:00") for i in range(10)],
        ["event_id", "user_id", "value", "ts_str"],
    ).selectExpr("event_id", "user_id", "value", "CAST(ts_str AS TIMESTAMP) AS ts")
    out = ewma_user_value(events).collect()
    # renormalized truncated EWMA of a constant stream is the constant,
    # including the first row (weight renormalization, no cold-start decay)
    assert all(r.ewma == 42.0 for r in out)


def test_zscore_flags_planted_outlier(spark):
    from mapreduce_golang_spark.operators.windows import value_zscore_anomalies

    rows = [(i, 1, 10.0 + (i % 3) * 0.5, f"2024-01-01 00:{i:02d}:00") for i in range(20)]
    rows.append((99, 1, 500.0, "2024-01-01 01:00:00"))  # wild outlier at the end
    events = spark.createDataFrame(
        rows, ["event_id", "user_id", "value", "ts_str"]
    ).selectExpr("event_id", "user_id", "value", "CAST(ts_str AS TIMESTAMP) AS ts")
    out = value_zscore_anomalies(events).collect()
    assert [r.event_id for r in out] == [99]
    assert out[0].zscore > 2


def test_rfm_extremes_get_extreme_scores(spark):
    from mapreduce_golang_spark.operators.analytics import rfm_user_segments

    rows = []
    # user 1: many recent high-value events; user 8: one old tiny event
    for i in range(8):
        rows.append((100 + i, 1, 100.0, "2024-01-30 12:00:00"))
    for u in range(2, 8):
        rows.append((u, u, 10.0, f"2024-01-{10 + u:02d} 00:00:00"))
    rows.append((99, 8, 0.5, "2024-01-01 00:00:00"))
    events = spark.createDataFrame(
        rows, ["event_id", "user_id", "value", "ts_str"]
    ).selectExpr("event_id", "user_id", "value", "CAST(ts_str AS TIMESTAMP) AS ts")
    out = {r.user_id: r for r in rfm_user_segments(events).collect()}
    assert out[1].r == 4 and out[1].f == 4 and out[1].m == 4 and out[1].segment == 444
    assert out[8].r == 1 and out[8].m == 1


def test_point_in_time_join_picks_version_at_event_ts(spark):
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.operators.merge import point_in_time_join

    dim = spark.createDataFrame(
        [
            (1, 100.0, "2024-01-01 00:00:00", "2024-01-15 00:00:00"),
            (1, 200.0, "2024-01-15 00:00:00", "9999-12-31 00:00:00"),
        ],
        ["cust", "bal", "valid_from", "valid_to"],
    )
    facts = spark.createDataFrame(
        [(10, 1, "2024-01-10 00:00:00"), (11, 1, "2024-01-20 00:00:00")],
        ["event_id", "cust", "ts_str"],
    ).select("event_id", "cust", F.col("ts_str").cast("timestamp").alias("ts"))
    out = {
        r.event_id: r.bal
        for r in point_in_time_join(facts, dim, "cust", "cust", "ts").collect()
    }
    # leakage-free: the Jan-10 event must see the OLD balance
    assert out == {10: 100.0, 11: 200.0}

    # NULL valid_to (the other common open-row convention) is open-ended
    dim_null = spark.createDataFrame(
        [
            (1, 100.0, "2024-01-01 00:00:00", "2024-01-15 00:00:00"),
            (1, 200.0, "2024-01-15 00:00:00", None),
        ],
        ["cust", "bal", "valid_from", "valid_to"],
    )
    out2 = {
        r.event_id: r.bal
        for r in point_in_time_join(facts, dim_null, "cust", "cust", "ts").collect()
    }
    assert out2 == {10: 100.0, 11: 200.0}

    # dim attribute colliding with a fact column must fail loudly
    import pytest

    clash = dim.withColumnRenamed("bal", "ts")
    with pytest.raises(ValueError, match="collide"):
        point_in_time_join(facts, clash, "cust", "cust", "ts")


def test_centroid_outlier_is_the_planted_vector(spark):
    from mapreduce_golang_spark.operators.similarity import centroid_outliers

    dim = 8
    tight = [(i, [1.0] * dim, 0) for i in range(1, 6)]
    planted = [(99, [-1.0] * dim, 0)]
    emb = spark.createDataFrame(tight + planted, ["vec_id", "embedding", "label"])
    out = centroid_outliers(emb, per_label=1).collect()
    assert len(out) == 1 and out[0].vec_id == 99 and out[0].cos_centroid < 0

    # an all-zero vector (failed encode / padding) scores 0.0, not NaN
    with_zero = spark.createDataFrame(
        tight + [(50, [0.0] * dim, 0)], ["vec_id", "embedding", "label"]
    )
    worst = centroid_outliers(with_zero, per_label=1).collect()[0]
    assert worst.vec_id == 50 and worst.cos_centroid == 0.0


def test_qa_reports_match_oracle(query_check):
    for name in ("ann_recall_report", "minhash_estimate_error"):
        assert query_check(name) > 0, name


def test_ann_recall_bounds_and_methods(spark, sf_dir):
    from mapreduce_golang_spark.operators.similarity import ann_recall_report
    from mapreduce_golang_spark.sources.tables import load_table

    out = {r.method: r for r in ann_recall_report(load_table(spark, sf_dir, "embeddings")).collect()}
    assert set(out) == {"ivf", "lsh"}
    for r in out.values():
        assert r.n_queries == 10
        assert 0.0 <= r.min_recall <= r.avg_recall <= 1.0


def test_minhash_estimate_exact_for_identical_docs(spark):
    from mapreduce_golang_spark.operators.dedup import minhash_estimate_error

    text = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, " ".join(f"z{i}" for i in range(30)))],
        ["doc_id", "text"],
    )
    rows = {(r.doc_a, r.doc_b): r for r in minhash_estimate_error(docs).collect()}
    # identical docs: every minhash agrees, exact Jaccard 1, zero error
    assert rows[(1, 2)].est_jaccard == 1.0
    assert rows[(1, 2)].jaccard == 1.0
    assert rows[(1, 2)].abs_err == 0.0
    assert (1, 3) not in rows and (2, 3) not in rows


def test_wave4_ops_match_oracle(query_check):
    for name in ("user_path_trigrams", "label_znorm_check"):
        assert query_check(name) > 0, name


def test_path_trigrams_counts_sliding_windows(spark):
    from mapreduce_golang_spark.operators.windows import user_path_trigrams

    events = spark.createDataFrame(
        [
            (1, 1, "a", "2024-01-01 00:00:00"),
            (2, 1, "b", "2024-01-01 00:01:00"),
            (3, 1, "c", "2024-01-01 00:02:00"),
            (4, 1, "a", "2024-01-01 00:03:00"),
            (5, 2, "a", "2024-01-01 00:00:00"),
            (6, 2, "b", "2024-01-01 00:01:00"),  # only 2 events: no trigram
        ],
        ["event_id", "user_id", "event_type", "ts_str"],
    ).selectExpr("event_id", "user_id", "event_type", "CAST(ts_str AS TIMESTAMP) AS ts")
    out = {r.path: r.n for r in user_path_trigrams(events).collect()}
    # user 1's 4 events slide into exactly two trigrams; user 2 contributes none
    assert out == {"a>b>c": 1, "b>c>a": 1}


def test_label_znorm_invariants(spark):
    from mapreduce_golang_spark.operators.similarity import label_znorm_check

    # label 0: varying dims -> z-scores with unit population variance;
    # label 1: all-identical vectors -> sd 0 everywhere -> all-zero z
    emb = spark.createDataFrame(
        [
            (1, [1.0, 10.0], 0),
            (2, [3.0, 30.0], 0),
            (10, [5.0, 5.0], 1),
            (11, [5.0, 5.0], 1),
        ],
        ["vec_id", "embedding", "label"],
    )
    out = {r.vec_id: r for r in label_znorm_check(emb).collect()}
    # two symmetric points: z = ±1 in both dims -> mean_abs 1, l2 = sqrt(2)
    assert out[1].mean_abs == 1.0 and out[2].mean_abs == 1.0
    assert abs(out[1].l2 - 2 ** 0.5) < 1e-3
    assert out[10].mean_abs == 0.0 and out[10].l2 == 0.0


def test_wave5_ops_match_oracle(query_check):
    for name in ("char_trigram_logprob", "source_lang_entropy"):
        assert query_check(name) > 0, name


def test_trigram_logprob_flags_anomalous_doc(spark):
    from mapreduce_golang_spark.operators.text_analysis import char_trigram_logprob

    typical = "the quick brown fox jumps over the lazy dog and runs away "
    docs = spark.createDataFrame(
        [(i, typical * 3) for i in range(1, 9)]
        + [(9, "zzqxj qjxzz xjqzz zzzxq jqxzz")]  # gibberish: rare trigrams
        + [(10, "ab")],  # sub-trigram doc -> excluded, not a bogus row
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.avg_nll for r in char_trigram_logprob(docs).collect()}
    assert 10 not in out
    # the gibberish doc's self-perplexity dominates every typical doc's
    assert out[9] > max(v for k, v in out.items() if k != 9)


def test_lang_entropy_mono_vs_mixed(spark):
    from mapreduce_golang_spark.operators.text_analysis import source_lang_entropy

    import math

    docs = spark.createDataFrame(
        [(i, "x", "en", "mono", 1) for i in range(4)]
        + [(10 + i, "x", ["en", "de", "fr", "es"][i % 4], "mixed", 1) for i in range(8)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.source: r for r in source_lang_entropy(docs).collect()}
    assert out["mono"].entropy == 0.0 and out["mono"].n_langs == 1
    # uniform 4-way mix -> ln(4)
    assert abs(out["mixed"].entropy - round(math.log(4), 6)) < 1e-6
