"""Round-5 additions: batch hopping windows, LOCF gap-fill, central
moments, cohort retention, sentence segmentation — plus the arrow-UDTF
twin of the sentence splitter and the wiring-level pair-graph cache.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
import pytest
from pyspark.sql import functions as F

NEW_QUERIES = [
    "hopping_window_counts",
    "gap_fill_locf",
    "value_moment_stats",
    "user_retention_cohorts",
    "sentence_stats",
    "value_ntile_deciles",
    "orphan_events",
    "lang_confusion_matrix",
    "zipf_slope",
    "pii_scan",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_hopping_assigns_two_windows_per_event(spark, sf_dir):
    from mapreduce_golang_spark.operators.windows import hopping_window_counts
    from mapreduce_golang_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = hopping_window_counts(events)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    # width/slide = 2 overlapping windows per event, exactly
    assert total == 2 * events.count()


def test_gap_fill_grid_is_dense(spark, sf_dir):
    from mapreduce_golang_spark.operators.windows import gap_fill_locf
    from mapreduce_golang_spark.sources.tables import load_table

    out = gap_fill_locf(load_table(spark, sf_dir, "events"))
    rows = out.collect()
    assert all(r.n_days == r.n_observed + r.n_filled for r in rows)
    # LOCF starts from an observed day, so every grid day has a value
    assert all(r.n_days >= 1 for r in rows)


def test_retention_week_zero_counts_every_user(spark, sf_dir):
    from mapreduce_golang_spark.operators.analytics import user_retention_cohorts
    from mapreduce_golang_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = user_retention_cohorts(events)
    week0 = (
        out.where(F.col("week_offset") == 0).agg(F.sum("n_users")).collect()[0][0]
    )
    # every user is active in their own cohort week by construction
    assert week0 == events.select("user_id").distinct().count()


def test_udtf_matches_native_sentence_stats(spark, sf_dir):
    """The row-at-a-time arrow UDTF and the codegen array expression
    must agree on segmentation — same sentence count and word counts
    per document."""
    from mapreduce_golang_spark.functions.udtf import register_udtfs
    from mapreduce_golang_spark.operators.text_analysis import sentence_stats
    from mapreduce_golang_spark.sources.tables import load_table

    register_udtfs(spark)
    # fixture corpus PLUS whitespace-edge docs where SQL trim (spaces
    # only) and Java split's phantom leading token could diverge from
    # a naive Python strip()/split
    edge = spark.createDataFrame(
        [
            (10**9 + 1, "Hello.\nWorld two words.", "en", "web", 23),
            (10**9 + 2, "a.\t.b", "en", "web", 5),
            (10**9 + 3, "  lots   of  space . next!one", "en", "web", 29),
            (10**9 + 4, "\t\n.", "en", "web", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = load_table(spark, sf_dir, "documents").unionByName(edge)
    docs.createOrReplaceTempView("docs_for_udtf")
    via_udtf = spark.sql(
        """
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_sentences,
               round(avg(n_words), 6) AS avg_sentence_words,
               CAST(max(n_words) AS BIGINT) AS max_sentence_words
        FROM docs_for_udtf, LATERAL split_sentences(text)
        GROUP BY doc_id
        """
    )
    native = sentence_stats(docs)
    assert via_udtf.exceptAll(native).count() == 0
    assert native.exceptAll(via_udtf).count() == 0


def test_pair_graph_cache_returns_one_materialization(spark, sf_dir):
    """The wiring's pair-graph cache must hand every consumer the SAME
    checkpointed DataFrame (materialize-once contract) and still match
    a fresh derivation."""
    from mapreduce_golang_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_golang_spark.sources.tables import load_table

    a = entrymod._pair_graph(spark, sf_dir)
    b = entrymod._pair_graph(spark, sf_dir)
    assert a is b
    fresh = ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))
    assert a.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(a).count() == 0


def test_orphan_events_counts_injected_orphans(spark, sf_dir):
    """Seeding events with user_ids outside the customer key space
    must surface exactly those rows as orphans."""
    from mapreduce_golang_spark.operators.analytics import orphan_events
    from mapreduce_golang_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    bad = events.limit(7).withColumn("user_id", F.col("user_id") + F.lit(10**12))
    report = orphan_events(events.unionByName(bad), customer)
    assert report.agg(F.sum("n_orphans")).collect()[0][0] == 7
    clean = orphan_events(events, customer)
    assert clean.agg(F.sum("n_orphans")).collect()[0][0] == 0
    assert clean.count() > 0


def test_pii_scan_counts_injected_patterns(spark, sf_dir):
    """Docs seeded with an email, a URL, and a long digit run must be
    counted under exactly their pattern (and clean fixture docs under
    none)."""
    from mapreduce_golang_spark.operators.text_analysis import pii_scan
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    dirty = spark.createDataFrame(
        [
            (10**9 + 1, "contact me at alice@example.com please", "en", "seeded", 38),
            (10**9 + 2, "see https://example.com/path for details", "en", "seeded", 40),
            (10**9 + 3, "card number 123456789 leaked", "en", "seeded", 28),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    report = {r.source: r for r in pii_scan(docs.unionByName(dirty)).collect()}
    seeded = report["seeded"]
    assert (seeded.n_email, seeded.n_url, seeded.n_long_digits) == (1, 1, 1)
    clean_totals = [
        (r.n_email, r.n_url, r.n_long_digits)
        for s, r in report.items()
        if s != "seeded"
    ]
    assert all(t == (0, 0, 0) for t in clean_totals)


def test_zipf_slope_is_negative_on_fixture_text(spark, sf_dir):
    """Word-frequency distributions decay with rank, so every source's
    fitted log-log slope must be strictly negative."""
    from mapreduce_golang_spark.operators.text_analysis import zipf_slope
    from mapreduce_golang_spark.sources.tables import load_table

    rows = zipf_slope(load_table(spark, sf_dir, "documents")).collect()
    assert rows
    assert all(r.slope < 0 for r in rows)
    assert all(r.n_types > 0 for r in rows)
