from __future__ import annotations

import __spark_entry__ as entrymod
import pytest


@pytest.mark.parametrize(
    "name", ["chunk_documents", "pack_sequences", "redact_numbers", "corpus_final_selection"]
)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_chunking_covers_all_tokens_with_overlap(spark):
    from mapreduce_golang_spark.operators.corpus import chunk_documents

    # letters-only words (digits would split under the Go-faithful tokenizer)
    words = [chr(97 + i // 26) + chr(97 + i % 26) for i in range(95)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    rows = sorted(chunk_documents(df, chunk_tokens=50, overlap=10).collect(), key=lambda r: r.chunk_idx)
    # stride 40 over 95 tokens → chunks at 0, 40, 80
    assert [r.chunk_idx for r in rows] == [0, 1, 2]
    assert rows[0].n_tokens == 50 and rows[1].n_tokens == 50 and rows[2].n_tokens == 15
    assert rows[0].chunk_text.split()[:2] == words[:2]
    assert rows[1].chunk_text.split()[0] == words[40]  # overlap: 40..49 shared with chunk 0
    assert rows[2].chunk_text.split()[-1] == words[94]


def test_packing_respects_budget_order(spark):
    from mapreduce_golang_spark.operators.corpus import pack_sequences

    docs = [(i, "tok " * 30, "s0") for i in range(10)]  # 30 tokens each
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    rows = {(r.source, r.bin): (r.n_docs, r.total_tokens) for r in pack_sequences(df, budget_tokens=100).collect()}
    # 30-token docs into 100-token bins: pre-sums 0,30,60,90 → bin0 gets 4 docs
    assert rows[("s0", 0)] == (4, 120)
    assert sum(n for n, _ in rows.values()) == 10


def test_redaction_counts(spark):
    from mapreduce_golang_spark.operators.corpus import redact_numbers

    df = spark.createDataFrame(
        [(1, '{"k": 87, "v": 3}'), (2, "{}")],
        ["event_id", "props"],
    )
    rows = {r.event_id: (r.props_redacted, r.n_redacted) for r in redact_numbers(df).collect()}
    assert rows[1] == ('{"k": <NUM>, "v": <NUM>}', 2)
    assert rows[2] == ("{}", 0)


def test_corpus_funnel_report_matches_oracle(query_check):
    assert query_check("corpus_funnel_report") == 6


def test_corpus_funnel_is_monotone(spark, sf_dir):
    # each gate is cumulative, so counts must be non-increasing, and the
    # last stage must equal the final-selection count intersected with
    # the exact/lang gates' survivors
    import __spark_entry__ as entrymod

    rows = sorted(
        entrymod.queries()["corpus_funnel_report"](spark, sf_dir).collect(),
        key=lambda r: r.stage_idx,
    )
    counts = [r.n_docs for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert rows[0].stage == "total" and rows[-1].stage == "near_dup_survivor"


def test_deterministic_doc_sample_stable_under_partitioning(spark, sf_dir):
    # hash-threshold membership must be a pure function of doc_id —
    # identical under any repartitioning, unlike df.sample
    from mapreduce_golang_spark.operators.corpus import deterministic_doc_sample
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(r.doc_id for r in deterministic_doc_sample(docs).collect())
    b = sorted(
        r.doc_id for r in deterministic_doc_sample(docs.repartition(13)).collect()
    )
    assert a == b and len(a) > 0
    # rate lands in a loose band around 10% (multiplicative hash mixes)
    n_total = docs.count()
    assert 0.02 <= len(a) / n_total <= 0.25


def test_deterministic_doc_sample_rate_monotone(spark, sf_dir):
    from mapreduce_golang_spark.operators.corpus import deterministic_doc_sample
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    small = {r.doc_id for r in deterministic_doc_sample(docs, rate_permille=50).collect()}
    big = {r.doc_id for r in deterministic_doc_sample(docs, rate_permille=500).collect()}
    assert small <= big  # threshold samples nest
