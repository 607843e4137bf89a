"""Round-8 wave 35: streaming near-dup (dropDuplicatesWithinWatermark
over a full MinHash signature), the polymorphic analyze-phase UDTF,
and the CDC MERGE surface (I/U/D + out-of-order sequence resolution).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize(
    "name",
    ["cdc_orders_state", "streaming_near_dup_docs", "polymorphic_trigram_topk"],
)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


# --- cdc_apply_changes unit semantics --------------------------------------


def _apply(spark, changes):
    from mapreduce_golang_spark.operators.merge import cdc_apply_changes

    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"])
    ch = spark.createDataFrame(changes, ["id", "v", "seq", "op"])
    out = cdc_apply_changes(target, ch, "id", "seq")
    return {r.id: r.v for r in out.collect()}


def test_cdc_insert_update_delete(spark):
    got = _apply(
        spark,
        [
            (2, "B2", 1, "U"),  # update existing
            (3, None, 1, "D"),  # delete existing
            (4, "d", 1, "I"),  # insert new
        ],
    )
    assert got == {1: "a", 2: "B2", 4: "d"}


def test_cdc_out_of_order_seq_latest_wins(spark):
    # seq 3 arrives before seq 5 in the log; 5 must win regardless
    got = _apply(spark, [(2, "old", 3, "U"), (2, "new", 5, "U")])
    assert got[2] == "new"


def test_cdc_delete_then_reinsert_by_seq(spark):
    # D at seq 1, I at seq 2 → the key survives with the new payload
    got = _apply(spark, [(3, None, 1, "D"), (3, "c2", 2, "I")])
    assert got == {1: "a", 2: "b", 3: "c2"}


def test_cdc_update_then_delete_by_seq(spark):
    # U at seq 1, D at seq 2 → the key is gone
    got = _apply(spark, [(2, "B2", 1, "U"), (2, None, 2, "D")])
    assert got == {1: "a", 3: "c"}


def test_cdc_same_seq_tie_breaks_u_over_i(spark):
    # documented convention: same-seq tie resolves by op DESC (U > I)
    got = _apply(spark, [(5, "ins", 7, "I"), (5, "upd", 7, "U")])
    assert got[5] == "upd"


def test_cdc_target_not_rescanned_plan(spark):
    """The target side must pay exactly one anti-join — no window, no
    sort over target rows (the change log is the only windowed input)."""
    from mapreduce_golang_spark.operators.merge import cdc_apply_changes
    from mapreduce_golang_spark.sources.tables import load_table

    target = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    changes = (
        target.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("seq", (F.col("o_orderkey") % 3).cast("long"))
        .withColumn("op", F.lit("U"))
    )
    out = cdc_apply_changes(target, changes, "o_orderkey", "seq")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the Union's two branches may each re-derive the winners window
    # (≤2 Window nodes, both over the filtered change log); the target
    # side must join via a hash anti-join, never sort-merge the 100 TB
    # side under the window
    # "Window [" excludes the WindowGroupLimit pushdown nodes (which are
    # themselves the optimization we want — top-1 before the exchange)
    assert 1 <= plan.count("Window [") <= 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert "LeftAnti" in plan, plan
    # every Sort in the plan belongs to a Window over the change log
    # (ordered by seq) — a Sort on target columns only would be a rescan
    for line in plan.splitlines():
        if "Sort [" in line:
            assert "seq" in line, line


# --- polymorphic UDTF -------------------------------------------------------


def test_ngram_explode_schema_follows_argument(spark):
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    ).createOrReplaceTempView("ngx_t")
    two = spark.sql("SELECT * FROM ngx_t, LATERAL ngram_explode(text, 2)")
    four = spark.sql("SELECT * FROM ngx_t, LATERAL ngram_explode(text, 4)")
    assert [c for c in two.columns if c.startswith("tok_")] == ["tok_1", "tok_2"]
    assert [c for c in four.columns if c.startswith("tok_")] == [
        "tok_1",
        "tok_2",
        "tok_3",
        "tok_4",
    ]
    assert two.count() == 3
    rows = four.collect()
    assert len(rows) == 1
    assert (rows[0].tok_1, rows[0].tok_4) == ("alpha", "delta")


def test_ngram_explode_rejects_out_of_range_n(spark):
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame([(1, "a b c")], ["doc_id", "text"]).createOrReplaceTempView(
        "ngx_bad"
    )
    with pytest.raises(Exception):
        spark.sql(
            "SELECT * FROM ngx_bad, LATERAL ngram_explode(text, 99)"
        ).collect()


def test_ngram_explode_rejects_non_literal_n(spark):
    # a column reference reaches analyze() with n.value None — the
    # schema cannot be resolved at plan time and must fail cleanly
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame([(1, "a b c")], ["doc_id", "text"]).createOrReplaceTempView(
        "ngx_bad2"
    )
    with pytest.raises(Exception):
        spark.sql(
            "SELECT * FROM ngx_bad2, LATERAL ngram_explode(text, doc_id)"
        ).collect()


def test_ngram_explode_rejects_boolean_literal_n(spark):
    # bool passes isinstance(..., int); ngram_explode(text, true) must
    # NOT silently mean n=1
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame([(1, "a b c")], ["doc_id", "text"]).createOrReplaceTempView(
        "ngx_bad3"
    )
    with pytest.raises(Exception):
        spark.sql(
            "SELECT * FROM ngx_bad3, LATERAL ngram_explode(text, true)"
        ).collect()


# --- streaming near-dup ------------------------------------------------------


def test_streaming_near_dup_collapses_near_identical(spark, tmp_path):
    """Two docs differing by one trailing token (shingle overlap high
    enough to agree on all 12 minhashes is NOT guaranteed — so use an
    EXACT near-dup: identical text) collapse to one survivor; a
    genuinely different doc survives separately."""
    import pandas as pd

    df = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",
                "entirely different words live in this document here",
            ],
            "lang": ["en"] * 3,
            "source": ["s1"] * 3,
            "n_chars": [44, 44, 52],
        }
    )
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # must be a single FILE named documents.parquet — the streaming
    # reader's pathGlobFilter matches file names, like the fixture
    d = str(tmp_path / "neardup")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df), d + "/documents.parquet")
    from mapreduce_golang_spark.streaming.events_stream import streaming_near_dup_docs

    out = streaming_near_dup_docs(spark, d)
    got = {r.source: r.n_unique_docs for r in out.collect()}
    assert got == {"s1": 2}


# --- hierarchical SemDeDup (wave 35 scale path) ------------------------------


def test_semdedup_hier_matches_oracle(query_check):
    assert query_check("semdedup_hier_survivors") > 0


def test_semdedup_hier_drops_exact_duplicates(spark):
    """Exact-duplicate vectors are always co-clustered (identical
    distances → identical assignment at every level), so the drop is
    clustering-independent: of each duplicate pair the higher vec_id
    must go, whatever k1/k2 the corpus size derives."""
    import pandas as pd

    rows = []
    for i in range(200):
        base = [float((i * 37 + d * 11) % 97) / 97.0 for d in range(64)]
        rows.append((i, base, i % 5))
    # ten exact duplicates of vectors 0..9 with high ids
    for j in range(10):
        rows.append((1000 + j, rows[j][1], j % 5))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    df = spark.createDataFrame(pdf)
    from mapreduce_golang_spark.operators.similarity import semdedup_hier_survivors

    out = semdedup_hier_survivors(df)
    ids = {r.vec_id for r in out.collect()}
    assert all(1000 + j not in ids for j in range(10)), ids & {1000 + j for j in range(10)}
    assert all(j in ids for j in range(10))


def test_semdedup_hier_k_split_shape():
    """k1 = ceil(sqrt(k)), k2 = ceil(k/k1): the n×(k1+k2) ≈ n×2√k
    distance bill that replaces the flat n×k."""
    import math

    from mapreduce_golang_spark.operators.similarity import semdedup_auto_k

    for n in (500, 2000, 60000, 512000):
        k = semdedup_auto_k(n)
        k1 = math.isqrt(k)
        if k1 * k1 < k:
            k1 += 1
        k2 = -(-k // k1)
        assert k1 * k2 >= k  # every derived cluster id is addressable
        assert k1 + k2 <= 2 * k1 + 1  # balanced split: the 2*sqrt(k) bill
