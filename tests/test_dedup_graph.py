from __future__ import annotations

import pytest


@pytest.mark.parametrize(
    "name",
    ["q6_forecast_revenue", "q10_returned_items", "q12_late_shipments", "q14_promo_revenue_share",
     "near_dup_survivors", "near_dup_components", "near_dup_pipeline"],
)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_components_transitive_chain(spark):
    # a~b and b~c but a!~c directly: all three must share one component
    # (the greedy survivor heuristic would also drop b and c — the
    # component view is the transitive-correct grouping).
    from mapreduce_golang_spark.operators.dedup import near_dup_components

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()
    base = " ".join(words)  # w0..w11
    chain_b = " ".join(words[2:] + ["xray", "yankee"])  # w2..w11 x1 x2 → j(base,b)=8/12
    chain_c = " ".join(words[4:] + ["xray", "yankee", "zulu", "whiskey"])  # j(b,c)=8/12, j(base,c)=6/14<0.5
    df = spark.createDataFrame(
        [(1, base), (2, chain_b), (3, chain_c), (10, "unrelated totally different text here ok")],
        ["doc_id", "text"],
    )
    comp = {r.doc_id: r.component_id for r in near_dup_components(df).collect()}
    assert comp[10] == 10
    assert comp[1] == comp[2] == comp[3] == 1


def test_pipeline_consistent_with_parts(spark, sf_dir):
    # the materialize-once pipeline must agree with the standalone
    # operators it composes (same pairs → same components/survivors)
    from mapreduce_golang_spark.operators.dedup import (
        near_dup_components,
        near_dup_pipeline,
        near_dup_survivors,
    )
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pipe = near_dup_pipeline(docs).collect()
    comp = {r.doc_id: r.component_id for r in near_dup_components(docs).collect()}
    surv = {r.doc_id for r in near_dup_survivors(docs).collect()}
    assert {r.doc_id: r.component_id for r in pipe} == comp
    assert {r.doc_id for r in pipe if r.is_survivor == 1} == surv
    sizes: dict[int, int] = {}
    for r in pipe:
        sizes[r.component_id] = sizes.get(r.component_id, 0) + 1
    assert all(r.component_size == sizes[r.component_id] for r in pipe)


@pytest.mark.parametrize("path", ["small", "big"])
def test_components_pointer_jumping_collapses_long_chain(spark, monkeypatch, path):
    # a 64-node path graph has diameter 63 — naive min-label needs 63
    # rounds; pointer jumping must finish within max_iter=10 (O(log d)).
    # Below the edge gate the driver solves it and max_iter is unused,
    # so the big path (gate forced to 0) keeps the loop's hop bound
    # covered.
    from mapreduce_golang_spark.operators import dedup as dedup_mod

    if path == "big":
        monkeypatch.setattr(dedup_mod, "GRAPH_BROADCAST_MAX_ROWS", 0)
    n = 64
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(n)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], ["doc_a", "doc_b", "jaccard"]
    )
    comp = dedup_mod.near_dup_components(docs, pairs=pairs, max_iter=10).collect()
    assert {r.component_id for r in comp} == {0}
    assert len(comp) == n
