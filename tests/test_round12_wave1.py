"""Round-12 wave 1: the graph loops' two execution paths.

Round-11 verdict #4 made the iterative family's per-round cost a
first-class concern: below the measured GRAPH_BROADCAST_MAX_ROWS gate
the loops attach broadcast hints (and PageRank runs fully lazy);
above it they keep the co-partitioned shuffle-join + checkpoint path.
The fixture corpus only ever exercises the small path, so these tests
FORCE the big path (gate monkeypatched to 0) and pin path-equality —
an optimization that diverges the two plans' RESULTS must fail here,
not at 100×.
"""

from __future__ import annotations

import pytest

from mapreduce_golang_spark.operators import dedup as dedup_mod
from mapreduce_golang_spark.operators import graph as graph_mod


@pytest.fixture()
def tiny_graph(spark):
    # two components: a 4-clique-ish cluster {1,2,3,4} and a pair
    # {10,11}; doc 20 is a singleton (appears in docs, not in pairs)
    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9),
            (1, 3, 0.8),
            (2, 3, 0.7),
            (3, 4, 0.6),
            (10, 11, 0.55),
        ],
        ["doc_a", "doc_b", "jaccard"],
    )
    docs = spark.createDataFrame(
        [(i, "x") for i in (1, 2, 3, 4, 10, 11, 20)], ["doc_id", "text"]
    )
    return docs, pairs


def _force_big_path(monkeypatch):
    # every loop reads the gate through dedup's own global at call time
    monkeypatch.setattr(dedup_mod, "GRAPH_BROADCAST_MAX_ROWS", 0)


def test_pagerank_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    small = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_pagerank(docs, pairs=pairs).collect()
    }
    _force_big_path(monkeypatch)
    big = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_pagerank(docs, pairs=pairs).collect()
    }
    # identical iteration dataflow → identical round-6 values
    assert small == big and len(small) == 6  # singleton 20 has no edges


def test_weighted_pagerank_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    small = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_weighted_pagerank(docs, pairs=pairs).collect()
    }
    _force_big_path(monkeypatch)
    big = {
        r.doc_id: r.rank
        for r in graph_mod.near_dup_weighted_pagerank(docs, pairs=pairs).collect()
    }
    assert small == big and len(small) == 6


def test_components_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    small = {
        r.doc_id: r.component_id
        for r in dedup_mod.near_dup_components(docs, pairs=pairs).collect()
    }
    _force_big_path(monkeypatch)
    big = {
        r.doc_id: r.component_id
        for r in dedup_mod.near_dup_components(docs, pairs=pairs).collect()
    }
    assert small == big
    # exact fixpoint either way: min-label per component, singleton maps
    # to itself
    assert small == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_kcore_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    small = {
        r.doc_id: r.core_degree
        for r in graph_mod.kcore_docs(docs, pairs=pairs).collect()
    }
    _force_big_path(monkeypatch)
    big = {
        r.doc_id: r.core_degree
        for r in graph_mod.kcore_docs(docs, pairs=pairs).collect()
    }
    assert small == big
    # the 2-core is the {1,2,3} triangle: 4 hangs off 3 (degree 1 →
    # pruned, which drops 3 to degree 2), the {10,11} pair prunes away
    assert small == {1: 2, 2: 2, 3: 2}


def test_small_path_pagerank_plan_is_broadcast(spark, tiny_graph):
    """Below the gate the per-iteration join must be broadcast-hash —
    never a shuffle of the checkpointed edge list. With the measured
    checkpoint cadence (every 2nd iteration) an odd iteration count
    leaves the final iteration lazy, so its join is visible in the
    returned plan."""
    docs, pairs = tiny_graph
    ranks = graph_mod.near_dup_pagerank(docs, pairs=pairs, iterations=3)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


#: Spark jobs each loop launches on ``tiny_graph`` (build + collect) at
#: the test session's local[4]. Pinned from the loops as they stood
#: before they shared one set of primitives (checkpoint_counted,
#: _sym_edges, _graph_bc, _pagerank), so a change that adds or drops a
#: scheduler round-trip on either path fails here.
_TINY_GRAPH_JOBS = {
    "small": {
        "near_dup_components": 19,
        "near_dup_pagerank": 33,
        "near_dup_weighted_pagerank": 33,
        "kcore_docs": 14,
    },
    "big": {
        "near_dup_components": 29,
        "near_dup_pagerank": 48,
        "near_dup_weighted_pagerank": 48,
        "kcore_docs": 16,
    },
}


@pytest.mark.parametrize("path", ["small", "big"])
def test_graph_loop_job_counts(spark, tiny_graph, monkeypatch, launched_jobs, path):
    docs, pairs = tiny_graph
    if path == "big":
        _force_big_path(monkeypatch)
    loops = {
        "near_dup_components": dedup_mod.near_dup_components,
        "near_dup_pagerank": graph_mod.near_dup_pagerank,
        "near_dup_weighted_pagerank": graph_mod.near_dup_weighted_pagerank,
        "kcore_docs": graph_mod.kcore_docs,
    }
    counts = {}
    for name, fn in loops.items():
        with launched_jobs() as jobs:
            fn(docs, pairs=pairs).collect()
        counts[name] = len(jobs)
    assert counts == _TINY_GRAPH_JOBS[path]
