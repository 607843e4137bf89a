"""Round-12 wave 1: the graph loops' two execution paths.

Round-11 verdict #4 made the iterative family's per-round cost a
first-class concern: below the measured GRAPH_BROADCAST_MAX_ROWS gate
the loops attach broadcast hints (and PageRank runs fully lazy);
above it they keep the co-partitioned shuffle-join + checkpoint path.
(Connected components' small path does not loop at all: it solves the
graph on the driver.) The fixture corpus only ever exercises the small
path, so these tests FORCE the big path (gate monkeypatched to 0) and
pin path-equality — an optimization that diverges the two plans'
RESULTS must fail here, not at 100×.
"""

from __future__ import annotations

import random

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


def _random_graph(spark, seed: int = 12):
    """A few hundred nodes holding every shape the two component paths
    could split on: a long chain with shuffled ids (its min sits
    anywhere along it), a star whose hub is not its min, a cycle, sparse random
    edges among 200 nodes, and singletons that appear in no pair."""
    rng = random.Random(seed)
    chain = rng.sample(range(1000, 1100), 80)
    star_hub, star_leaves = 2050, list(range(2000, 2040))
    cycle = list(range(3000, 3030))
    edges = list(zip(chain, chain[1:]))
    edges += [(star_hub, leaf) for leaf in star_leaves]
    edges += list(zip(cycle, cycle[1:] + cycle[:1]))
    edges += [tuple(rng.sample(range(200), 2)) for _ in range(150)]
    # ngram_jaccard_pairs emits doc_a < doc_b; so do these
    pairs = spark.createDataFrame(
        [(a, b, 0.5) for a, b in sorted({(min(e), max(e)) for e in edges})],
        ["doc_a", "doc_b", "jaccard"],
    )
    ids = {i for e in edges for i in e} | set(range(4000, 4020))
    docs = spark.createDataFrame([(i, "x") for i in sorted(ids)], ["doc_id", "text"])
    return docs, pairs, edges, ids


def _min_labels(edges, ids) -> dict:
    """Each node's component minimum, by a plain graph walk."""
    adj: dict = {i: [] for i in ids}
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    label: dict = {}
    for start in sorted(ids):
        if start in label:
            continue
        label[start], todo = start, [start]
        while todo:
            for nxt in adj[todo.pop()]:
                if nxt not in label:
                    label[nxt] = start
                    todo.append(nxt)
    return label


def test_components_big_path_equals_small_path(spark, tiny_graph, monkeypatch):
    docs, pairs = tiny_graph
    rdocs, rpairs, redges, rids = _random_graph(spark)

    def solve(d, p, max_iter=15):
        out = dedup_mod.near_dup_components(d, pairs=p, max_iter=max_iter)
        return {r.doc_id: r.component_id for r in out.collect()}, out.schema

    # the loop needs 18 hops on the random graph: pointer jumping is
    # O(log diameter) only on a chain whose ids grow along it, and its
    # chain's ids are shuffled (see ROADMAP, "components loop hops")
    small, small_schema = solve(docs, pairs)
    rsmall, rsmall_schema = solve(rdocs, rpairs, max_iter=40)
    _force_big_path(monkeypatch)
    big, big_schema = solve(docs, pairs)
    rbig, rbig_schema = solve(rdocs, rpairs, max_iter=40)
    assert small == big
    # exact fixpoint either way: min-label per component, singleton maps
    # to itself
    assert small == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}
    assert rsmall == rbig == _min_labels(redges, rids)
    # names, types and nullability
    assert small_schema == big_schema and rsmall_schema == rbig_schema


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
#: scheduler round-trip on either path fails here. The components' small
#: path is the driver solve since: edge checkpoint, endpoint collect, and
#: the labels' broadcast plus the corpus join at collect.
_TINY_GRAPH_JOBS = {
    "small": {
        "near_dup_components": 4,
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
