from __future__ import annotations



def test_pagerank_matches_oracle(query_check):
    assert query_check("near_dup_pagerank") > 0


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    from mapreduce_golang_spark.operators.graph import near_dup_pagerank

    # star graph: hub 1 connected to 2,3,4 (crafted pairs input)
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.9), (1, 4, 0.9)], ["doc_a", "doc_b", "jaccard"]
    )
    docs = spark.createDataFrame([(i, "x") for i in range(1, 5)], ["doc_id", "text"])
    ranks = {r.doc_id: r.rank for r in near_dup_pagerank(docs, pairs=pairs).collect()}
    # no dangling nodes → total rank mass stays 1
    assert abs(sum(ranks.values()) - 1.0) < 1e-4
    # the hub outranks every leaf; leaves are symmetric
    assert ranks[1] > ranks[2] == ranks[3] == ranks[4]


def test_triangles_match_oracle(query_check):
    assert query_check("near_dup_triangles") > 0


def test_triangles_enumerated_exactly_once(spark):
    from mapreduce_golang_spark.operators.graph import near_dup_triangles

    # K4 on {1,2,3,4} has exactly 4 triangles; the extra 4-5 edge adds
    # none. Edges are canonical (a < b).
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    rows = sorted(
        (r.doc_a, r.doc_b, r.doc_c)
        for r in near_dup_triangles(None, pairs=pairs).collect()
    )
    assert rows == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_reachability_matches_oracle(query_check):
    assert query_check("near_dup_reachability") > 0


def test_reachability_depth_bound(spark):
    from mapreduce_golang_spark.operators.graph import near_dup_reachability

    # chain 1-2-3-4-5-6: seed is 1, depth bound 3 -> reach {1,2,3,4}
    # with min_depth = distance from the seed
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["doc_a", "doc_b"]
    )
    rows = {
        r.doc_id: r.min_depth
        for r in near_dup_reachability(spark, None, pairs=pairs, max_depth=3).collect()
    }
    assert rows == {1: 0, 2: 1, 3: 2, 4: 3}


def test_weighted_pagerank_matches_oracle(query_check):
    assert query_check("near_dup_weighted_pagerank") > 0


def test_weighted_pagerank_favors_strong_edges(spark):
    from mapreduce_golang_spark.operators.graph import near_dup_weighted_pagerank

    # star: hub 1 with one strong (0.9) and two weak (0.1) edges —
    # the strong leaf must outrank the weak ones (inflow ∝ w/W(u)),
    # which unweighted PageRank by construction cannot distinguish
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.1), (1, 4, 0.1)], ["doc_a", "doc_b", "jaccard"]
    )
    docs = spark.createDataFrame([(i, "x") for i in range(1, 5)], ["doc_id", "text"])
    ranks = {r.doc_id: r.rank for r in near_dup_weighted_pagerank(docs, pairs=pairs).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-4  # no dangling mass
    assert ranks[2] > ranks[3] == ranks[4]
    assert ranks[1] > ranks[2]  # the hub still receives every leaf's full outflow
