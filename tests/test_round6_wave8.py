"""Round-6 wave 8: hot-shingle cap audit, equi-depth value bins, MMR
diverse top-k — oracle matches at the test SF plus crafted-input
behavioral checks.
"""

from __future__ import annotations

import pytest



@pytest.mark.parametrize(
    "name",
    ["hot_shingles_report", "value_equidepth_bins", "mmr_diverse_topk"],
)
def test_wave8_matches_oracle(query_check, name):
    assert query_check(name) > 0


def test_hot_shingles_flags_cap_crossers(spark):
    from mapreduce_golang_spark.operators.dedup import hot_shingles_report

    # letters-only tokenizer: the unique token must be alphabetic
    docs = spark.createDataFrame(
        [
            (i, "common shingle here unique%s tail" % ("a" * (i + 1)), "en", "s", 10)
            for i in range(5)
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r.shingle: r for r in hot_shingles_report(docs, max_doc_freq=3).collect()}
    assert out["common shingle here"].doc_freq == 5
    assert out["common shingle here"].capped  # 5 > cap 3
    # per-doc unique shingles sit at freq 1, uncapped
    assert not out["shingle here uniquea"].capped


def test_equidepth_bins_are_balanced(spark):
    from mapreduce_golang_spark.operators.analytics import value_equidepth_bins

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, i % 7, "view", float(i), "{}") for i in range(100)]
    events = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    out = {r.bin: r for r in value_equidepth_bins(events, n_bins=4).collect()}
    assert sum(r.n_rows for r in out.values()) == 100
    # 0..99 uniform → four bins of 25; boundary values go to the lower bin
    assert [out[b].n_rows for b in range(4)] == [25, 25, 25, 25]
    assert out[0].lo is None and out[3].hi is None
    assert out[0].hi == out[1].lo


def test_mmr_incremental_matches_recompute_all_reference(spark):
    """Round-14 contract for the incremental running-max rewrite: the
    selection and scores must equal a plain recompute-all greedy MMR
    computed in Python (round-to-6 cosine grain, vec_id tie-break) on
    a fixture with ties, clone clusters and an exact duplicate —
    the cases where an incremental-max bug would change a pick."""
    import math

    from mapreduce_golang_spark.operators.similarity import mmr_diverse_topk

    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),  # exact duplicate of 0 (cos = 1.0)
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.9, 0.1]),
        (5, [0.0, 0.0, 1.0]),
        (6, [0.5, 0.5, 0.0]),
        (7, [-1.0, 0.0, 0.0]),  # negative cosine region
    ]
    k, lam = 6, 0.7

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    cent = [sum(v[d] for _, v in vecs) / len(vecs) for d in range(3)]
    rel = {i: cos(v, cent) for i, v in vecs}
    # reference: recompute the max over ALL selected each round
    sel = [min(rel, key=lambda i: (-rel[i], i))]
    expect = {sel[0]: (1, rel[sel[0]])}
    by_id = dict(vecs)
    for rank in range(2, k + 1):
        best = None
        for i, v in vecs:
            if i in expect:
                continue
            msim = max(cos(v, by_id[s]) for s in sel)
            mmr = lam * rel[i] - (1.0 - lam) * msim
            key = (-mmr, i)
            if best is None or key < best[0]:
                best = (key, i, mmr)
        expect[best[1]] = (rank, round(best[2], 6))
        sel.append(best[1])

    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        r.vec_id: (r.rank, r.mmr_score)
        for r in mmr_diverse_topk(emb, k=k, lam=lam).collect()
    }
    # picks and order must be exact; scores to the shared round-6 grain
    # (Python round is banker's, Spark's HALF_UP — keep a 1e-6 slack)
    assert {i: rk for i, (rk, _) in got.items()} == {
        i: rk for i, (rk, _) in expect.items()
    }
    for i, (_, score) in expect.items():
        assert abs(got[i][1] - score) <= 1e-6, (i, got[i][1], score)


def test_mmr_prefers_diversity_over_pure_relevance(spark):
    from mapreduce_golang_spark.operators.similarity import mmr_diverse_topk

    # three near-identical vectors close to the centroid direction and
    # one orthogonal-ish outlier: plain top-2 would take two clones;
    # MMR must pick the outlier second.
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.01]),
        (2, [0.998, 0.02]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    # λ=0.3 weights diversity enough that the near-duplicate's ~1.0
    # similarity penalty beats its relevance edge over the outlier
    out = sorted(mmr_diverse_topk(emb, k=2, lam=0.3).collect(), key=lambda r: r.rank)
    assert out[0].rank == 1 and out[1].rank == 2
    assert out[1].vec_id == 3  # the diverse pick, not clone 1
    assert out[0].relevance >= out[1].relevance
