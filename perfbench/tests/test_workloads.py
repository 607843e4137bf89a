"""The workload lists against the registry-free parts of the benchmark."""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import WORKLOADS  # noqa: E402


def test_order_runs_first_queries_first_and_permutes_the_rest():
    for w in WORKLOADS.values():
        assert set(w.first) <= set(w.queries)
        orders = {tuple(w.order(random.Random(seed))) for seed in range(20)}
        for order in orders:
            assert sorted(order) == sorted(w.queries)
            assert order[: len(w.first)] == w.first
        assert len(orders) > 1
        assert w.order(random.Random(7)) == w.order(random.Random(7))


def test_every_query_has_an_expected_hash():
    with open(os.path.join(os.path.dirname(HERE), "expected.json")) as f:
        expected = json.load(f)
    for w in WORKLOADS.values():
        for q in w.queries:
            assert expected[q]["source"] in ("oracle", "pinned")
            if expected[q]["source"] == "pinned":
                assert expected[q]["oracle_sf0.01"] == "match"
