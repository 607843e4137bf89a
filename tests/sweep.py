"""The registry sweep's check of one query, which the ``query_check``
fixture (tests/conftest.py) runs once per test session for
``tests/test_registry.py`` and for the family tests that keep their own
test ids for the same queries.

The check builds the DataFrame, audits its executed plan before any
action, collects it and compares the rowset with the query's DuckDB
oracle. Neither result may hold a -0.0 float cell
(``tests/oracle.py::negzero_columns``): the rowset compare folds it
into 0.0, a compare of rendered values does not. The plan audit: a
CartesianProduct anywhere, or a BroadcastNestedLoopJoin that is not a
bounded broadcast, is a plan that dies at 100 TB. It caught
near_dup_reachability's OR-join (frontier ⋈ edges on doc_a OR doc_b
planned as a per-iteration nested loop), now a symmetric-edge
equi-join. Streaming queries are not audited: their
sinks return memory-table results whose batch plan is a LocalTableScan;
their stateful plans are covered in tests/test_streaming_*.
"""

from __future__ import annotations

import warnings

import __spark_entry__ as entrymod
from tests.oracle import assert_same_rowset, negzero_columns, run_oracle

#: The only queries without an oracle: the HLL sketch and the MLlib
#: MinHashLSH cross-checks (seeded library hashes are not
#: SQL-reproducible; see operators/dedup.py::minhash_ml_crosscheck). The
#: sweep checks only that they run and return rows.
ROWS_ONLY = frozenset(
    {"approx_distinct_users", "minhash_ml_crosscheck", "minhash_ml_crosscheck_scaled"}
)

#: Queries whose result is legitimately empty at the test scale (sf0.001),
#: with the reason. Every other query must return rows.
EMPTY_OK: dict[str, str] = {
    "customers_anti_join": "every fixture customer has an order (empty at sf0.01 too); "
    "tests/test_joins_windows.py::test_customers_anti_join_matches_oracle_with_orphans gives it rows",
    "q7_volume_shipping": "too few supplier/customer nation pairs at sf0.001; 14 rows at sf0.01",
    "q20_dominant_suppliers": "no dominant supplier at sf0.001",
    "q21_suppliers_kept_waiting": "no finalized order with exactly one late supplier at sf0.001",
    "session_incident_overlap": "no hour reaches 5 errors at sf0.001, so no session overlaps one",
    "streaming_incident_hours": "no hour reaches 5 errors at sf0.001",
}

#: Queries whose plans legitimately contain a BroadcastNestedLoopJoin,
#: each a bounded-broadcast by construction (safe at any corpus scale):
#: scalar-subquery thresholds broadcast a single row (q11, q22, tfidf's
#: corpus-size scalar); the brute-force ANN baseline broadcasts its
#: bounded query batch by design (the IVF/LSH variants are the scale
#: path and stay NLJ-free); kmeans broadcasts its k-row centroid table
#: against the corpus (k is a constant — the expansion is k×, bounded).
#: name -> the exact BNLJ count of the plan (every one is a bounded
#: broadcast: 1-row scalar aggregates, a constant-size query batch, or
#: a k-row centroid table). token_pmi_pairs carries TWO 1-row scalar
#: crossJoins (the N_u × N_b totals row is built from two independent
#: aggregates, then attached to the pair table).
_BOUNDED_NLJ_OK = {
    "q11_important_stock": 1,
    "q22_sales_opportunity": 1,
    "tfidf_top_terms": 1,
    "ann_topk_bruteforce": 1,
    "kmeans_clusters": 1,
    "token_pmi_pairs": 2,
    "bm25_top_docs": 1,
    "rfm_user_segments": 1,
    "event_weekday_chi2": 2,  # types×7 dense-grid build + 1-row grand total
    "source_quality_drift": 2,  # sources×20-bin grid + 1-row corpus total
    "dsir_importance_weights": 1,  # 1-row target/raw totals broadcast
    "source_mixing_weights": 1,  # 1-row α-power normalizer broadcast
    "token_budget_allocation": 1,  # 1-row α-power normalizer broadcast
    "event_type_cooccurrence": 1,  # 1-row distinct-user total broadcast
    "kmeans_silhouette": 1,  # one k-row centroid-grid expansion
    "source_token_js_divergence": 2,  # ≤512-bucket grid + 1-row total
    "cluster_balanced_sample": 1,  # k-row centroid-grid expansion (kmeans)
    "value_equidepth_bins": 1,  # 1-row boundary-array broadcast
    "user_value_pareto": 1,  # 1-row percentile-cuts broadcast
    "semdedup_survivors": 3,  # the one k-row centroid grid, statically tripled (self-join a/b + anti-join legs; AQE reuses the exchange)
    "jl_projection_qa": 1,  # fixed-size hash-thinned sample self-join (bounded quadratic by design, like the ANN query batch)
    "order_basket_rules": 1,  # 1-row corpus-total broadcast
    "benford_price_audit": 1,  # 1-row total broadcast
    "rrf_hybrid_ranking": 1,  # bm25_top_docs' inherited 1-row stats broadcast
    "value_psi_drift": 1,  # 1-row (mid-ts, value-range) broadcast
    "curriculum_phases": 1,  # 1-row percentile-cuts broadcast
    "km_gap_survival": 1,  # 1-row stream-horizon broadcast
    "bpe_roundtrip_audit": 1,  # 1-row × 1-row counts/vocab join
    "value_qq_drift": 1,  # 1-row midpoint broadcast
    "source_bigram_cross_entropy": 1,  # ≤|sources|-row LM-list broadcast
    "trigram_novelty_curve": 1,  # 1-row max-doc broadcast (bucket width)
    # wave 23: calendar-bounded grids (see _dense_hourly_counts and
    # kendall_tau_daily docstrings — spans grow with the time range,
    # never with corpus size)
    "kendall_tau_daily": 2,  # day-pair grid + 1-row n_days×stats join
    "kruskal_wallis_value": 1,  # 1-row tie-sum broadcast
    "cusum_hourly_changepoint": 1,  # hour-spine × event-type grid
    "hourly_seasonality_profile": 1,  # hour-spine × event-type grid
    "seasonal_adjusted_anomalies": 1,  # hour-spine × event-type grid
    "seasonal_naive_backtest": 1,  # hour-spine × event-type grid
    # wave 25
    "hourly_fano_burstiness": 1,  # hour-spine × event-type grid
    # the single 1-row max-doc (bucket width) broadcast re-instantiated
    # by the 3 plan-tree uses of the inventory (sizes + both pair sides)
    "decile_shingle_drift": 3,
    # wave 26 — contingency/entropy folds over domain-bounded cell tables
    "cramers_v_order_attrs": 2,  # r×c marginal grid + 1-row total
    "mutual_information_source_lang": 1,  # 1-row total broadcast
    "theil_u_event_transitions": 1,  # 1-row total broadcast
    # wave 27 — types×spine grid cross (≤256-row broadcast), once per
    # pair side; raw-scan lineage is cut by the two checkpoints
    "value_distribution_distances": 2,
    # wave 30 — same 1-row stream-horizon broadcast as km_gap_survival
    "nelson_aalen_hazard": 1,
    # wave 33 — bounded broadcasts: 1-row basket total; weeks×10 spine
    # cross + 10-row baseline (raw-scan lineage cut by checkpoints);
    # 1-row strata total
    "basket_triple_itemsets": 1,
    "weekly_psi_series": 2,
    "neyman_allocation": 1,
}


#: The message PySpark's applyInPandas warns with when it cannot infer an
#: eval type from a function's type hints.
_TYPE_HINT_WARNING = "Cannot infer the eval type from type hints"


def check_query(spark, sf_dir: str, name: str) -> int:
    """Check one registered query; return its row count. Building it
    must not raise PySpark's warning that a pandas function's type hints
    name no eval type (hints on only some of its parameters)."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = entrymod.queries()[name](spark, sf_dir)
    hint_warnings = [str(w.message) for w in caught if _TYPE_HINT_WARNING in str(w.message)]
    assert not hint_warnings, (name, hint_warnings)
    if not name.startswith("streaming_"):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        nlj = plan.count("BroadcastNestedLoopJoin")
        assert nlj == _BOUNDED_NLJ_OK.get(name, 0), (name, nlj)
    pdf = df.toPandas()
    assert not negzero_columns(pdf), (name, "spark -0.0", negzero_columns(pdf))
    if name in ROWS_ONLY:
        assert len(pdf) > 0, name
        return len(pdf)
    oracle_pdf = run_oracle(entrymod.oracle_sql()[name], sf_dir)
    assert not negzero_columns(oracle_pdf), (name, "oracle -0.0", negzero_columns(oracle_pdf))
    n = assert_same_rowset(pdf, oracle_pdf)
    assert n > 0 or name in EMPTY_OK, f"{name}: empty result"
    return n
