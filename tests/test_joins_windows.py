from __future__ import annotations

import __spark_entry__ as entrymod
import pytest
from tests.oracle import assert_matches_oracle

JOIN_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "orders_above_customer_avg",
    "top_customers",
    "orders_semi_join",
    "customers_anti_join",
    "revenue_rank_in_nation",
    "q4_order_priority",
    "q8_market_share",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "q22_sales_opportunity",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q15_top_supplier",
    "q16_supplier_part_counts",
]

WINDOW_QUERIES = [
    "hourly_event_counts",
    "sessionize",
    "top_users_per_event_type",
    "rolling_user_value",
    "trailing_hour_value",
    "props_key_stats",
    "props_variant_stats",
    "event_type_cube",
]


@pytest.mark.parametrize("name", JOIN_QUERIES + WINDOW_QUERIES)
def test_matches_oracle(query_check, name):
    # anti-join may legitimately return 0 rows; everything else must not.
    n = query_check(name)
    if name != "customers_anti_join":
        assert n > 0


def test_q7_matches_oracle_sf001(spark):
    # the two-nation cross-border join is empty at sf0.001 (too few
    # supplier/customer pairs); the driver-gate scale sf0.01 has rows
    name = "q7_volume_shipping"
    n = assert_matches_oracle(
        spark, entrymod.queries()[name], entrymod.oracle_sql()[name], "/root/testdata/sf0.01"
    )
    assert n > 0


@pytest.mark.parametrize("name", ["q20_dominant_suppliers", "q21_suppliers_kept_waiting"])
def test_q20_q21_match_oracle_sf001(spark, name):
    # both are empty at sf0.001 (no dominant supplier / no multi-
    # supplier finalized order with exactly one late supplier in the
    # tiny fixture); the driver-gate scale sf0.01 has rows
    n = assert_matches_oracle(
        spark, entrymod.queries()[name], entrymod.oracle_sql()[name], "/root/testdata/sf0.01"
    )
    assert n > 0


def test_q5_broadcasts_dims(spark, sf_dir):
    # The dims must reach the plan as broadcast joins — a shuffled dim
    # join at 100 TB would exchange the fact table needlessly.
    plan = entrymod.queries()["q5_local_supplier_volume"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_q1_pushes_filter_to_scan(spark, sf_dir):
    plan = entrymod.queries()["q1_pricing_summary"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q9_broadcasts_all_dims(spark, sf_dir):
    # part and supplier⋈nation are bounded dims — a shuffled dim join
    # here would exchange the lineitem fact for nothing
    plan = entrymod.queries()["q9_product_type_profit"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    # (no shuffle-join assert: at fixture scale AQE legitimately
    # broadcasts the orders side of lineitem⋈orders too)


def test_q15_pushes_date_filter(spark, sf_dir):
    plan = entrymod.queries()["q15_top_supplier"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_q2_deterministic_limit(spark, sf_dir):
    # ties on min cost keep ALL tied suppliers; the top-k must sort on
    # a full unique key so reruns pick identical rows
    df1 = entrymod.queries()["q2_min_cost_supplier"](spark, sf_dir).collect()
    df2 = entrymod.queries()["q2_min_cost_supplier"](spark, sf_dir).collect()
    assert df1 == df2
