from __future__ import annotations

import pytest


@pytest.mark.parametrize(
    "name",
    [
        "string_functions",
        "math_functions",
        "array_functions",
        "weighted_median_value",
        "event_value_histogram",
        "lineitem_price_stats",
        "data_quality_report",
    ],
)
def test_matches_oracle(query_check, name):
    assert query_check(name) > 0
