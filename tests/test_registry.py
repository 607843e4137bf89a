"""The driver contract, swept: every registered query is built once,
its plan audited and its rowset compared with its DuckDB oracle
(tests/sweep.py holds the check)."""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.oracle import assert_matches_oracle, negzero_columns
from tests.sweep import ROWS_ONLY


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_query(query_check, name):
    query_check(name)


def test_every_query_has_oracle_or_documented_exemption():
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert oracles <= qs, f"orphan oracles: {oracles - qs}"
    assert qs - oracles == ROWS_ONLY
    # the driver grades only the first 50 registrations, so only
    # oracle-checkable queries may sit there
    window = list(entrymod.queries())[:50]
    assert len(window) == 50 and set(window) <= oracles, set(window) - oracles


def test_negzero_columns_finds_signed_zeros():
    # the sweep's raw -0.0 check: float columns and floats inside object
    # columns, never a +0.0 or an integer 0
    pdf = pd.DataFrame(
        {"f": [1.0, -0.0], "ok": [0.0, -1.0], "o": ["x", -0.0], "s": ["-0.0", 0], "i": [0, 0]}
    )
    assert negzero_columns(pdf) == ["f", "o"]


def test_query_pins_utc_on_a_session_in_another_zone(spark, sf_dir):
    # the driver owns the session; a query built on a session in another
    # zone must still format timestamps like the UTC-naive oracle
    key = "spark.sql.session.timeZone"
    spark.conf.set(key, "America/Los_Angeles")
    try:
        n = assert_matches_oracle(
            spark,
            entrymod.queries()["hourly_event_counts"],
            entrymod.oracle_sql()["hourly_event_counts"],
            sf_dir,
        )
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, "UTC")
    assert n > 0
