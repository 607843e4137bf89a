"""Differential-test helper mirroring the driver's correctness gate.

The driver runs each ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet, then compares
row count + schema + order-insensitive value hash (task brief). This
helper reproduces that locally (the reference's sort-then-cmp
discipline, /root/reference/src/main/test-mr.sh:90-91) so every
operator is verified before the driver ever sees it.
"""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            # IEEE -0.0 == 0.0 but reprs differ ("-0" vs "0"); DuckDB's
            # round(corr(...)) can emit -0.0 where Spark emits +0.0.
            v = 0.0
        # 12 significant digits: queries are expected to round their
        # float outputs explicitly; this only canonicalizes repr noise.
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rowset(df) -> tuple[list[str], list[tuple[str, ...]]]:
    """pandas DataFrame → (sorted column names, sorted canonical rows)."""
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def negzero_columns(pdf) -> list[str]:
    """Columns of a pandas result holding a float cell that is -0.0.

    ``_canon`` folds -0.0 into 0.0, but a compare of rendered values
    sees "-0" and "0" as different: a signed round that lands on
    zero must add ``+ 0.0`` on both sides (lineitem_price_stats,
    type_hourly_correlation, zipf_slope, ...). This is the raw check,
    before any canonicalisation.
    """
    return [
        c
        for c in pdf.columns
        if any(isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0 for v in pdf[c])
    ]


def run_oracle(sql: str, sf_dir: str):
    """The DuckDB oracle's result over ``sf_dir``, as a pandas DataFrame."""
    con = duckdb_connect(sf_dir)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def compare_rowsets(spark_pdf, oracle_pdf) -> tuple[dict[str, bool], str | None]:
    """The driver gate's comparison of two pandas results.

    Returns the three checks (sorted column names, row count,
    order-insensitive canonical values) and why the results differ, or
    None when all three hold.
    """
    s_cols, s_rows = _rowset(spark_pdf)
    o_cols, o_rows = _rowset(oracle_pdf)
    checks = {
        "schema_match": s_cols == o_cols,
        "rows_match": len(s_rows) == len(o_rows),
        "hash_match": s_rows == o_rows,
    }
    if not checks["schema_match"]:
        why = f"column mismatch: spark={s_cols} oracle={o_cols}"
    elif not checks["rows_match"]:
        why = f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
    elif not checks["hash_match"]:
        diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:5]
        why = f"value mismatch, first diffs (spark, oracle): {diffs}"
    else:
        why = None
    return checks, why


def assert_same_rowset(spark_pdf, oracle_pdf) -> int:
    """Assert that ``compare_rowsets`` finds no difference; return the row count."""
    _, why = compare_rowsets(spark_pdf, oracle_pdf)
    if why is not None:
        raise AssertionError(why)
    return len(spark_pdf)


def assert_matches_oracle(spark, query_fn, sql: str, sf_dir: str) -> int:
    """Run the Spark query and the DuckDB oracle; assert equal rowsets.

    Returns the row count so tests can also assert non-triviality.
    """
    return assert_same_rowset(query_fn(spark, sf_dir).toPandas(), run_oracle(sql, sf_dir))
