"""Spark 4 SQL-language surfaces: procedural SQL SCRIPTING
(BEGIN/DECLARE/WHILE), catalog-registered SQL-DEFINED FUNCTIONS
(CREATE FUNCTION ... RETURN, scalar and table), and COLLATION-aware
semantics (COLLATE UTF8_LCASE) — the three headline SQL-layer features
a reference user migrating warehouse workloads expects the engine to
speak natively.

Each is demonstrated as an oracle-checked query:
- the scripting loop's RESULT is declaratively re-derivable (DuckDB has
  no scripting, but the fixpoint the loop finds is a MIN over a
  generated candidate series), so the gate proves the procedural and
  declarative forms agree;
- the SQL UDF query's oracle inlines the function body;
- the collated grouping's oracle is the lower()-keyed grouping it must
  equal on ASCII data.

Scale notes: SQL scripting executes on the driver as a statement
sequence — each statement inside is a full distributed query, so the
loop below runs O(log threshold) aggregate scans, each a normal
codegen'd job (the procedural layer adds control flow, not a new
execution path). SQL UDFs are inlined into the plan at analysis time —
zero call overhead at execution, unlike external UDFs. Collated
comparisons run JVM-side with ICU semantics; grouping on a collated
key is a normal hash aggregate on the collation key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table


def sql_scripting_coverage_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Procedural SQL: DECLARE + WHILE doubling a price threshold until
    ≥90 % of orders fall at or under it; returns (threshold,
    covered_frac). The oracle re-derives the same fixpoint
    declaratively: the smallest power of two whose coverage ≥ 0.9."""
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 1.0;
          DECLARE frac DOUBLE DEFAULT 0.0;
          WHILE frac < 0.9 DO
            SET thr = thr * 2;
            SET frac = (
              SELECT avg(CASE WHEN CAST(o_totalprice AS DOUBLE) <= thr
                         THEN 1.0 ELSE 0.0 END)
              FROM {orders});
          END WHILE;
          SELECT CAST(thr AS DOUBLE) AS threshold,
                 round(frac, 6) AS covered_frac;
        END
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


def sql_udf_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-registered SQL scalar function (CREATE FUNCTION ...
    RETURN <expr>) used as the grouping key of a real aggregation. SQL
    UDFs are INLINED at analysis time — the plan is identical to
    writing the CASE by hand (zero per-row call overhead, full codegen,
    unlike external Python/JVM UDFs), which is exactly what the oracle
    checks by inlining the body."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 50000 THEN 'low'
                    WHEN p < 150000 THEN 'mid'
                    ELSE 'high' END
        """
    )
    return spark.sql(
        """
        SELECT price_band(CAST(o_totalprice AS DOUBLE)) AS band,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS total_revenue
        FROM {orders}
        GROUP BY 1
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


def collated_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping: part types are case-scrambled
    deterministically (even keys UPPER, odd keys lower), then grouped
    under COLLATE UTF8_LCASE — the engine-native case-insensitive
    equality, no lower() normalization of the data needed. The output
    key is lower()ed only for a deterministic representative (the
    collated group's surfaced value is whichever variant came first).
    Oracle: grouping by lower() — provably equal on ASCII data, which
    the pytest complements by showing the UN-collated grouping differs
    (the scramble really split the groups)."""
    return spark.sql(
        """
        SELECT CAST(lower(ci) AS STRING) AS p_type_ci,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM (
          SELECT collate(CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                              ELSE lower(p_type) END, 'UTF8_LCASE') AS ci
          FROM {part}
        )
        GROUP BY ci
        """,
        part=load_table(spark, sf_dir, "part"),
    )
