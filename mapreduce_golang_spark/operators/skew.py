"""Skew-mitigation helpers (100 TB design rule: a hot key must not
serialize into one reducer).

AQE's skew-join splitting handles joins; for AGGREGATIONS over a hot
key the classic fix is salting: split each key into ``n_salts``
sub-keys, partially aggregate, then merge. Results are identical for
any decomposable aggregate; only the exchange layout changes — the
hot key's traffic spreads across n_salts reducers.

For built-in algebraic aggregates Spark's map-side partial agg often
suffices; explicit salting matters when per-key state is large
(collect_list-ish) or when AQE is unavailable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame, key_cols: list[str], value_col: str, n_salts: int = 16, out: str = "sum_value"
) -> DataFrame:
    """Two-phase salted SUM: groupBy(keys + salt) → groupBy(keys).

    The salt derives from a per-row id, not the key, so a single hot
    key fans out over n_salts partitions in phase 1.
    """
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).alias("_salt")
    phase1 = (
        df.select(*key_cols, F.col(value_col), salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.sum(value_col).alias("_partial"))
    )
    return phase1.groupBy(*key_cols).agg(F.sum("_partial").alias(out))


def salted_count(df: DataFrame, key_cols: list[str], n_salts: int = 16, out: str = "cnt") -> DataFrame:
    """Two-phase salted COUNT(*)."""
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).alias("_salt")
    phase1 = (
        df.select(*key_cols, salt).groupBy(*key_cols, "_salt").agg(F.count("*").alias("_partial"))
    )
    return phase1.groupBy(*key_cols).agg(F.sum("_partial").cast("long").alias(out))


def with_salted_key(df: DataFrame, key_col: str, n_salts: int = 16, out: str = "salted_key") -> DataFrame:
    """Explicit salted join key (key#salt) for pre-AQE skew joins: the
    small side must be exploded across all salts to match."""
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    return df.withColumn(out, F.concat_ws("#", F.col(key_col).cast("string"), salt.cast("string")))


def explode_salts(df: DataFrame, key_col: str, n_salts: int = 16, out: str = "salted_key") -> Column:
    """Small-side counterpart of with_salted_key: replicate each row
    once per salt value so the salted equi-join finds every match."""
    return df.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))).withColumn(
        out, F.concat_ws("#", F.col(key_col).cast("string"), F.col("_salt").cast("string"))
    ).drop("_salt")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_from: str | None = None,
) -> DataFrame:
    """APPLIED salted equi-join — the explicit defense for the skew case
    AQE's skew split provably misses (PERF.md, experiment D: skew
    detection reads COMPRESSED shuffle bytes, so a low-entropy hot key
    whose partition crushes ~100x under lz4 evades the split and
    serializes into one sort-merge task; join_key_skew_advisory's
    salt_factor column is the planning input that picks n_salts).

    Mechanics: the fact side gets a deterministic salt in
    [0, n_salts) — xxhash64 of ``salt_from`` (a unique row id when the
    caller has one) or of every fact column — and the dim side is
    replicated once per salt value, so the join key becomes
    (key, salt) and the hot key's probe rows spread across n_salts
    reducers instead of one. The result is row-identical to
    ``fact.join(dim, key)`` for ANY salt assignment (the salt only
    relocates rows between reducers), which is what makes the operator
    oracle-checkable with a plain SQL join. Cost: the dim's shuffle
    volume × n_salts — the right trade when the dim is too big (or,
    post-AQE-split, too row-heavy) to broadcast but small next to the
    hot key's share of the fact.

    Returns the plain-join schema (key, fact columns, dim's non-key
    columns) — the salt never leaks.
    """
    salt_src = [F.col(salt_from)] if salt_from else [F.col(c) for c in fact.columns]
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_src), F.lit(n_salts)).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    return salted_fact.join(salted_dim, [key, "_salt"]).drop("_salt")


def join_key_skew_report(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key cardinality profile of a prospective join/agg key — the
    diagnostic a pipeline runs BEFORE choosing between a plain shuffle
    join, AQE skew splitting, or the explicit salting operators above
    (a key whose top bucket holds 10% of a 100 TB fact table is a
    straggler task; this report is how you find out at planning time,
    not 4 hours into the job).

    Reports distinct-key count, row totals, the max/avg rows-per-key
    ratio (skew_factor), the heaviest key's share of all rows
    (top1_share), and exact p50/p99 of the per-key distribution.

    Scale shape: one hash agg on the key (map-side partials) followed
    by a single-row bounded agg over the per-key counts — the second
    agg's input is one row per distinct key, the same reduction any
    COUNT DISTINCT pays. Exact percentiles keep it oracle-checkable;
    at extreme key cardinality swap approx_percentile into the same
    plan. Returns one row (n_keys, n_rows, max_rows, p50_rows,
    p99_rows, skew_factor, top1_share), ratios rounded to 6.
    """
    per_key = df.groupBy(key_col).agg(F.count("*").alias("n"))
    return per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.percentile("n", F.lit(0.5)).alias("_p50"),
        F.percentile("n", F.lit(0.99)).alias("_p99"),
        F.avg("n").alias("_avg"),
    ).select(
        "n_keys",
        "n_rows",
        "max_rows",
        F.round("_p50", 6).alias("p50_rows"),
        F.round("_p99", 6).alias("p99_rows"),
        F.round(F.col("max_rows") / F.col("_avg"), 6).alias("skew_factor"),
        F.round(F.col("max_rows") / F.col("n_rows"), 6).alias("top1_share"),
    )
