"""General analytics pack: percentiles, distinct counts, set ops,
pivot, as-of join (extension surface — all categories absent from the
reference per SURVEY.md §2.3, free on Spark).

Scale notes: exact percentiles sort within group partitions (use
approx_percentile beyond memory-bounded groups — exposed separately);
set ops and pivot are single-exchange aggregates; the as-of join is
the windowed form (one exchange on user_id, per-partition sort) —
the scalable alternative to a range-condition nested-loop join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_golang_spark.functions.tokenize import widen_for_cpu

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated p50/p90/p99 of value per event_type."""
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


def event_type_user_stats(events: DataFrame) -> DataFrame:
    """Per-type activity: row count, exact distinct users, time span."""
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.date_format(F.min("ts"), _TS_FMT).alias("first_ts"),
        F.date_format(F.max("ts"), _TS_FMT).alias("last_ts"),
    )


def approx_distinct_users(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ distinct users per type — the sketch path for
    cardinalities too large for exact countDistinct's shuffle. No
    cross-engine oracle (sketch estimates are engine-specific); the
    test bounds its error against the exact count instead."""
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("n_users_approx")
    )


def users_purchase_not_error(events: DataFrame) -> DataFrame:
    """EXCEPT (distinct) at (user, hour-of-day) grain: slots where a
    user purchased but never errored. (Plain user-level EXCEPT is
    degenerate on this fixture — every user hits every event type.)"""
    purchase_slots = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.hour("ts").cast("long").alias("hod")
    )
    error_slots = events.where(F.col("event_type") == "error").select(
        "user_id", F.hour("ts").cast("long").alias("hod")
    )
    return purchase_slots.subtract(error_slots)


def users_signup_and_purchase(events: DataFrame) -> DataFrame:
    """INTERSECT (distinct): users who both signed up and purchased."""
    signups = events.where(F.col("event_type") == "signup").select("user_id")
    purchasers = events.where(F.col("event_type") == "purchase").select("user_id")
    return signups.intersect(purchasers)


def event_counts_pivot(events: DataFrame) -> DataFrame:
    """Hour-of-day × event-type count matrix via pivot (explicit value
    list keeps the plan to a single pass, no distinct-values job)."""
    pivoted = (
        events.select(F.hour("ts").cast("long").alias("hod"), "event_type")
        .groupBy("hod")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return pivoted.select(
        "hod", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


def event_value_histogram(events: DataFrame, bin_width: float = 10.0) -> DataFrame:
    """Fixed-width histogram of `value` per event_type (deterministic
    floor binning — the scalable histogram: one hash-agg, no sort)."""
    bin_ = F.floor(F.col("value") / bin_width).cast("long")
    return (
        events.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "bin",
            F.round(F.col("bin") * bin_width, 6).alias("bin_lo"),
            "n",
        )
    )


def lineitem_price_stats(lineitem: DataFrame) -> DataFrame:
    """Bivariate statistics per returnflag: Pearson correlation,
    sample covariance, stddev — single-pass algebraic aggregates."""
    return lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + F.lit(0.0)).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("stddev_price"),
    )


def data_quality_report(lineitem: DataFrame) -> DataFrame:
    """Expectation-style data-quality audit: one row per rule with its
    violation count — the validation stage every ingest pipeline runs
    before publishing a partition. Single pass: all rules are
    conditional counts in ONE aggregate; the uniqueness rule is the
    only extra exchange."""
    checks = lineitem.agg(
        F.sum(F.when(F.col("l_quantity") < 1, 1).otherwise(0)).cast("long").alias("qty_below_min"),
        F.sum(F.when(F.col("l_quantity") > 50, 1).otherwise(0)).cast("long").alias("qty_above_max"),
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0))
        .cast("long")
        .alias("discount_out_of_range"),
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).cast("long").alias("null_orderkey"),
        F.sum(F.when(F.col("l_shipdate") < F.lit("1990-01-01").cast("timestamp"), 1).otherwise(0))
        .cast("long")
        .alias("shipdate_too_old"),
    )
    dup_keys = (
        lineitem.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
        .select(F.lit("duplicate_order_line").alias("rule"), F.col("v").alias("n_violations"))
    )
    melted = checks.selectExpr(
        "stack(5, 'qty_below_min', qty_below_min, 'qty_above_max', qty_above_max, "
        "'discount_out_of_range', discount_out_of_range, 'null_orderkey', null_orderkey, "
        "'shipdate_too_old', shipdate_too_old) AS (rule, n_violations)"
    )
    return melted.unionByName(dup_keys)


def observed_quality_metrics(lineitem: DataFrame):
    """Single-pass pipeline metrics via df.observe(): the quality
    counters ride along with whatever action consumes the DataFrame —
    zero extra scans, the pattern for per-partition publish gates at
    scale. Returns (df, observation); read observation.get AFTER an
    action on df."""
    from pyspark.sql import Observation

    obs = Observation("dq_metrics")
    observed = lineitem.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)).alias(
            "bad_qty"
        ),
        F.sum(F.when(F.col("l_discount") > 0.1, 1).otherwise(0)).alias("bad_discount"),
    )
    return observed, obs


def weighted_median_value(events: DataFrame) -> DataFrame:
    """Custom pandas UDAF: per event_type, the weighted median of
    `value` weighted by props.k — defined as the smallest value whose
    cumulative weight reaches half the total (deterministic under
    ties). applyInPandas gives the arbitrary-aggregation surface the
    reference's Reduce UDAF provides (SURVEY.md §2.1 F6) beyond what
    built-in aggregates express; the DuckDB oracle computes the same
    definition with a cumsum window."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("weighted_median", DoubleType()),
        ]
    )

    def wmedian(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        d = pdf.dropna(subset=["k"]).sort_values(["value", "event_id"])
        w = d["k"].to_numpy(dtype="float64")
        total = w.sum()
        if total <= 0:
            return pd.DataFrame({"event_type": [key[0]], "weighted_median": [None]})
        idx = int(np.searchsorted(np.cumsum(w), total / 2.0))
        return pd.DataFrame(
            {"event_type": [key[0]], "weighted_median": [round(float(d["value"].iloc[idx]), 6)]}
        )

    prepared = events.select(
        "event_type",
        "event_id",
        "value",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
    )
    return prepared.groupBy("event_type").applyInPandas(wmedian, out_schema)


def last_click_before_purchase(events: DataFrame) -> DataFrame:
    """As-of join, windowed form: for every purchase, the same user's
    most recent click at-or-before it (ties broken by event_id order).

    One exchange on user_id + per-partition sort — scales where a
    range-condition join would nested-loop. NULL (no prior click) →
    -1 so the oracle hash is stable.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    with_last = events.withColumn("last_click_id", F.last(click_id, ignorenulls=True).over(w))
    return (
        with_last.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            F.coalesce("last_click_id", F.lit(-1)).alias("last_click_event_id"),
        )
    )


def last_click_before_purchase_cogrouped(events: DataFrame) -> DataFrame:
    """As-of join, COGROUPED-MAP form: the same purchase→latest-prior-
    click semantics as last_click_before_purchase, expressed through
    Spark's cogrouped-map API — the two-input co-shuffled merge class
    (the reduce-side MERGE of two sorted streams,
    /root/reference/src/mr/worker.go reduce contract generalized to two
    inputs) that groupBy().applyInPandas (one input) and the
    table-argument UDTF (one input) cannot express.

    BUCKETED, not per-key (round-10 rework of the round-9 per-user
    form). The cogroup key is ``pmod(hash(user_id), n_buckets)`` with
    n_buckets = spark.sql.shuffle.partitions, NOT user_id itself:
    profiling showed the per-group Arrow boundary costs ~2 ms/group
    regardless of group size (1,500 user-groups → 3.9 s on cached
    input vs 0.76 s for 50 bucket-groups on the same rows), and at
    100 TB per-user groups would mean billions of tiny Arrow batches.
    Hashing users into shuffle-partition-sized buckets gives O(32)
    Python calls with large vectorized frames — the same topology as
    the reference's reduce worker, which merges a whole sorted
    PARTITION of keys per call, not one key per call. Per-user
    semantics are preserved inside the merge by a groupby-ffill.

    Timestamps cross the Arrow boundary as int64 epoch-micros
    (profiling: the timestamp column alone doubled the trivial-merge
    cogroup from 4.3 s to 8.6 s at sf0.1 — datetime64 conversion per
    batch) and are rebuilt Spark-side with timestamp_micros(), so the
    output and its DuckDB oracle are unchanged.

    Clicks are left-semi prefiltered on purchasing users BEFORE the
    co-shuffle: click-only users contribute zero output rows but would
    otherwise pay shuffle bytes + merge work. At 100 TB most users
    don't purchase, so this is the dominant scale win (round-9 verdict
    #1); the fixture's 1,500 users all purchase, so the local effect
    is nil by construction.

    Inside the merge the windowed operator's semantics are reproduced
    exactly: concat both sides, stable-sort by (user_id, us, event_id),
    per-user forward-fill of the last click id on a NULLABLE Int64
    (never float64 — event_ids above 2^53 would lose precision in a
    float round-trip, round-9 advice #5), keep purchase rows. The
    query shares last_click_before_purchase's DuckDB oracle verbatim
    and a pytest asserts row-for-row equality with the window form.
    Engine-feature demo: the hot path remains the single-relation
    window (one shuffle, no Python); cogrouped-map is for genuinely
    two-input opaque-Python merges (model scoring against per-key
    reference curves, custom as-of tolerances, reconciliation logic).

    SELF-COGROUP SHARP EDGE (found round 9, defense kept): when both
    cogroup children derive from the SAME scan with the same column
    names, they share attribute ids — and any non-trivial projection
    ABOVE the cogrouped map makes Catalyst's column pruning strip the
    right child's data columns (the UDF then sees a key-only pdf;
    with pd.concat that silently NaN-fills instead of erroring). The
    defense here: EVERY click-side data column is renamed at the
    source (c_user_id, c_event_id, c_us), which mints fresh attribute
    ids — no cross-child duplicate ids, no mis-pruning, proven under
    expression projections by
    tests/test_round9_wave1.py::test_cogroup_self_pruning_sharp_edge.
    """
    import pandas as pd

    n_buckets = int(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.pmod(F.hash("user_id"), F.lit(n_buckets)).alias("bucket"),
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .join(
            events.where(F.col("event_type") == "purchase")
            .select("user_id")
            .distinct(),
            "user_id",
            "left_semi",
        )
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("c_event_id"),
            F.unix_micros("ts").alias("c_us"),
            F.pmod(F.hash("user_id"), F.lit(n_buckets)).alias("bucket"),
        )
    )

    # no type hints: this module uses `from __future__ import
    # annotations`, which stringizes them — same trap as _hmean's
    # explicit functionType below
    def merge(p, c):
        if p.empty:  # a bucket with no purchases produces no rows
            return pd.DataFrame(
                {
                    "purchase_event_id": pd.Series(dtype="int64"),
                    "user_id": pd.Series(dtype="int64"),
                    "us": pd.Series(dtype="int64"),
                    "last_click_event_id": pd.Series(dtype="int64"),
                }
            )
        c2 = c.rename(
            columns={"c_user_id": "user_id", "c_event_id": "event_id", "c_us": "us"}
        )[["user_id", "event_id", "us"]]
        both = pd.concat(
            [p[["user_id", "event_id", "us"]].assign(_is_p=1), c2.assign(_is_p=0)],
            ignore_index=True,
        ).sort_values(["user_id", "us", "event_id"], kind="mergesort")
        # astype BEFORE where: masking an int64 ndarray-backed Series
        # promotes to float64 (NaN) and only then converts to Int64 —
        # ids above 2^53 would already be rounded. On the Int64
        # extension dtype, .where fills with pd.NA and keeps exactness.
        click_id = both["event_id"].astype("Int64").where(both["_is_p"] == 0)
        last_click = click_id.groupby(both["user_id"].to_numpy()).ffill()
        out_mask = (both["_is_p"] == 1).to_numpy()
        out = both[out_mask]
        return pd.DataFrame(
            {
                "purchase_event_id": out["event_id"].astype("int64"),
                "user_id": out["user_id"].astype("int64"),
                "us": out["us"].astype("int64"),
                "last_click_event_id": last_click[out_mask]
                .fillna(-1)
                .astype("int64"),
            }
        )

    merged = (
        purchases.groupBy("bucket")
        .cogroup(clicks.groupBy("bucket"))
        .applyInPandas(
            merge,
            "purchase_event_id bigint, user_id bigint, us bigint, "
            "last_click_event_id bigint",
        )
    )
    return merged.select(
        "purchase_event_id",
        "user_id",
        F.date_format(F.timestamp_micros("us"), _TS_FMT).alias("purchase_ts"),
        "last_click_event_id",
    )


def event_value_hmean(events: DataFrame) -> DataFrame:
    """Per-type harmonic mean of `value` via a GROUPED_AGG pandas UDF —
    the vectorized custom-aggregate surface (Arrow-batched Series in,
    scalar out), complementing `weighted_median_value`'s applyInPandas
    form. The reciprocal sum is sorted before summing so the float
    fold order is deterministic under any shuffle order; rounding to 6
    decimals absorbs the remaining last-ulp difference vs the oracle's
    own sum order.

    Scale shape: a hash aggregate on event_type; the UDF runs once per
    group partition with Arrow transfer — the standard pandas-UDAF
    topology (no per-row Python).
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: this module uses `from __future__ import
    # annotations`, which stringizes the Series->float type hints the
    # inference path needs
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _hmean(v):
        import numpy as np

        inv = np.sort(1.0 / v.to_numpy())
        return float(len(inv) / inv.sum())

    # Harmonic mean is defined on a strictly positive domain: a zero
    # value makes the reciprocal sum infinite and a negative one can
    # cancel it to a divide-by-zero, with engine-specific inf/NULL
    # semantics that diverge from the oracle — restrict to value > 0
    # (the oracle applies the identical predicate).
    pos = events.where(F.col("value") > 0)

    # GROUPED_AGG pandas UDFs cannot mix with JVM aggregates in one agg
    # ([INVALID_PANDAS_UDF_PLACEMENT]) — run the two aggregations
    # separately and join on the bounded group key
    hm = pos.groupBy("event_type").agg(
        F.round(_hmean("value"), 6).alias("harmonic_mean_value")
    )
    counts = pos.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    return hm.join(F.broadcast(counts), "event_type")


def cumulative_active_users(events: DataFrame) -> DataFrame:
    """User-acquisition curve: per day, how many users had their FIRST
    event that day, and the running total of users seen so far.

    Two hash aggregations (per-user min-day, then per-day count) with
    map-side partials, then a running sum over the per-day rollup. The
    unpartitioned window is safe at any scale: it runs AFTER the
    rollup, on one row per calendar day — bounded cardinality, not
    data-proportional.
    """
    first = events.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = first.groupBy("first_day").agg(F.count("*").cast("long").alias("new_users"))
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


def value_moment_stats(events: DataFrame) -> DataFrame:
    """Higher central moments of value per event_type: population
    skewness (m3/m2^1.5) and excess kurtosis (m4/m2² − 3) — Spark's
    built-in `skewness`/`kurtosis` semantics, computed JVM-side as
    streaming central moments (one pass, partial-aggregable, one
    exchange on the group key; the same shape as any hash aggregate,
    so it scales with the scan).

    The DuckDB oracle computes the identical population definition
    two-pass from per-group means (its built-ins apply sample bias
    correction — a documented cross-engine difference).
    Returns (event_type, n, skew, kurt).
    """
    return events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.skewness("value"), 6).alias("skew"),
        F.round(F.kurtosis("value"), 6).alias("kurt"),
    )


def user_retention_cohorts(events: DataFrame) -> DataFrame:
    """Classic cohort retention: users grouped by first-active week,
    counted distinct in each later week. The raw event table is
    scanned ONCE and collapsed immediately to distinct (user, week) —
    every exchange after that carries users × active-weeks rows, not
    events; cohorts (min week per user) derive from the same collapsed
    set and join back on user_id before the countDistinct on the
    bounded cohort grid.

    Returns (cohort_week string, week_offset, n_users).
    """
    weekly = events.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    ).distinct()
    # cohort = a user's min week — computed FROM the collapsed weekly
    # set, so the raw event table is scanned exactly once
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohorts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("week", "cohort_week") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


def value_ntile_deciles(events: DataFrame) -> DataFrame:
    """NTILE decile bucketing of value within each event_type — the
    quantile-bucket assignment used for score binning / percentile
    features. Deterministic under ties (order by value, event_id), so
    the result is engine-portable. One exchange on event_type, then a
    per-partition sort; decile summary keeps the output bounded at
    types × 10 rows regardless of input size.

    Returns (event_type, decile, n, lo, hi).
    """
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        events.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


def orphan_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Referential-integrity audit: per event_type, how many events
    reference a user_id with no matching customer row — the FK check
    every warehouse publish gate runs. LEFT join against the
    (distinct, broadcastable) key side with a marker column, counted
    conditionally in the same aggregate as the total, so the report
    always has one row per type (orphan count 0 when the FK holds)
    and output stays bounded by the type dimension."""
    keys = (
        customer.select(F.col("c_custkey").alias("user_id"))
        .distinct()
        .withColumn("_present", F.lit(1))
    )
    return (
        events.join(F.broadcast(keys), "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("_present").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
    )


def user_conversion_funnel(events: DataFrame, window_hours: int = 24) -> DataFrame:
    """Ordered conversion funnel over the event stream: users who
    signed up, then clicked within ``window_hours`` of their first
    signup, then purchased within ``window_hours`` of that first
    qualifying click — the sequential-pattern query behind every
    product-analytics funnel chart (a time-bounded successor to plain
    presence checks like users_signup_and_purchase).

    Scale shape: one narrow projection of the event table feeds three
    per-user hash aggregates chained by equi-joins on user_id — every
    exchange in the plan hashes the same key, so the co-partitioning
    is reused stage to stage and nothing ever shuffles on a second
    key. Each stage's state is one timestamp per surviving user
    (monotonically shrinking), and the final output is one row per
    funnel step regardless of input size. No window over raw events,
    no collect_list of per-user event arrays.

    Returns (step_idx, step, n_users).
    """
    base = events.select("user_id", "event_type", "ts")
    bound = F.expr(f"INTERVAL {int(window_hours)} HOURS")
    signup = (
        base.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    click = (
        base.where(F.col("event_type") == "click")
        .join(signup, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + bound))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    purchase = (
        base.where(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + bound))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    def _step(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(idx).cast("long").alias("step_idx"),
            F.lit(name).alias("step"),
            F.count("*").cast("long").alias("n_users"),
        )

    return (
        _step(signup, 0, "signup")
        .unionAll(_step(click, 1, "click_after_signup"))
        .unionAll(_step(purchase, 2, "purchase_after_click"))
    )


def rfm_user_segments(events: DataFrame) -> DataFrame:
    """RFM segmentation of the user base: per-user Recency (days since
    last event, against the corpus max ts), Frequency (event count)
    and Monetary (value sum), each quartiled with NTILE(4) and
    composed into the classic 3-digit segment code — the standard
    cohorting query of a growth-analytics warehouse.

    One hash agg on user_id builds the per-user triple; the corpus
    max-ts rides a 1-row broadcast; the three NTILE windows sort the
    AGGREGATED table (n_users rows, not n_events), each with a fully
    deterministic tie-break on user_id. Quartile convention: R ranks
    most-recent = 4, F and M rank highest = 4.

    Returns (user_id, recency_days, frequency, monetary, r, f, m,
    segment).
    """
    per_user = events.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("frequency"),
        F.round(F.sum("value"), 6).alias("monetary"),
    )
    # anchor via a SECOND events scan, deliberately: the scan prunes to
    # the single ts column and aggregates map-side (no exchange), while
    # anchoring off per_user re-runs the full groupBy — the compiled
    # plan shows no ReusedExchange for that shape and it measured 2-4×
    # slower at sf0.1 (0.5 s vs 2.1 s cold)
    anchor = F.broadcast(events.agg(F.max("ts").alias("max_ts")))
    base = per_user.crossJoin(anchor).select(
        "user_id",
        F.datediff(F.to_date("max_ts"), F.to_date("last_ts"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )
    r = F.ntile(4).over(Window.orderBy(F.desc("recency_days"), F.asc("user_id")))
    f_ = F.ntile(4).over(Window.orderBy(F.asc("frequency"), F.asc("user_id")))
    m = F.ntile(4).over(Window.orderBy(F.asc("monetary"), F.asc("user_id")))
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        r.cast("long").alias("r"),
        f_.cast("long").alias("f"),
        m.cast("long").alias("m"),
    ).withColumn("segment", (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("long"))


#: winsorization bounds — shared with the DuckDB oracle.
WINSOR_LO = 0.01
WINSOR_HI = 0.99


def winsorized_value_stats(events: DataFrame) -> DataFrame:
    """Winsorized per-type stats: clip `value` into its own [p01, p99]
    band and report raw vs clipped moments side by side — the
    outlier-robust normalization step an ML feature pipeline applies
    before scaling, with the shift (mean_raw − mean_winsorized) as the
    tail-mass diagnostic.

    One exact-percentile agg per type, broadcast back (event_type is a
    fixed enumeration — the build side never scales with SF), then one
    partial-aggregable stats pass; the events stream is never
    shuffled. Returns (event_type, n, p_lo, p_hi, mean_raw,
    mean_winsorized, sd_winsorized).
    """
    pct = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(WINSOR_LO)).alias("_lo"),
        F.percentile("value", F.lit(WINSOR_HI)).alias("_hi"),
    )
    j = events.join(F.broadcast(pct), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("_lo")), F.col("_hi"))
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("_lo"), 6).alias("p_lo"),
        F.round(F.min("_hi"), 6).alias("p_hi"),
        F.round(F.avg("value"), 6).alias("mean_raw"),
        F.round(F.avg(clipped), 6).alias("mean_winsorized"),
        F.round(F.stddev_samp(clipped), 6).alias("sd_winsorized"),
    )


def event_weekday_chi2(events: DataFrame) -> DataFrame:
    """Chi-square independence report for event_type × weekday: per
    type, Σ_d (observed − expected)²/expected with expected from the
    two marginals — the seasonality screen that flags event types
    whose volume is NOT flat across the week (bot traffic, batch
    jobs). All counts are integers, so the expecteds are exact ratios
    and the statistic is engine-portable at round(6).

    The (type, weekday) grid is DENSIFIED before summing: observed
    types are cross-joined with observed weekdays and missing cells
    coalesce to o=0, so a type absent on some weekday still
    contributes its full (0 − e)²/e = e term — omitting empty cells
    would understate the statistic exactly for the most seasonal
    types, the ones this screen exists to flag.

    One hash agg on the (type, weekday) grid (bounded: types × 7),
    then a bounded types×weekdays broadcast grid build, marginals via
    broadcast joins, and the grand total as a 1-row broadcast — the
    events stream shuffles once into the grid agg and never again.
    Returns (event_type, n_events, chi2).
    """
    wd = (F.dayofweek("ts")).cast("long").alias("weekday")
    obs = events.groupBy(F.col("event_type"), wd).agg(F.count("*").alias("o"))
    row_tot = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    col_tot = obs.groupBy("weekday").agg(F.sum("o").alias("ct"))
    n_tot = obs.agg(F.sum("o").cast("double").alias("n"))
    # bounded dense grid: observed types × observed weekdays (≤ types × 7)
    grid = row_tot.crossJoin(F.broadcast(col_tot))
    full = grid.join(obs, ["event_type", "weekday"], "left").select(
        "event_type", "rt", "ct", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    e = F.col("rt") * F.col("ct") / F.col("n")
    contrib = (F.col("o") - e) * (F.col("o") - e) / e
    return (
        full.crossJoin(F.broadcast(n_tot))
        .groupBy("event_type")
        .agg(
            F.sum("o").cast("long").alias("n_events"),
            F.round(F.sum(contrib), 6).alias("chi2"),
        )
    )


def event_type_cooccurrence(events: DataFrame) -> DataFrame:
    """Association mining over per-user behavior: for every unordered
    pair of event types, the number of users who performed BOTH, plus
    the classic market-basket strengths — confidence (P(b|a)) and lift
    (observed co-occurrence vs independence) — the pair-support table
    an a-priori pass produces at itemset size 2 (Agrawal & Srikant
    1994), here with "basket" = a user's distinct event-type set.
    Lift > 1 means the types travel together; < 1 means they repel.

    Scale shape: one distinct on (user, type) — the only corpus-sized
    exchange — then a per-user self-join whose expansion is bounded by
    (types-per-user choose 2) with a GLOBAL cap of distinct-types²
    output rows; per-type user counts and the 1-row user total come
    back as broadcast dimensions. Returns (type_a, type_b,
    n_users_both, confidence_a_to_b, lift), floats rounded to 6, pairs
    ordered type_a < type_b.
    """
    pres = events.select("user_id", "event_type").distinct()
    a = pres.select("user_id", F.col("event_type").alias("type_a"))
    b = pres.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_users_both"))
    )
    per_type = pres.groupBy("event_type").agg(F.count("*").cast("long").alias("n_u"))
    n_users = pres.select("user_id").distinct().agg(F.count("*").cast("double").alias("n_users"))
    return (
        both.join(
            F.broadcast(per_type.select(F.col("event_type").alias("type_a"), F.col("n_u").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(per_type.select(F.col("event_type").alias("type_b"), F.col("n_u").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_users_both",
            F.round(F.col("n_users_both") / F.col("n_a"), 6).alias("confidence_a_to_b"),
            F.round(
                F.col("n_users_both") * F.col("n_users") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )


def conversion_latency_stats(events: DataFrame) -> DataFrame:
    """Signup→purchase conversion-latency distribution: each user's
    latency is first purchase AT OR AFTER their first signup minus
    that signup, and the report gives the converted-user count with
    the mean/median/p90/max latency in hours — the time-to-convert
    table a growth dashboard reads next to user_conversion_funnel's
    stage counts (the funnel says HOW MANY convert; this says HOW
    FAST).

    Scale shape: two filtered per-user min aggs (map-side partials),
    one user-keyed equi-join, then a single-row bounded agg — no
    window, no self-join of the raw stream. Exact percentiles keep it
    oracle-checkable (approx_percentile is the drop-in at extreme
    user counts). Returns one row (n_converted, avg_hours, p50_hours,
    p90_hours, max_hours), rounded to 6.
    """
    signups = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = events.where(F.col("event_type") == "purchase").select("user_id", "ts")
    lat = (
        purchases.join(signups, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            # cast-to-double keeps the sub-second part (unix_timestamp
            # truncates to whole seconds and diverges from the oracle)
            (
                (
                    F.min("ts").cast("double")
                    - F.first("signup_ts").cast("double")
                )
                / 3600.0
            ).alias("h")
        )
    )
    return lat.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.avg("h"), 6).alias("avg_hours"),
        F.round(F.percentile("h", F.lit(0.5)), 6).alias("p50_hours"),
        F.round(F.percentile("h", F.lit(0.9)), 6).alias("p90_hours"),
        F.round(F.max("h"), 6).alias("max_hours"),
    )


def value_equidepth_bins(events: DataFrame, n_bins: int = 10) -> DataFrame:
    """Equi-depth histogram of the value column: exact interpolated
    quantile boundaries at i/n_bins and the observed row count per
    bin — the boundary table a range partitioner or a data-skipping
    layout derives before writing (equi-depth bins ARE the balanced
    range-partition split points; the count column verifies depth).
    A value equal to an interior boundary belongs to the LOWER bin.

    Scale shape: one exact-percentile agg produces the (n_bins−1)-
    element boundary array (approx_percentile drops in at extreme
    row counts), broadcast back as a 1-row dimension; bin assignment
    is an in-array count of boundaries below the value (narrow
    codegen), and the final agg is bounded by n_bins. Returns (bin,
    n_rows, lo, hi) — lo/hi NULL at the open ends — rounded to 6.
    """
    fracs = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    bounds = events.agg(F.percentile("value", fracs).alias("bs"))
    binned = events.select("value").crossJoin(F.broadcast(bounds)).select(
        F.aggregate(
            F.col("bs"),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("value") > b, 1).otherwise(0),
        ).alias("bin"),
        "bs",
    )
    return (
        binned.groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_rows"), F.first("bs").alias("_bs"))
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n_rows",
            F.round(
                F.when(F.col("bin") > 0, F.element_at("_bs", F.col("bin"))), 6
            ).alias("lo"),
            F.round(
                F.when(
                    F.col("bin") < F.size("_bs"), F.element_at("_bs", F.col("bin") + 1)
                ),
                6,
            ).alias("hi"),
        )
    )


def orders_monthly_growth(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue report: per-month order count and
    total price plus the MoM growth percentage (lag over the monthly
    series) — the canonical period-over-period reporting query every
    OLAP deployment runs; first month's growth is NULL, not 0.

    Scale shape: the heavy lifting is ONE month-keyed hash agg with
    map-side partials (output ≤ months); the lag window rides the
    tiny agg result, never the fact table. Decimal month totals keep
    the growth ratio engine-exact before the final round. Returns
    (month, n_orders, total_price, mom_growth_pct), floats rounded.
    """
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_tp"),
    )
    w = Window.orderBy("month")
    prev = F.lag("_tp").over(w)
    return monthly.select(
        "month",
        "n_orders",
        F.round(F.col("_tp").cast("double"), 2).alias("total_price"),
        F.round(
            (F.col("_tp") - prev).cast("double") / prev.cast("double") * 100.0, 6
        ).alias("mom_growth_pct"),
    )


def user_value_pareto(events: DataFrame) -> DataFrame:
    """Revenue-concentration (Pareto/Lorenz) report over per-user
    total value: how much of all value the top 10% and top 1% of
    users carry — the "whales" number behind prioritization and
    anomaly triage (a sudden top1_share jump is one hot account, not
    organic growth).

    Thresholds are exact interpolated percentiles of the per-user
    totals; a user AT the threshold counts into the top bucket.
    Scale shape: one user-keyed hash agg, one percentile agg over its
    (≤ n_users) output broadcast back as a 1-row dimension, one
    conditional-sum agg. Returns one row (n_users, total_value,
    top10_share, top1_share), shares rounded to 6.
    """
    per_user = events.groupBy("user_id").agg(F.sum("value").alias("v"))
    cuts = per_user.agg(
        F.percentile("v", F.lit(0.9)).alias("p90"),
        F.percentile("v", F.lit(0.99)).alias("p99"),
    )
    return (
        per_user.crossJoin(F.broadcast(cuts))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("v").alias("_tot"),
            F.sum(F.when(F.col("v") >= F.col("p90"), F.col("v")).otherwise(0.0)).alias("_t10"),
            F.sum(F.when(F.col("v") >= F.col("p99"), F.col("v")).otherwise(0.0)).alias("_t1"),
        )
        .select(
            "n_users",
            F.round("_tot", 2).alias("total_value"),
            F.round(F.col("_t10") / F.col("_tot"), 6).alias("top10_share"),
            F.round(F.col("_t1") / F.col("_tot"), 6).alias("top1_share"),
        )
    )


def part_brand_hhi(part: DataFrame) -> DataFrame:
    """Herfindahl–Hirschman concentration index of brands within each
    part type: Σ share² over brands, share = brand's part count /
    type's part count — the market-concentration screen (HHI → 1 when
    one brand owns the category; → 1/n_brands when fragmented).

    Scale shape: one (type, brand) hash agg, then a type-keyed agg of
    the ≤ types×brands result — both bounded by dimension
    cardinality. Returns (p_type, n_parts, n_brands, hhi), hhi
    rounded to 6.
    """
    tb = part.groupBy("p_type", "p_brand").agg(F.count("*").cast("long").alias("n"))
    return (
        tb.groupBy("p_type")
        .agg(
            F.sum("n").cast("long").alias("n_parts"),
            F.count("*").cast("long").alias("n_brands"),
            F.sum(F.col("n") * F.col("n")).alias("_sq"),
        )
        .select(
            "p_type",
            "n_parts",
            "n_brands",
            F.round(F.col("_sq") / (F.col("n_parts") * F.col("n_parts")), 6).alias("hhi"),
        )
    )


def monthly_metric_unpivot(orders: DataFrame) -> DataFrame:
    """Wide-to-long melt of the monthly orders rollup: one row per
    (month, metric) with metric ∈ {revenue, n_orders, n_customers} —
    the UNPIVOT relational surface (`DataFrame.unpivot`, Spark's melt)
    the reference's report writers flatten by hand.

    One hash aggregate builds the wide month table (revenue summed as
    decimal(18,2) so the melt is bit-stable), then `unpivot` expands it
    3× WITHOUT an exchange — Expand is a narrow node, so the long
    format costs nothing extra at any scale. Returns (month, metric,
    value) with value cast double.
    """
    wide = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
            F.count("*").cast("double").alias("n_orders"),
            F.count_distinct("o_custkey").cast("double").alias("n_customers"),
        )
    )
    return wide.unpivot(
        ["month"], ["revenue", "n_orders", "n_customers"], "metric", "value"
    )


ATTRIBUTION_LOOKBACK_HOURS = 24


def multi_touch_attribution(
    events: DataFrame, lookback_hours: int = ATTRIBUTION_LOOKBACK_HOURS
) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    EQUALLY across the user's non-purchase events in the preceding
    ``lookback_hours`` — the standard position-agnostic attribution
    model marketing analytics runs nightly (first/last-touch are
    degenerate cases of the same join).

    Scale shape: an EQUALITY join on user_id carrying the time-range
    predicate (per-user fan-out is bounded by a user's activity in the
    lookback window, never the corpus), one exchange on the purchase
    id for the touch-count window, then the event_type rollup. Per-
    touch credits round to 6dp and sum as decimal(18,6), so the total
    is bit-stable under any partial-agg order. Returns (event_type,
    n_touches, total_credit).
    """
    purch = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        "value",
    )
    touch = events.where(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("t_ts"), "event_type"
    )
    j = purch.join(touch, "user_id").where(
        (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_hours} HOURS"))
    )
    w = Window.partitionBy("p_id")
    credited = j.withColumn("n", F.count("*").over(w)).select(
        "event_type",
        F.round(F.col("value") / F.col("n"), 6).cast("decimal(18,6)").alias("credit"),
    )
    return credited.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.round(F.sum("credit").cast("double"), 6).alias("total_credit"),
    )


def order_basket_rules(lineitem: DataFrame, min_both: int = 3, k: int = 25) -> DataFrame:
    """Association rules over order baskets (Agrawal et al. 1993):
    top-``k`` part pairs co-purchased in the same order, ranked by
    lift, with support and confidence — the market-basket staple.

    Scale shape: baskets collapse to DISTINCT (order, part) first;
    the pair generator is an EQUALITY self-join on l_orderkey whose
    fan-out is bounded by basket size squared (TPC-H baskets are ≤7
    lines — at 100 TB cap basket size exactly as dedup caps posting
    lists); single-part counts are one hash agg; the corpus total is
    a 1-row broadcast. min_both prunes the pair tail BEFORE the
    metric joins. Top-k sorts on the ROUNDED lift with a (part_a,
    part_b) tie-break so the boundary set is engine-independent.
    Returns (part_a, part_b, n_both, n_a, n_b, support, confidence,
    lift).
    """
    items = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    ).distinct()
    n_orders = items.select("okey").distinct().agg(
        F.count("*").cast("long").alias("n_orders")
    )
    singles = items.groupBy("pkey").agg(F.count("*").cast("long").alias("n_single"))
    a = items.select("okey", F.col("pkey").alias("part_a"))
    b = items.select("okey", F.col("pkey").alias("part_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_both"))
        .where(F.col("n_both") >= min_both)
    )
    enriched = (
        pairs.join(
            singles.select(F.col("pkey").alias("part_a"), F.col("n_single").alias("n_a")),
            "part_a",
        )
        .join(
            singles.select(F.col("pkey").alias("part_b"), F.col("n_single").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(F.col("n_both") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_both") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                (F.col("n_both") * F.col("n_orders")) / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )
    return enriched.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(k)


def k_anonymity_audit(customer: DataFrame, k: int = 5) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the (market segment,
    nation, account-balance band) quasi-identifier: every equivalence
    class smaller than ``k`` — the re-identification risk report a
    governance pass runs before releasing a dimension extract
    (complements pii_scan, which audits free text). The $1000 balance
    band is the kind of "harmless" bucketed numeric that actually
    drives classes below k.

    ONE hash aggregate on the quasi-identifier plus a narrow filter —
    partitioned by the QI key at any scale. Returns the at-risk
    classes (c_mktsegment, c_nationkey, acctbal_band, group_size).
    """
    return (
        customer.groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
        )
        .agg(F.count("*").cast("long").alias("group_size"))
        .where(F.col("group_size") < k)
    )


def benford_price_audit(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit screen on order totals: observed
    leading-digit distribution vs log10(1 + 1/d), with the per-digit
    chi-square contribution — the classic fraud/synthetic-data tell
    (fabricated amounts over-sample middle digits).

    The leading digit comes from the DECIMAL(18,2) string rendering
    (both engines print decimals identically — no double→string
    scientific-notation trap, no log10-of-double floor edge). One
    hash agg on 9 digit keys + a 1-row total broadcast. Returns
    (digit, n, obs_frac, benford_frac, chi2_term).
    """
    digits = orders.where(F.col("o_totalprice") >= 1.0).select(
        F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    total = digits.agg(F.count("*").cast("long").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("obs_frac"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_frac"),
            F.round(
                F.pow(
                    F.col("n") / F.col("n_total") - F.log10(1.0 + 1.0 / F.col("digit")),
                    2,
                )
                / F.log10(1.0 + 1.0 / F.col("digit")),
                6,
            ).alias("chi2_term"),
        )
    )


PSI_BINS = 10


def value_psi_drift(events: DataFrame, bins: int = PSI_BINS) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream (split at the midpoint timestamp): the scorecard-
    monitoring drift metric (PSI < 0.1 stable, > 0.25 action) that
    complements the KS/JS drift family with the banked-industry
    convention. Laplace-smoothed shares so empty bins never produce
    ±∞ terms.

    Scale shape: ONE 1-row broadcast carries the global (mid_ts, vmin,
    vmax); half-assignment and equi-width binning are narrow row
    expressions; the rollup is a ``bins``-row hash agg whose share
    normalization runs as a window over those ``bins`` rows — bounded
    single-partition work. Returns (bin, n_ref, n_cur, p_ref, p_cur,
    psi_term), floats rounded 6.
    """
    stats = F.broadcast(
        events.agg(
            ((F.min(F.col("ts").cast("double")) + F.max(F.col("ts").cast("double"))) / 2.0).alias("mid"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(bins))
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("value") - F.col("vmin")) / width).cast("long"), F.lit(0)
        ),
        F.lit(bins - 1),
    )
    binned = (
        events.select(F.col("ts").cast("double").alias("tsd"), "value")
        .crossJoin(stats)
        .select(
            bin_.alias("bin"),
            (F.col("tsd") <= F.col("mid")).cast("long").alias("is_ref"),
        )
        .groupBy("bin")
        .agg(
            F.sum("is_ref").cast("long").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
        )
    )
    w = Window.partitionBy()
    p = (F.col("n_ref") + 0.5) / (F.sum("n_ref").over(w) + 0.5 * bins)
    q = (F.col("n_cur") + 0.5) / (F.sum("n_cur").over(w) + 0.5 * bins)
    return binned.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("p_cur"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


BOOTSTRAP_REPLICATES = 32


def bootstrap_mean_ci(events: DataFrame, b: int = BOOTSTRAP_REPLICATES) -> DataFrame:
    """Deterministic Poisson-style bootstrap of the per-type mean
    value: ``b`` resample replicates whose per-event multiplicity
    (0, 1, or 2 — mean 1, the Poissonized bootstrap approximation)
    comes from the same arithmetic bit mixer as jl_projection_qa, so
    the whole resampling plan is reproducible on any engine with NO
    RNG and no driver-side sampling. CI bounds are the 2.5/97.5
    percentiles of the replicate means — exact sort-based percentiles,
    immune to partial-aggregation order (the reason this avoids a
    replicate stddev entirely).

    Scale shape: the ``b``-way expansion is one in-row explode
    (sequence literal), the replicate means are a (type, b) hash agg
    with decimal sums, and the CI collapse is a b-row-per-type agg.
    The expansion + mixer + decimal partial agg are the CPU-bound map
    over the scan, so the single-split fixture scan is widened first
    (``widen_for_cpu`` — a no-op at corpus width; round-14 A/B:
    2.75 → 1.23 s min-of-6 interleaved, outputs identical — the
    per-(type, bi) sums are exact decimal, so partitioning cannot
    change them). Returns (event_type, n_boot, boot_mean, ci_lo,
    ci_hi).
    """
    events = widen_for_cpu(events, key_col="event_id")
    rep = events.select(
        "event_type",
        "event_id",
        "value",
        F.explode(F.expr(f"sequence(1, {b})")).alias("bi"),
    ).select(
        "event_type",
        "bi",
        "value",
        F.expr(
            "CASE CAST(floor((event_id * 2654435761 + bi * 40503) / 256) AS BIGINT) % 4 "
            "WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 1 END"
        ).alias("w"),
    )
    means = (
        rep.groupBy("event_type", "bi")
        .agg(
            F.sum(F.col("w") * F.col("value").cast("decimal(18,6)")).alias("swv"),
            F.sum("w").cast("long").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            "event_type",
            F.round(F.col("swv").cast("double") / F.col("sw"), 6).alias("m"),
        )
    )
    return means.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_boot"),
        F.round(
            F.sum(F.col("m").cast("decimal(12,6)")).cast("double") / F.count("*"), 6
        ).alias("boot_mean"),
        F.round(F.percentile("m", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.975)), 6).alias("ci_hi"),
    )


def part_price_size_skyline(part: DataFrame) -> DataFrame:
    """2-D skyline (Börzsönyi et al. 2001) of the part catalog:
    DISTINCT (price, size) points not dominated by any other point
    (cheaper-or-equal AND bigger-or-equal, strictly better somewhere)
    — the Pareto-frontier query of the skyline-operator literature,
    over minimize-price / maximize-size.

    The single-pass trick: sort points by (price asc, size desc) and
    keep a point iff its size strictly exceeds the running max size of
    all STRICTLY PRECEDING points — equal-price ties resolve correctly
    because the biggest size of a price group is judged only against
    cheaper points. The global sort runs on DISTINCT dimension points
    (bounded by the catalog's price×size grid, never the row count).
    Returns (p_retailprice, p_size, n_parts).
    """
    pts = part.groupBy("p_retailprice", "p_size").agg(
        F.count("*").cast("long").alias("n_parts")
    )
    w = (
        Window.orderBy(F.asc("p_retailprice"), F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("run_max", F.max("p_size").over(w))
        .where(F.col("run_max").isNull() | (F.col("p_size") > F.col("run_max")))
        .select("p_retailprice", "p_size", "n_parts")
    )


def ab_conversion_ztest(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Deterministic A/B experiment readout: users split into arms by
    user_id parity (the no-RNG stand-in for an assignment service),
    conversion = "≥ 14 purchase events" (the fixture's median is ~13,
    so the rate sits mid-range instead of saturating at 1.0), compared
    per market segment with the two-proportion pooled z-test — the
    experimentation harness every growth team runs; significance flags
    on the ROUNDED z at the 1.96 two-sided threshold so the boundary
    is engine-stable.

    One hash agg collapses events to (user, converted) — the z math
    then runs on per-segment scalar counts (broadcast dim join, no
    float sums anywhere). Returns (segment, n_a, n_b, conv_a, conv_b,
    z_score, significant).
    """
    users = events.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long")) >= 14
        ).cast("long").alias("conv")
    )
    seg = users.join(
        F.broadcast(
            customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        ),
        "user_id",
        "left",
    ).select(
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        (F.col("user_id") % 2).alias("arm"),
        "conv",
    )
    per = seg.groupBy("segment").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("x_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("x_b"),
    )
    p_a = F.col("x_a") / F.col("n_a")
    p_b = F.col("x_b") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z = F.round((p_a - p_b) / se, 6)
    # degenerate segments (nobody or everybody converted → se = 0, an
    # ANSI divide-by-zero) carry no test signal and are excluded
    return per.where(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("x_a") + F.col("x_b") > 0)
        & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b"))
    ).select(
        "segment",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(p_a, 6).alias("conv_a"),
        F.round(p_b, 6).alias("conv_b"),
        z.alias("z_score"),
        (F.abs(z) >= 1.96).cast("long").alias("significant"),
    )


def value_hour_regression(events: DataFrame) -> DataFrame:
    """Per-type OLS of value on hour-of-day (closed form): slope,
    intercept, and R² — the grouped-regression screen ("does this
    metric drift across the day?") that runs as PURE ALGEBRAIC
    aggregates, no ML library, no iteration.

    Every Σ is exact — x is a small integer, y sums as decimal(18,6),
    xy/y² as exact decimal products — so the closed-form arithmetic
    starts from bit-identical sums on any engine and any partial-agg
    order; only the final double division can round, identically.
    Degenerate groups (zero x-variance or zero y-variance) are
    excluded. Returns (event_type, n, slope, intercept, r2).
    """
    xy = events.select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    s = xy.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov / dx
    return s.where((dx > 0) & (dy > 0)).select(
        "event_type",
        "n",
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6) + F.lit(0.0)).alias("intercept"),
        F.round((cov * cov) / (dx * dy), 6).alias("r2"),
    )


def value_qq_drift(events: DataFrame) -> DataFrame:
    """Q-Q drift readout between the first and second half of the
    stream (midpoint-ts split): exact deciles of `value` in each half,
    side by side with the per-decile gap — the quantile-level view the
    scalar PSI can't give (PSI says "drifted"; the Q-Q table says
    WHERE in the distribution).

    One 1-row broadcast for the midpoint, then a single conditional
    percentile aggregate (both halves' deciles in one pass), unpivoted
    to 9 rows via an inline explode. Returns (decile, q_ref, q_cur,
    gap), all rounded 6.
    """
    mid = F.broadcast(
        events.agg(
            (
                (F.min(F.col("ts").cast("double")) + F.max(F.col("ts").cast("double")))
                / 2.0
            ).alias("mid")
        )
    )
    qs = [i / 10.0 for i in range(1, 10)]
    halves = events.crossJoin(mid).select(
        "value", (F.col("ts").cast("double") <= F.col("mid")).alias("is_ref")
    )
    agg = halves.agg(
        *[
            F.round(
                F.percentile(F.when(F.col("is_ref"), F.col("value")), F.lit(q)), 6
            ).alias(f"r{i}")
            for i, q in enumerate(qs, start=1)
        ],
        *[
            F.round(
                F.percentile(F.when(~F.col("is_ref"), F.col("value")), F.lit(q)), 6
            ).alias(f"c{i}")
            for i, q in enumerate(qs, start=1)
        ],
    )
    pairs = ", ".join(
        f"named_struct('decile', {i}L, 'q_ref', r{i}, 'q_cur', c{i})"
        for i in range(1, 10)
    )
    return agg.select(
        F.explode(F.expr(f"array({pairs})")).alias("t")
    ).select(
        F.col("t.decile").alias("decile"),
        F.col("t.q_ref").alias("q_ref"),
        F.col("t.q_cur").alias("q_cur"),
        F.round(F.col("t.q_cur") - F.col("t.q_ref"), 6).alias("gap"),
    )


def part_abc_classification(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, split at
    the classic cumulative-share cuts (A ≤ 80%, B ≤ 95%, C the tail) —
    the Pareto workhorse of inventory/SKU management, reported at the
    class grain.

    The fact stream collapses to the part rollup FIRST (decimal
    revenue sums); the cumulative share is one window over the BOUNDED
    part dimension ordered by (revenue desc, partkey); the class
    report is a 3-row agg. Cumulative sums run on decimals, so the
    cut assignment is bit-stable. Returns (abc_class, n_parts,
    total_revenue, revenue_share).
    """
    per_part = lineitem.groupBy(F.col("l_partkey").alias("pkey")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy(F.desc("rev"), F.asc("pkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy()
    cum_share = (
        F.sum("rev").over(w).cast("double") / F.sum("rev").over(tot).cast("double")
    )
    classed = per_part.select(
        "rev",
        F.when(cum_share <= 0.80, F.lit("A"))
        .when(cum_share <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(F.sum("rev").cast("double"), 2).alias("total_revenue"),
        F.round(
            F.sum("rev").cast("double") / F.sum(F.sum("rev")).over(Window.partitionBy()).cast("double"),
            6,
        ).alias("revenue_share"),
    )


def type_hourly_correlation(events: DataFrame) -> DataFrame:
    """Pearson correlation matrix of hourly event-count series between
    event types — do errors co-move with clicks? — the co-monitoring
    screen behind alert-grouping heuristics. Hours where either type
    is absent count as zero for neither series (inner join on observed
    hours; documented convention).

    One hash agg to the tiny (type, hour) series, an equality
    self-join on hour (bounded by types² × hours), and one corr
    aggregate per pair. Returns (type_a, type_b, n_hours, corr).
    """
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("long").alias("n"))
    a = hourly.select(
        F.col("event_type").alias("type_a"), "hour", F.col("n").alias("na")
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"), "hour", F.col("n").alias("nb")
    )
    return (
        a.join(b, "hour")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            (F.round(F.corr("na", "nb"), 6) + F.lit(0.0)).alias("pearson_r"),
        )
    )


def l_diversity_audit(customer: DataFrame, orders: DataFrame, l: int = 3) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007) — the follow-on to
    ``k_anonymity_audit``: a quasi-identifier class can be large (k-
    anonymous) yet still leak if everyone in it shares the same
    sensitive value. Over the same (market segment, nation, balance
    band) QI with order priority as the sensitive attribute: classes
    whose orders span fewer than ``l`` distinct priorities are
    homogeneity-attack risks.

    One equi-join customer→orders on the key both tables are sized
    for, one hash agg on the QI, a narrow filter. Returns
    (c_mktsegment, c_nationkey, acctbal_band, n_customers, n_orders,
    n_priorities) for at-risk classes.
    """
    qi = customer.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
    )
    j = qi.join(orders, qi["c_custkey"] == orders["o_custkey"])
    return (
        j.groupBy("c_mktsegment", "c_nationkey", "acctbal_band")
        .agg(
            F.count_distinct("c_custkey").cast("long").alias("n_customers"),
            F.count("*").cast("long").alias("n_orders"),
            F.count_distinct("o_orderpriority").cast("long").alias("n_priorities"),
        )
        .where(F.col("n_priorities") < l)
    )


def mann_whitney_u(
    events: DataFrame, type_a: str = "purchase", type_b: str = "click"
) -> DataFrame:
    """Mann-Whitney U rank-sum test between two event types' value
    distributions — the nonparametric sibling of ``ab_conversion_ztest``
    (no normality assumption), the test a metrics review reaches for
    when value distributions are heavy-tailed. Midranks for ties and
    the tie-corrected normal-approximation variance, so the statistic
    is exact and deterministic in both engines — no tiebreak column.

    Scale shape: ranks are NOT assigned per row; the stream collapses
    to the per-distinct-value tie table first (one hash agg), and the
    prefix sum runs over that aggregated table (the documented narrow-
    data global window — at extreme scale, range-partitioned ranking).
    Returns one row (n_a, n_b, u_stat, z_score).
    """
    per_v = (
        events.where(F.col("event_type").isin(type_a, type_b))
        .groupBy("value")
        .agg(
            F.sum((F.col("event_type") == type_a).cast("long")).alias("na_v"),
            F.sum((F.col("event_type") == type_b).cast("long")).alias("nb_v"),
        )
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    t = F.col("na_v") + F.col("nb_v")
    ranked = per_v.select(
        "na_v",
        "nb_v",
        (
            F.coalesce(F.sum(t).over(w), F.lit(0)).cast("double")
            + (t.cast("double") + 1.0) / 2.0
        ).alias("avg_rank"),
        (t * t * t - t).cast("double").alias("tie_term"),
    )
    agg = ranked.agg(
        F.sum("na_v").cast("double").alias("n1"),
        F.sum("nb_v").cast("double").alias("n2"),
        F.sum(F.col("na_v") * F.col("avg_rank")).alias("r1"),
        F.sum("tie_term").alias("ties"),
    )
    n = F.col("n1") + F.col("n2")
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1.0) / 2.0
    mu = F.col("n1") * F.col("n2") / 2.0
    var = (
        F.col("n1")
        * F.col("n2")
        / 12.0
        * ((n + 1.0) - F.col("ties") / (n * (n - 1.0)))
    )
    return agg.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.round(u1, 6).alias("u_stat"),
        # every value tied → zero variance → z undefined; NULL, not a
        # 0/0 ANSI abort
        F.round(F.when(var > 0, (u1 - mu) / F.sqrt(var)), 6).alias("z_score"),
    )


def spearman_time_value(events: DataFrame) -> DataFrame:
    """Spearman rank correlation between event time and value per
    event_type — "is the metric trending over the period?" answered
    rank-based, robust to the heavy-tailed value distribution that
    makes Pearson (``value_hour_regression``) unstable. Midranks for
    ties on BOTH axes, so rho is exact and engine-deterministic.

    Scale shape: the rank assignment is the documented narrow-data
    global window per group (rank + tie-count, one sort exchange per
    axis); at extreme scale this becomes range-partitioned ranking.
    rho itself is one hash agg over the ranked stream. Returns one
    row per event_type (n, rho).
    """
    w_ts = Window.partitionBy("event_type").orderBy("ts_us")
    w_ts_tie = Window.partitionBy("event_type", "ts_us")
    w_v = Window.partitionBy("event_type").orderBy("value")
    w_v_tie = Window.partitionBy("event_type", "value")
    ranked = events.select(
        "event_type",
        F.col("ts").cast("double").alias("ts_us"),
        "value",
    ).select(
        "event_type",
        (
            F.rank().over(w_ts).cast("double")
            + (F.count("*").over(w_ts_tie).cast("double") - 1.0) / 2.0
        ).alias("r_ts"),
        (
            F.rank().over(w_v).cast("double")
            + (F.count("*").over(w_v_tie).cast("double") - 1.0) / 2.0
        ).alias("r_v"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            # corr can land on a signed zero after rounding — +0.0
            # canonicalizes (-0.0 + 0.0 == +0.0 in IEEE)
            (F.round(F.corr("r_ts", "r_v"), 6) + F.lit(0.0)).alias("rho"),
        )
        .orderBy("event_type")
    )


def kendall_tau_daily(events: DataFrame) -> DataFrame:
    """Kendall tau-b between daily event volume and daily mean value —
    the concordance view of "do busy days run hotter?", with the full
    tie correction (tau-b), one corpus-level row (n_days, concordant,
    discordant, tau_b).

    Scale shape: events collapse to ONE row per day first (single hash
    agg — the only pass over the raw stream); the O(days^2) pairwise
    comparison runs on that calendar-bounded table (30 days -> 435
    pairs; a DECADE is ~6.7M pairs), so the quadratic term grows with
    the time span, never with corpus size. The day-pair join is a
    broadcast nested-loop on the tiny aggregate BY DESIGN (listed in
    the bounded-NLJ allowlist).
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("double").alias("x"),
            # decimal-sum before the divide so the mean is bit-stable
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("y"),
        )
    )
    pairs = (
        daily.alias("a")
        .crossJoin(daily.alias("b"))
        .where(F.col("a.day") < F.col("b.day"))
    )
    dx = F.col("b.x") - F.col("a.x")
    dy = F.col("b.y") - F.col("a.y")
    agg = pairs.agg(
        F.count("*").cast("double").alias("n0"),
        F.sum(((dx * dy) > 0).cast("long")).cast("double").alias("c"),
        F.sum(((dx * dy) < 0).cast("long")).cast("double").alias("d"),
        F.sum(((dx == 0) & (dy != 0)).cast("long")).cast("double").alias("tx"),
        F.sum(((dy == 0) & (dx != 0)).cast("long")).cast("double").alias("ty"),
    )
    denom = F.sqrt((F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty")))
    return daily.agg(F.count("*").cast("long").alias("n_days")).crossJoin(
        agg.select(
            F.col("c").cast("long").alias("concordant"),
            F.col("d").cast("long").alias("discordant"),
            (
                F.round(
                    F.when(denom > 0, (F.col("c") - F.col("d")) / denom), 6
                )
                + F.lit(0.0)
            ).alias("tau_b"),
        )
    )


def theil_sen_daily_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend of daily event counts per event_type:
    the MEDIAN of all pairwise slopes — up to ~29% contaminated days
    (outages, backfills) cannot move it, unlike the OLS slope in
    ``value_hour_regression``. Returns (event_type, n_days, sen_slope,
    intercept) with the median-of-residuals intercept.

    Scale shape: same two-tier plan as ``kendall_tau_daily`` — one
    hash agg collapses events to the per-(type, day) table, and the
    pairwise slope grid is equi-joined ON event_type (hash join, no
    NLJ) with the day inequality as a post-join filter; the quadratic
    is calendar-bounded. Exact median via percentile on the bounded
    grid.
    """
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("double").alias("cnt"))
    daily = daily.select(
        "event_type",
        F.datediff("day", F.lit("1970-01-01")).cast("double").alias("d"),
        "cnt",
    )
    slopes = (
        daily.alias("a")
        .join(daily.alias("b"), "event_type")
        .where(F.col("a.d") < F.col("b.d"))
        .select(
            "event_type",
            (
                (F.col("b.cnt") - F.col("a.cnt"))
                / (F.col("b.d") - F.col("a.d"))
            ).alias("slope"),
        )
    )
    sen = slopes.groupBy("event_type").agg(
        F.percentile("slope", F.lit(0.5)).alias("sen_slope")
    )
    resid = daily.join(sen, "event_type").groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.first("sen_slope").alias("sen_slope"),
        F.percentile(
            F.col("cnt") - F.col("sen_slope") * F.col("d"), F.lit(0.5)
        ).alias("intercept"),
    )
    return resid.select(
        "event_type",
        "n_days",
        (F.round("sen_slope", 6) + F.lit(0.0)).alias("sen_slope"),
        (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
    ).orderBy("event_type")


def kruskal_wallis_value(events: DataFrame) -> DataFrame:
    """Kruskal-Wallis H across ALL event types' value distributions —
    the k-group generalization of ``mann_whitney_u`` ("do the five
    event types draw value from one distribution?"), midranks + the
    standard tie correction. One row: (k_groups, n_total, h_stat,
    h_corrected).

    Scale shape: identical rank economics to mann_whitney_u — the raw
    stream collapses to the per-distinct-value tie table (counts per
    value x group) in one hash agg, the midrank prefix-sum runs over
    distinct values only (narrow-data global window), and rank sums
    per group are one more hash agg. Shuffle is proportional to
    DISTINCT values, never rows.
    """
    per_vg = events.groupBy("value", "event_type").agg(
        F.count("*").cast("long").alias("n_vg")
    )
    per_v = per_vg.groupBy("value").agg(F.sum("n_vg").alias("t"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked_v = per_v.select(
        "value",
        (
            F.coalesce(F.sum("t").over(w), F.lit(0)).cast("double")
            + (F.col("t").cast("double") + 1.0) / 2.0
        ).alias("avg_rank"),
        (F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("double")
        .alias("tie_term"),
    )
    by_group = (
        per_vg.join(ranked_v, "value")
        .groupBy("event_type")
        .agg(
            F.sum("n_vg").cast("double").alias("n_g"),
            F.sum(F.col("n_vg") * F.col("avg_rank")).alias("r_g"),
        )
    )
    ties = ranked_v.agg(F.sum("tie_term").alias("tie_sum"))
    agg = by_group.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("rr"),
    ).crossJoin(ties)
    n = F.col("n")
    h = 12.0 / (n * (n + 1.0)) * F.col("rr") - 3.0 * (n + 1.0)
    c = 1.0 - F.col("tie_sum") / (n * n * n - n)
    return agg.select(
        "k_groups",
        n.cast("long").alias("n_total"),
        (F.round(h, 6) + F.lit(0.0)).alias("h_stat"),
        (F.round(F.when(c > 0, h / c), 6) + F.lit(0.0)).alias("h_corrected"),
    )


def lineitem_column_profile(lineitem: DataFrame) -> DataFrame:
    """Deequ-style column profile of the lineitem measures: row count,
    null count, exact distinct count, min/max/mean per column — the
    standard "what is in this table" data-quality readout a 100 TB
    ingest runs before anything else trusts the data.

    Scale shape: ONE scan computes every statistic — all 4×6 aggregates
    collapse in a single hash-agg pass with map-side partials (the
    count(distinct)s rewrite to one expand-aggregate, fan-out ×4, still
    a single scan), and the wide 1-row result is unpivoted to the
    4-row long form with ``stack`` — a narrow projection, no exchange.
    Output is bounded by the column list, never the data.

    The expand ×4 multiplies the scan's rows BEFORE the partial agg,
    so a fixture-narrow input (3 splits for 600k rows) serializes the
    heaviest stage on 3 cores — widened first (gated no-op at any real
    table width; measured 3.12 → 1.23 s min-of-6 at sf0.1).
    """
    lineitem = widen_for_cpu(lineitem, key_col="l_orderkey")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"{c}_nulls"),
            F.countDistinct(c).cast("long").alias(f"{c}_distinct"),
            F.round(F.min(c).cast("double"), 6).alias(f"{c}_min"),
            F.round(F.max(c).cast("double"), 6).alias(f"{c}_max"),
            # exact decimal sum -> double, THEN divide: bit-stable on any
            # engine / partial-agg order (double avg is not); the when()
            # guards ANSI divide-by-zero on an empty or all-null column
            F.round(
                F.when(
                    F.count(c) > 0,
                    F.sum(F.col(c).cast("decimal(18,6)")).cast("double") / F.count(c),
                ),
                6,
            ).alias(f"{c}_mean"),
        ]
    wide = lineitem.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max, {c}_mean" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val, mean_val)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val", "mean_val")


def orders_constraint_audit(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Constraint-violation audit over orders: positive total price,
    status-domain membership, order-date range, and the o_custkey →
    customer referential-integrity check — counted per rule with the
    violation rate. The Deequ-style "verification suite" readout:
    (rule, n_checked, n_violations, violation_rate).

    Scale shape: the FK check is a plain shuffled left join on custkey
    (customer scales with the corpus, so no broadcast — both sides
    hash-partition); every domain rule then folds in the SAME single
    hash-agg pass over the joined rows, and the bounded 1-row wide
    result unpivots via ``stack``. One join + one agg, 4-row output.
    """
    joined = orders.join(
        customer.select(F.col("c_custkey").alias("ck")),
        orders["o_custkey"] == F.col("ck"),
        "left",
    )
    viol = {
        "positive_total": F.col("o_totalprice") <= 0,
        "status_domain": ~F.col("o_orderstatus").isin("O", "F", "P"),
        "date_range": ~F.col("o_orderdate").between("1995-01-01", "2000-12-31"),
        "customer_fk": F.col("ck").isNull(),
    }
    aggs = [F.count("*").cast("long").alias("n_checked")]
    for rule, cond in viol.items():
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"v_{rule}"))
    wide = joined.agg(*aggs)
    stack_args = ", ".join(f"'{r}', v_{r}" for r in viol)
    return (
        wide.selectExpr(
            f"stack({len(viol)}, {stack_args}) AS (rule, n_violations)", "n_checked"
        )
        .select(
            "rule",
            "n_checked",
            "n_violations",
            # when() guards ANSI divide-by-zero on an empty orders table
            F.round(
                F.when(
                    F.col("n_checked") > 0,
                    F.col("n_violations") / F.col("n_checked"),
                ),
                6,
            ).alias("violation_rate"),
        )
    )


def cramers_v_order_attrs(orders: DataFrame) -> DataFrame:
    """Chi-square independence test + Cramér's V between order status
    and order priority — "does priority mix differ by lifecycle
    stage?", the canonical categorical-association readout for a BI
    surface (reference exposes only numeric corr; this is its
    categorical twin).

    Scale shape: ONE hash agg on (status, priority) collapses the
    stream to an r×c contingency table (3×5 here, bounded by the two
    domains); marginals, expected counts, chi² and V all ride that
    tiny table through broadcast joins — nothing downstream of the
    first agg ever sees a row count proportional to the input.

    Returns one row (n, r, c, dof, chi2, cramers_v).
    """
    cell = orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count("*").cast("double").alias("obs"))
    row_m = cell.groupBy("s").agg(F.sum("obs").alias("row_n"))
    col_m = cell.groupBy("p").agg(F.sum("obs").alias("col_n"))
    tot = cell.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("s").cast("double").alias("r"),
        F.countDistinct("p").cast("double").alias("c"),
    )
    # full r×c grid (bounded: two tiny marginal tables crossed), so
    # empty cells still contribute their expected count to chi²
    grid = row_m.crossJoin(F.broadcast(col_m))
    joined = (
        grid.join(F.broadcast(cell), ["s", "p"], "left")
        .withColumn("obs", F.coalesce("obs", F.lit(0.0)))
        .crossJoin(F.broadcast(tot))
    )
    chi2 = joined.agg(
        F.first("n").alias("n_d"),
        F.first("r").alias("r_d"),
        F.first("c").alias("c_d"),
        F.sum(
            F.pow(F.col("obs") - F.col("row_n") * F.col("col_n") / F.col("n"), 2)
            / (F.col("row_n") * F.col("col_n") / F.col("n"))
        ).alias("chi2_raw"),
    )
    return chi2.select(
        F.col("n_d").cast("long").alias("n"),
        F.col("r_d").cast("long").alias("r"),
        F.col("c_d").cast("long").alias("c"),
        ((F.col("r_d") - 1) * (F.col("c_d") - 1)).cast("long").alias("dof"),
        (F.round(F.col("chi2_raw"), 6) + F.lit(0.0)).alias("chi2"),
        (
            F.round(
                F.sqrt(
                    F.col("chi2_raw")
                    / (F.col("n_d") * F.least(F.col("r_d") - 1, F.col("c_d") - 1))
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("cramers_v"),
    )


#: bin count for the binned distribution-distance grid — shared with
#: the DuckDB oracle. 256 equi-width bins bound every downstream row
#: count at types×256 regardless of input size; the binning error of
#: each statistic is at most one bin of mass / one bin of width.
DIST_BINS = 256


def value_distribution_distances(events: DataFrame, n_bins: int = DIST_BINS) -> DataFrame:
    """Two-sample distribution distances between the `value`
    distributions of every event-type pair — KS statistic, first
    Wasserstein distance, a Cramér–von Mises integral and the energy
    distance, all computed on a shared 256-bin equi-width grid — the
    drift matrix that answers "which metrics moved, and by how much,
    between behaviors?" in one pass (value_psi_drift is the
    two-slice/one-metric form; this is all-pairs/four-metrics).

    Scale shape: ONE scan feeds a (type × bin) hash agg bounded at
    types×n_bins cells; the dense CDF grid, the pair join (on bin)
    and all four metric folds run on that bounded table — the
    quadratic term is pairs-of-types, never pairs-of-rows. The only
    broadcasts are the 1-row value-range bound and the bin spine.

    Binned-statistic semantics (documented approximation): mass sits
    at bin granularity, so each CDF step errs by at most one bin's
    mass and the integrals by one bin's width; identical in the
    oracle, so the comparison is exact.

    Returns one row per unordered type pair (type_a < type_b):
    (type_a, type_b, n_a, n_b, ks, w1, cvm, energy), floats rounded
    to 6 with signed zeros canonicalized.
    """
    ev = events.where(F.col("value").isNotNull()).select("event_type", "value")
    # both bounded intermediates are checkpointed (same discipline as
    # the shared near-dup pair graph): without the lineage cut, the
    # downstream plan-tree duplication (types / grid / both pair
    # sides) re-scans the raw event stream up to four times — the
    # checkpoints pin the big-data work to exactly TWO scans (min/max
    # pass, then the binning agg), and everything after runs on a
    # ≤ types×n_bins-row table
    bounds = ev.agg(
        F.min("value").alias("v_min"), F.max("value").alias("v_max")
    ).localCheckpoint()
    # bin width guarded against a degenerate (constant-value) corpus:
    # ANSI mode raises on double 0/0, so the index expression must not
    # divide by a zero range
    binned = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.when(
                F.col("v_max") > F.col("v_min"),
                F.least(
                    F.lit(n_bins - 1),
                    F.floor(
                        (F.col("value") - F.col("v_min"))
                        / (F.col("v_max") - F.col("v_min"))
                        * n_bins
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").cast("double").alias("cnt"))
        .localCheckpoint()
    )
    spine = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
            ((F.col("v_max") - F.col("v_min")) / n_bins).alias("width"),
        )
    )
    types = binned.groupBy("event_type").agg(F.sum("cnt").alias("n_t"))
    grid = (
        types.crossJoin(F.broadcast(spine))
        .join(F.broadcast(binned), ["event_type", "bin"], "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0.0)))
    )
    w_cdf = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cdf = grid.select(
        "event_type",
        "bin",
        "width",
        "n_t",
        (F.sum("cnt").over(w_cdf) / F.col("n_t")).alias("cdf"),
        (F.col("cnt") / F.col("n_t")).alias("pmf"),
    )
    a, b = cdf.alias("a"), cdf.alias("b")
    pair = a.join(
        b,
        (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n_t").alias("n_a"),
        F.col("b.n_t").alias("n_b"),
        F.col("a.width").alias("width"),
        F.col("a.cdf").alias("fa"),
        F.col("b.cdf").alias("fb"),
        F.col("a.pmf").alias("pa"),
        F.col("b.pmf").alias("pb"),
    )
    d = F.col("fa") - F.col("fb")
    folded = pair.groupBy("type_a", "type_b").agg(
        F.first("n_a").cast("long").alias("n_a"),
        F.first("n_b").cast("long").alias("n_b"),
        F.max(F.abs(d)).alias("ks_raw"),
        F.sum(F.abs(d) * F.col("width")).alias("w1_raw"),
        # CvM integral: (ΔF)² against the POOLED mass increment
        F.sum(
            d * d * (F.col("pa") + F.col("pb")) / 2.0
        ).alias("cvm_raw"),
        # energy distance via CDF integrals:
        # E|X−Y| = ∫ FA+FB−2·FA·FB, E|X−X'| = ∫ 2·FA(1−FA)
        F.sum(
            (
                2.0 * (F.col("fa") + F.col("fb") - 2.0 * F.col("fa") * F.col("fb"))
                - 2.0 * F.col("fa") * (1.0 - F.col("fa"))
                - 2.0 * F.col("fb") * (1.0 - F.col("fb"))
            )
            * F.col("width")
        ).alias("energy_raw"),
    )
    return folded.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        (F.round("ks_raw", 6) + F.lit(0.0)).alias("ks"),
        (F.round("w1_raw", 6) + F.lit(0.0)).alias("w1"),
        (F.round("cvm_raw", 6) + F.lit(0.0)).alias("cvm"),
        (F.round("energy_raw", 6) + F.lit(0.0)).alias("energy"),
    ).orderBy("type_a", "type_b")


def join_key_skew_advisory(lineitem: DataFrame, key: str = "l_partkey") -> DataFrame:
    """Skew advisory for a join/shuffle key: per-key row-count
    distribution (mean / p50 / p99 / max), the hottest key, the skew
    ratio, and a recommended salt factor — the pre-flight check this
    engine itself needs before shuffling 100 TB on a key (AQE's
    skew-join split reads COMPRESSED shuffle bytes and misses
    low-entropy hot keys — see PERF.md — so a row-count advisory
    is the reliable planning input).

    Scale shape: one hash agg to the per-key count table, then ONE
    fold over it — the hot key rides a max(struct(cnt, -key)) so no
    second pass, no window, no join; exact percentiles over the key
    table are the documented memory-bounded-group form. Output is a
    single row.

    salt_factor = ceil(max_rows / max(p99_rows, 1)): splitting the
    hottest key into that many sub-keys levels it down to the p99
    key, the "already fine" tier.
    """
    counts = lineitem.groupBy(key).agg(F.count("*").cast("long").alias("cnt"))
    fold = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        (F.sum("cnt") / F.count("*")).alias("mean_raw"),
        F.percentile(F.col("cnt").cast("double"), F.lit(0.5)).alias("p50_raw"),
        F.percentile(F.col("cnt").cast("double"), F.lit(0.99)).alias("p99_raw"),
        F.max("cnt").cast("long").alias("max_rows"),
        F.max(F.struct(F.col("cnt"), (-F.col(key)).alias("neg_key"))).alias("m"),
    )
    return fold.select(
        "n_rows",
        "n_keys",
        F.round("mean_raw", 6).alias("mean_rows"),
        F.round("p50_raw", 6).alias("p50_rows"),
        F.round("p99_raw", 6).alias("p99_rows"),
        "max_rows",
        (-F.col("m.neg_key")).cast("long").alias("hot_key"),
        F.round(F.col("max_rows") / F.col("mean_raw"), 6).alias("skew_ratio"),
        F.ceil(F.col("max_rows") / F.greatest(F.col("p99_raw"), F.lit(1.0)))
        .cast("long")
        .alias("salt_factor"),
    )


def shuffle_partition_balance(
    lineitem: DataFrame, key: str = "l_orderkey", n_parts: int = 32
) -> DataFrame:
    """Row-count balance of a hash-partitioning of `key` into
    `n_parts` buckets — the "would this shuffle be level?" histogram,
    using the repo's deterministic integer mixer (exact in both
    engines; Spark's own murmur3 is JVM-internal and not oracle-
    reproducible, but mixes comparably for sequential keys).

    Scale shape: the mixer is a narrow in-row projection; ONE hash
    agg to n_parts rows; share and deviation ride an unpartitioned
    window over that n_parts-row table (bounded by construction).
    Returns (partition_id, n_rows, share, dev_ratio) ordered by id.
    """
    pid = ((F.col(key) * 40503 + 997) % 2654435761 % n_parts).cast("int")
    per = (
        lineitem.select(pid.alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    w = Window.partitionBy()
    return per.select(
        "partition_id",
        "n_rows",
        F.round(F.col("n_rows") / F.sum("n_rows").over(w), 6).alias("share"),
        F.round(F.col("n_rows") / F.avg("n_rows").over(w), 6).alias("dev_ratio"),
    ).orderBy("partition_id")


#: Spark's default spark.sql.autoBroadcastJoinThreshold — shared with
#: the DuckDB oracle.
BROADCAST_THRESHOLD_BYTES = 10 * 1024 * 1024


def broadcast_planning_report(
    region: DataFrame,
    nation: DataFrame,
    supplier: DataFrame,
    customer: DataFrame,
) -> DataFrame:
    """Measured-size broadcast eligibility for the four dimension
    tables: row count, estimated in-memory bytes (8 per non-string
    column + octet_length+4 per string), and whether the table fits
    under Spark's 10 MiB autoBroadcastJoinThreshold — the planning
    readout behind every `broadcast()` hint this repo's joins use
    (row-count heuristics lie when comment-like columns are wide;
    this measures).

    Scale shape: one single-row agg per dimension table (dimension
    scans are small by definition), unioned — 4 rows out. The size
    expression is built from each DataFrame's schema, so it tracks
    column changes without edits.
    """
    def est_row(df: DataFrame):
        parts = []
        for f_ in df.schema.fields:
            if f_.dataType.simpleString() == "string":
                parts.append(
                    F.coalesce(F.octet_length(F.col(f_.name)), F.lit(0)) + 4
                )
            else:
                parts.append(F.lit(8))
        out = parts[0]
        for p in parts[1:]:
            out = out + p
        return out

    def one(df: DataFrame, name: str):
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(est_row(df).cast("long")).cast("long").alias("est_bytes"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "est_bytes")

    u = (
        one(region, "region")
        .unionByName(one(nation, "nation"))
        .unionByName(one(supplier, "supplier"))
        .unionByName(one(customer, "customer"))
    )
    return u.select(
        "table_name",
        "n_rows",
        "est_bytes",
        F.round(F.col("est_bytes") / (1024.0 * 1024.0), 6).alias("est_mb"),
        (F.col("est_bytes") <= BROADCAST_THRESHOLD_BYTES)
        .cast("int")
        .alias("broadcastable"),
    ).orderBy("table_name")


def brand_price_elasticity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Log-log demand regression per brand: ln(total quantity sold
    per part) against ln(retail price), slope = price elasticity —
    the pricing-analytics staple, here exercising the engine's
    join → two-level aggregation → closed-form OLS pipeline shape.

    Scale shape: lineitem collapses to one row per part FIRST (hash
    agg on the join key), so the part join moves part-count rows,
    not line-count; the per-brand OLS is one second hash agg with
    the five-moment closed form. Brands with no price variance are
    dropped (fp-robust 1e-9 cut, same convention as heaps_law_fit).

    Returns (p_brand, n_parts, elasticity, intercept, r2) rounded 6.
    """
    # the qty sum is decimal-exact too: ln() of an order-dependent
    # double sum shifts y by an ulp, and the brand OLS amplifies it
    per_part = (
        lineitem.where(F.col("l_quantity") > 0)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("qty")
        )
    )
    pts = per_part.join(
        part.where(F.col("p_retailprice") > 0).select(
            "p_partkey", "p_brand", "p_retailprice"
        ),
        per_part.l_partkey == F.col("p_partkey"),
    ).select(
        # ln() itself differs by an ulp across engines and the OLS
        # amplifies it ~1e6× on low-variance brands: quantize the log
        # points to 6 dp (documented in the result contract) so both
        # engines regress the IDENTICAL point set
        "p_brand",
        F.round(F.log("p_retailprice"), 6).alias("x"),
        F.round(F.log("qty"), 6).alias("y"),
    )
    # moment terms go through decimal(24,12) so the per-brand sums are
    # exact and ORDER-INDEPENDENT: the intercept is O(100), and at 6-dp
    # rounding a double-sum's partition-order ulp noise is visible
    def dsum(c):
        return F.sum(c.cast("decimal(24,12)")).cast("double")

    m = pts.groupBy("p_brand").agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    slope = sxy_c / sxx_c
    return (
        m.where(sxx_c > 1e-9)
        .select(
            "p_brand",
            F.col("n").cast("long").alias("n_parts"),
            (F.round(slope, 6) + F.lit(0.0)).alias("elasticity"),
            (
                F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
                + F.lit(0.0)
            ).alias("intercept"),
            (
                F.round(
                    F.when(
                        syy_c > 1e-9, sxy_c * sxy_c / (sxx_c * syy_c)
                    ).otherwise(F.lit(0.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("r2"),
        )
        .orderBy("p_brand")
    )


def discount_quantity_response(lineitem: DataFrame) -> DataFrame:
    """Average order quantity and unit price at each discount level
    (discounts are discrete 2-dp steps in the data; rounding makes
    the levels explicit) — "do deeper discounts actually move more
    units?" read directly off the level curve.

    Scale shape: one narrow projection + ONE hash agg on the bounded
    discount-level key (≤ 101 levels); nothing else. Returns
    (discount_level, n_items, avg_qty, avg_unit_price, share_of_rows)
    rounded 6, ordered by level.
    """
    lvl = lineitem.select(
        F.round("l_discount", 2).alias("discount_level"),
        "l_quantity",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    ).where(F.col("l_quantity") > 0)
    agg = lvl.groupBy("discount_level").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("unit_price"), 6).alias("avg_unit_price"),
    )
    w = Window.partitionBy()
    return agg.select(
        "discount_level",
        "n_items",
        "avg_qty",
        "avg_unit_price",
        F.round(F.col("n_items") / F.sum("n_items").over(w), 6).alias(
            "share_of_rows"
        ),
    ).orderBy("discount_level")


def nation_revenue_inequality(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Per-nation inequality decomposition of customer revenue — Gini
    (rank form), Theil T (within-nation), and Atkinson ε=1 — the
    "is our revenue base concentrated, and where?" panel; Theil is the
    decomposable one (total = between + Σ share·within, asserted in
    tests), Atkinson the welfare-weighted one.

    Scale shape: orders collapse to one decimal-exact revenue row per
    customer FIRST (the only pass over the fact stream); customer is
    NOT broadcast (it scales with the corpus — equi-shuffle join on
    the customer key), only the 25-row nation dim is; the rank
    windows run inside nation partitions, and the final agg is
    nations-bounded. Revenue sums go through decimal(18,2) so every
    downstream ratio is bit-identical across engines.

    Returns (n_name, n_cust, total_rev, rev_share, gini, theil_within,
    atkinson) rounded 6, ordered by n_name.
    """
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("x")
        )
        .where(F.col("x") > 0)
    )
    keyed = rev.join(
        customer.select("c_custkey", "c_nationkey"),
        rev.o_custkey == F.col("c_custkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("n_name", "o_custkey", "x")
    w_rank = Window.partitionBy("n_name").orderBy("x", "o_custkey")
    ranked = keyed.select(
        "n_name",
        "x",
        F.row_number().over(w_rank).cast("double").alias("i"),
    )
    per_nation = ranked.groupBy("n_name").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("tot"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
        F.sum(F.log("x")).alias("slnx"),
    # μ from the decimal-exact total, not a float avg(): identical in
    # both engines by construction
    ).withColumn("mu", F.col("tot") / F.col("n"))
    w_all = Window.partitionBy()
    return (
        per_nation.select(
            "n_name",
            F.col("n").cast("long").alias("n_cust"),
            F.round(F.col("tot"), 2).alias("total_rev"),
            F.round(F.col("tot") / F.sum("tot").over(w_all), 6).alias("rev_share"),
            (
                F.round(
                    2.0 * F.col("ix") / (F.col("n") * F.col("tot"))
                    - (F.col("n") + 1.0) / F.col("n"),
                    6,
                )
                + F.lit(0.0)
            ).alias("gini"),
            F.col("n").alias("_n"),
            F.col("tot").alias("_tot"),
            F.col("slnx").alias("_slnx"),
            F.col("mu").alias("_mu"),
        )
        .alias("p")
        .join(
            # Theil T needs Σ x·ln(x/μ) with μ known: fold it in a second
            # bounded pass over the per-customer table joined to the tiny
            # per-nation means (broadcast, nations-bounded)
            keyed.join(
                F.broadcast(per_nation.select(F.col("n_name").alias("m_name"), "mu")),
                F.col("n_name") == F.col("m_name"),
            )
            .groupBy(F.col("n_name").alias("t_name"))
            .agg(
                F.sum(F.col("x") * F.log(F.col("x") / F.col("mu"))).alias("xlnx")
            ),
            F.col("n_name") == F.col("t_name"),
        )
        .select(
            "n_name",
            "n_cust",
            "total_rev",
            "rev_share",
            "gini",
            (
                F.round(F.col("xlnx") / F.col("_tot"), 6) + F.lit(0.0)
            ).alias("theil_within"),
            (
                F.round(
                    1.0 - F.exp(F.col("_slnx") / F.col("_n")) / F.col("_mu"), 6
                )
                + F.lit(0.0)
            ).alias("atkinson"),
        )
        .orderBy("n_name")
    )


def median_order_stat_ci(events: DataFrame) -> DataFrame:
    """Distribution-free confidence interval for the median per event
    type: the classical order-statistic CI (binomial ranks, normal
    approximation, z = 1.96) — no bootstrap resampling, no normality
    assumption on the data; the nonparametric companion to
    bootstrap_mean_ci.

    Scale shape: one bounded per-type count agg broadcast back, one
    rank window per type (the documented narrow-data per-group sort),
    and a conditional-max fold that plucks the two CI order statistics
    without a second sort or a self-join. Ranks tie-break on event_id.

    Returns (event_type, n, median, ci_lo, ci_hi) — ci bounds are the
    values at ranks floor((n−1.96√n)/2) and ceil((n+1.96√n)/2)+1,
    clamped to [1, n]; floats rounded 6.
    """
    # null values would rank ahead of the data while still counting
    # toward n — drop them before anything else
    events = events.where(F.col("value").isNotNull())
    counts = events.groupBy("event_type").agg(F.count("*").cast("double").alias("n"))
    bounds = counts.select(
        "event_type",
        "n",
        F.greatest(
            F.lit(1),
            F.floor((F.col("n") - 1.96 * F.sqrt("n")) / 2.0).cast("long"),
        ).alias("lo_rank"),
        F.least(
            F.col("n").cast("long"),
            F.ceil((F.col("n") + 1.96 * F.sqrt("n")) / 2.0).cast("long") + 1,
        ).alias("hi_rank"),
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = events.select(
        "event_type", "value", F.row_number().over(w).cast("long").alias("rk")
    ).join(F.broadcast(bounds), "event_type")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.first("n").cast("long").alias("n"),
            F.round(F.percentile(F.col("value"), F.lit(0.5)), 6).alias("median"),
            F.round(
                F.max(F.when(F.col("rk") == F.col("lo_rank"), F.col("value"))), 6
            ).alias("ci_lo"),
            F.round(
                F.max(F.when(F.col("rk") == F.col("hi_rank"), F.col("value"))), 6
            ).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


def partition_layout_advisory(events: DataFrame) -> DataFrame:
    """Partition-column advisory for writing the event stream out:
    for each candidate key (event_type, order date) report distinct
    values, rows and measured bytes per value, the 128 MiB-target file
    count, and a verdict — TOO_COARSE (fewer than 4 partitions kills
    parallel pruning), TOO_GRANULAR (sub-16 MiB partitions drown the
    scan in file-open overhead), else OK. The write-side twin of
    broadcast_planning_report: measured bytes, not guessed.

    Scale shape: one single-pass agg per candidate (integer byte sums
    — exact and order-independent), 2 rows out.
    """
    row_bytes = (
        F.lit(32)  # event_id, ts, user_id, value: fixed-width
        + F.coalesce(F.octet_length("event_type"), F.lit(0)) + 4
        + F.coalesce(F.octet_length("props"), F.lit(0)) + 4
    ).cast("long")

    def one(keyed: DataFrame, name: str):
        agg = keyed.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("k").cast("long").alias("n_values"),
            F.sum("b").cast("long").alias("total_bytes"),
        )
        mb_per_value = (
            F.col("total_bytes") / F.col("n_values") / (1024.0 * 1024.0)
        )
        # empty input → n_values 0 → ANSI 0/0 raises; no candidate is
        # the honest answer for an empty stream
        agg = agg.where(F.col("n_values") > 0)
        return agg.select(
            F.lit(name).alias("candidate"),
            "n_values",
            # explicit floor: Spark's double→long cast truncates while
            # DuckDB's CAST rounds — floor() agrees everywhere
            F.floor(F.col("n_rows") / F.col("n_values")).cast("long").alias(
                "rows_per_value"
            ),
            F.round(mb_per_value, 6).alias("est_mb_per_value"),
            F.greatest(F.lit(1), F.ceil(mb_per_value / 128.0)).cast("long").alias(
                "files_per_value"
            ),
            F.when(F.col("n_values") < 4, F.lit("TOO_COARSE"))
            .when(mb_per_value < 16.0, F.lit("TOO_GRANULAR"))
            .otherwise(F.lit("OK"))
            .alias("verdict"),
        )

    base = events.select(
        F.col("event_type").alias("k1"),
        F.to_date("ts").alias("k2"),
        row_bytes.alias("b"),
    )
    u = one(
        base.select(F.col("k1").alias("k"), "b"), "event_type"
    ).unionByName(one(base.select(F.col("k2").alias("k"), "b"), "event_date"))
    return u.orderBy("candidate")


def basket_triple_itemsets(lineitem: DataFrame, min_support: int = 2) -> DataFrame:
    """Frequent THREE-item sets over order baskets — the Apriori
    level-3 extension of order_basket_rules, with the lattice pruning
    that makes level-3 tractable at scale: candidate triples are only
    generated by extending pairs that are themselves frequent, which
    is lossless by the Apriori monotonicity property (every sub-pair
    of a support-s triple has support ≥ s), so the oracle can verify
    with a plain 3-way join and must agree exactly.

    Scale shape: baskets collapse to DISTINCT (order, part) first;
    per-order pairs are semi-joined against the frequent-pair set
    BEFORE the third leg joins on (both the candidate fan-out killer);
    basket size bounds the join fan-out exactly as in the pair rules.
    Lift compares observed triple support to the independence product.

    Returns (part_a, part_b, part_c, n_all3, support, lift) with
    n_all3 ≥ min_support, ordered.
    """
    items = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
    ).distinct()
    n_orders = items.select("okey").distinct().agg(
        F.count("*").cast("double").alias("n_orders")
    )
    singles = items.groupBy("pkey").agg(F.count("*").cast("double").alias("n_1"))
    a = items.select("okey", F.col("pkey").alias("pa"))
    b = items.select("okey", F.col("pkey").alias("pb"))
    c = items.select("okey", F.col("pkey").alias("pc"))
    order_pairs = a.join(b, "okey").where(F.col("pa") < F.col("pb"))
    freq_pairs = (
        order_pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("n2"))
        .where(F.col("n2") >= min_support)
        .select("pa", "pb")
    )
    pruned_pairs = order_pairs.join(freq_pairs, ["pa", "pb"], "left_semi")
    triples = (
        pruned_pairs.join(c, "okey")
        .where(F.col("pc") > F.col("pb"))
        # second Apriori prune: (pa,pc) and (pb,pc) must be frequent too
        .join(
            freq_pairs.select(
                F.col("pa").alias("pa"), F.col("pb").alias("pc")
            ),
            ["pa", "pc"],
            "left_semi",
        )
        .join(
            freq_pairs.select(
                F.col("pa").alias("pb"), F.col("pb").alias("pc")
            ),
            ["pb", "pc"],
            "left_semi",
        )
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").cast("long").alias("n_all3"))
        .where(F.col("n_all3") >= min_support)
    )
    enriched = (
        triples.join(
            F.broadcast(singles.select(F.col("pkey").alias("pa"), F.col("n_1").alias("na"))),
            "pa",
        )
        .join(
            F.broadcast(singles.select(F.col("pkey").alias("pb"), F.col("n_1").alias("nb"))),
            "pb",
        )
        .join(
            F.broadcast(singles.select(F.col("pkey").alias("pc"), F.col("n_1").alias("nc"))),
            "pc",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    return enriched.select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        F.col("pc").alias("part_c"),
        "n_all3",
        F.round(F.col("n_all3") / F.col("n_orders"), 6).alias("support"),
        F.round(
            (F.col("n_all3") / F.col("n_orders"))
            / (
                (F.col("na") / F.col("n_orders"))
                * (F.col("nb") / F.col("n_orders"))
                * (F.col("nc") / F.col("n_orders"))
            ),
            6,
        ).alias("lift"),
    ).orderBy("part_a", "part_b", "part_c")


def weekly_psi_series(events: DataFrame) -> DataFrame:
    """Population-stability-index time series: each week's `value`
    distribution scored against the FIRST week over that baseline
    week's decile bins — the standing drift monitor (value_psi_drift
    is the two-slice form; this is the longitudinal one a pipeline
    alerts on). Shares are floored at 0.5 counts (the standard
    continuity smoothing) so an empty bin can't blow up the log term.

    Scale shape: one pass bins every row against a 9-edge broadcast
    (the baseline deciles — a 1-row aggregate); the PSI fold runs on
    the weeks×10 bounded grid. Weeks are date_trunc('week')-bounded.

    Returns (week_start, n, psi) rounded 6, ordered by week; the
    baseline week reads exactly 0.
    """
    ev = events.where(F.col("value").isNotNull()).select(
        F.date_trunc("week", "ts").alias("wk"), "value"
    )
    # three checkpointed bounded intermediates (1-row week, 1-row edge
    # vector, weeks×10 cell grid) pin the operator at its logical
    # minimum of THREE data passes (min-week, baseline deciles, the
    # binning agg); without the cuts the cell grid's three consumers
    # each re-bin the full stream
    base_wk = ev.agg(F.min("wk").alias("w0")).localCheckpoint()
    edges = (
        ev.join(F.broadcast(base_wk), ev.wk == F.col("w0"))
        .agg(
            *[
                F.percentile("value", F.lit(q / 10.0)).alias(f"e{q}")
                for q in range(1, 10)
            ]
        )
        .localCheckpoint()
    )
    binned = ev.crossJoin(F.broadcast(edges)).select(
        "wk",
        sum(
            [(F.col("value") > F.col(f"e{q}")).cast("int") for q in range(1, 10)],
            F.lit(0),
        ).alias("bin"),
    )
    cell = (
        binned.groupBy("wk", "bin")
        .agg(F.count("*").cast("double").alias("cnt"))
        .localCheckpoint()
    )
    wk_tot = cell.groupBy("wk").agg(F.sum("cnt").alias("n_wk"))
    # dense weeks×10 grid so empty bins participate (smoothed)
    spine = wk_tot.crossJoin(
        F.broadcast(
            base_wk.select(
                F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin")
            )
        )
    )
    dense = spine.join(cell, ["wk", "bin"], "left").select(
        "wk",
        "bin",
        "n_wk",
        (F.greatest(F.coalesce("cnt", F.lit(0.0)), F.lit(0.5)) / F.col("n_wk")).alias(
            "p"
        ),
    )
    base = dense.join(F.broadcast(base_wk), dense.wk == F.col("w0")).select(
        F.col("bin").alias("bin"), F.col("p").alias("p0")
    )
    folded = (
        dense.join(F.broadcast(base), "bin")
        .groupBy("wk")
        .agg(
            F.first("n_wk").cast("long").alias("n"),
            (
                F.round(
                    F.sum((F.col("p") - F.col("p0")) * F.log(F.col("p") / F.col("p0"))),
                    6,
                )
                + F.lit(0.0)
            ).alias("psi"),
        )
    )
    return folded.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"), "n", "psi"
    ).orderBy("week_start")


def neyman_allocation(events: DataFrame, total_n: int = 10000) -> DataFrame:
    """Neyman (minimum-variance) sample allocation across event-type
    strata for a fixed budget: n_h ∝ N_h·S_h — the survey-sampling
    answer to "how should 10k QA samples be split across event
    types?", against the naive proportional split.

    Scale shape: ONE hash agg computes every stratum's count and
    stddev; everything after runs on the types-bounded table with a
    1-row total broadcast. Returns (event_type, n_h, stddev_value,
    neyman_share, neyman_n, proportional_n), ordered.
    """
    strata = (
        events.where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n_h"),
            F.coalesce(F.stddev_pop("value"), F.lit(0.0)).alias("s_h"),
        )
        .withColumn("w", F.col("n_h") * F.col("s_h"))
    )
    tot = strata.agg(
        F.sum("w").alias("sw"), F.sum("n_h").alias("sn")
    )
    return (
        strata.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n_h").cast("long").alias("n_h"),
            F.round("s_h", 6).alias("stddev_value"),
            F.round(
                F.when(F.col("sw") > 0, F.col("w") / F.col("sw")).otherwise(0.0), 6
            ).alias("neyman_share"),
            F.round(
                F.when(
                    F.col("sw") > 0, total_n * F.col("w") / F.col("sw")
                ).otherwise(0.0),
                0,
            )
            .cast("long")
            .alias("neyman_n"),
            F.round(total_n * F.col("n_h") / F.col("sn"), 0)
            .cast("long")
            .alias("proportional_n"),
        )
        .orderBy("event_type")
    )


def order_reconciliation_audit(
    orders: DataFrame, lineitem: DataFrame, tolerance: float = 0.01
) -> DataFrame:
    """Financial reconciliation between the order header total and the
    recomputed sum of its lines (extendedprice·(1−disc)·(1+tax)) — the
    cross-table conformance audit every ingest pipeline runs before
    trusting either table: per order status it reports how many orders
    have lines at all, how many reconcile within tolerance, and the
    p50/max absolute discrepancy. (On the synthetic fixtures the
    header totals are generated independently, so the audit correctly
    reports a ~0% reconcile rate — the point is the measurement.)

    Scale shape: lineitem collapses to one decimal-exact (cents-
    rounded per line, then exactly summed) row per order before the
    header join, so the join moves order-count rows; the audit fold
    is one hash agg on the bounded status key with an exact
    percentile over per-status diffs. The per-line decimal math +
    partial agg are the CPU-bound map over the scan, so the
    single-split fixture scan is widened first (``widen_for_cpu`` on
    the l_orderkey the groupBy hashes anyway, so the aggregation
    reuses the widen exchange; no-op at corpus width; round-14 A/B:
    2.16 → 1.60 s min-of-6 interleaved, outputs identical — the
    per-order sums are exact decimal).

    Returns (o_orderstatus, n_orders, n_with_lines, n_orphan,
    n_reconciled, reconcile_rate, p50_abs_diff, max_abs_diff).
    """
    per_order = widen_for_cpu(lineitem, key_col="l_orderkey").groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1.0 - F.col("l_discount"))
                * (1.0 + F.col("l_tax")),
                2,
            ).cast("decimal(18,2)")
        )
        .cast("double")
        .alias("calc")
    )
    joined = orders.select("o_orderkey", "o_orderstatus", "o_totalprice").join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "left"
    )
    diff = F.round(F.abs(F.col("o_totalprice") - F.col("calc")), 2)
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.count("calc").cast("long").alias("n_with_lines"),
            F.sum(F.col("calc").isNull().cast("long")).cast("long").alias("n_orphan"),
            F.sum((diff <= tolerance).cast("long")).cast("long").alias(
                "n_reconciled"
            ),
            F.round(
                F.sum((diff <= tolerance).cast("long"))
                / F.count("calc"),
                6,
            ).alias("reconcile_rate"),
            F.round(F.percentile(diff, F.lit(0.5)), 6).alias("p50_abs_diff"),
            F.round(F.max(diff), 2).alias("max_abs_diff"),
        )
        .orderBy("o_orderstatus")
    )
