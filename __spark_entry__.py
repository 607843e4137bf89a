"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``mapreduce_golang_spark/``; this module only
wires the contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F_

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_golang_spark.functions import sql_surface
from mapreduce_golang_spark.operators import (
    analytics,
    corpus,
    dedup,
    graph,
    joins,
    mixing,
    multimodal,
    pandas_api,
    parity,
    similarity,
    skew,
    text_analysis,
    windows,
    wordcount,
)
from mapreduce_golang_spark.session import ensure_package_shipped
from mapreduce_golang_spark.sources import formats
from mapreduce_golang_spark.sources.tables import load_table
from mapreduce_golang_spark.streaming import (
    events_stream,
    fanout,
    introspection,
    recovery,
    schema_evolution,
)


#: The two session settings every query relies on: the session timezone
#: is UTC (timestamp→string formatting must match the UTC-naive DuckDB
#: oracle regardless of the host JVM timezone), and a TIMESTAMP(NANOS)
#: parquet column reads as int64 nanos, which ``load_table`` and
#: ``read_events_stream`` truncate to micros (Spark's reader refuses the
#: type otherwise).
_SESSION_INVARIANTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _shipped(fn):
    """Per-call session fixup — the grading driver owns the
    SparkSession, so anything it didn't configure must be set lazily:
    ship the package to executors (addPyFile) and pin the two
    ``_SESSION_INVARIANTS``, the UTC session timezone and
    ``nanosAsLong``. Each is written only when it differs, so building a
    query leaves a session that already holds them untouched; no query
    path writes the session conf otherwise."""

    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_package_shipped(spark)
        for key, value in _SESSION_INVARIANTS.items():
            if spark.conf.get(key) != value:
                spark.conf.set(key, value)
        return fn(spark, sf_dir)

    return wrapper


_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: W1 word count over documents.text at sf0.001."""
    return _shipped(_REGISTRY["wc"])(spark, _SMOKE_SF_DIR)


# --------------------------------------------------------------------------
# queries() — one registry row per implemented operator (SURVEY.md §2)
# --------------------------------------------------------------------------

#: Registry-row input that stands for the session.
_SPARK = object()


class _Derived(NamedTuple):
    """Registry-row input that stands for a shared derived table: what
    the module function named ``fn`` returns for the session and data
    directory. The name is looked up in the module globals on each call,
    so rebinding the function reaches every row. A marker is itself a
    ``(spark, sf_dir)`` query function."""

    fn: str

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return globals()[self.fn](spark, sf_dir)


_PAIRS = _Derived("_pair_graph")
_NLL = _Derived("_nll_table")
_OVERLAP = _Derived("_decontam_overlap")
_CENTROIDS = _Derived("_kmeans_cents")
_SIGS = _Derived("_simhash_sigs")


class _Op(NamedTuple):
    """One registry row: ``fn`` called on ``args`` and ``kwargs``.

    A positional string names a fixture table, read with ``load_table``;
    ``_SPARK`` stands for the session and a ``_Derived`` marker for its
    derived table; every other value is passed as it is. ``load_table``
    is looked up in the module globals on each call, as a marker's
    function is, so rebinding either (perfbench's layer hooks rebind
    ``load_table``, ``_pair_graph`` and ``_cached_table``) reaches every
    row."""

    fn: Callable[..., DataFrame]
    args: tuple
    kwargs: dict

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        def resolve(x, positional):
            if x is _SPARK:
                return spark
            if isinstance(x, _Derived):
                return x(spark, sf_dir)
            if positional and isinstance(x, str):
                return load_table(spark, sf_dir, x)
            return x

        args = [resolve(a, True) for a in self.args]
        kwargs = {k: resolve(v, False) for k, v in self.kwargs.items()}
        return self.fn(*args, **kwargs)


def _op(fn: Callable[..., DataFrame], *args, **kwargs) -> _Op:
    return _Op(fn, args, kwargs)


def _snapshot_diff(spark, sf_dir):
    """CDC diff between two deterministic customer snapshots: 'old'
    drops custkeys ≡ 0 (mod 7), 'new' drops ≡ 0 (mod 5) and reprices
    ≡ 0 (mod 3) ×2 (exact binary doubling — see _scd2_dim) — one
    fixture table exercises all three change classes."""
    from mapreduce_golang_spark.operators.merge import snapshot_diff

    customer = load_table(spark, sf_dir, "customer")
    old = customer.where(F_.col("c_custkey") % 7 != 0)
    new = customer.where(F_.col("c_custkey") % 5 != 0).withColumn(
        "c_acctbal",
        F_.when(F_.col("c_custkey") % 3 == 0, F_.col("c_acctbal") * 2).otherwise(
            F_.col("c_acctbal")
        ),
    )
    return snapshot_diff(old, new, "c_custkey", ["c_acctbal"]).select(
        "c_custkey",
        "change",
        F_.round("old_c_acctbal", 2).alias("old_acctbal"),
        F_.round("new_c_acctbal", 2).alias("new_acctbal"),
    )


def _incr_agg(spark, sf_dir):
    """Materialized-view refresh: the stored rollup is everything
    shipped before 1996, the delta batch everything after; the merged
    partial states must equal the direct aggregate over the whole
    table (the oracle computes that direct form — cross-engine AND
    cross-method in one check)."""
    from mapreduce_golang_spark.operators.merge import incremental_agg_refresh

    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F_.lit("1996-01-01").cast("timestamp")
    return incremental_agg_refresh(
        lineitem.where(F_.col("l_shipdate") < cutoff),
        lineitem.where(F_.col("l_shipdate") >= cutoff),
        keys=["l_returnflag", "l_linestatus"],
        measure="l_extendedprice",
        exact_decimal="decimal(18,2)",
    )


#: materialize-once near-dup pair graph, keyed by (Spark application,
#: data directory). Seven registered queries consume the same
#: ngram-Jaccard pair graph (survivors / components / pagerank /
#: triangles / reachability / pipeline / corpus funnel+selection); in a
#: production deployment that graph is a maintained intermediate table
#: (`near_dup_pairs`) written once per corpus snapshot, not re-derived
#: by every reader — re-deriving it per query multiplies the dominant
#: shuffle (shingle explode + posting-list join) by the consumer count.
#: The cache holds the localCheckpoint'ed pairs DataFrame, the
#: in-session analogue of that parquet table (same pattern
#: near_dup_pipeline documents internally; VERDICT r4 plan-audit
#: recommended exactly this pre-materialized path for the wiring).
#: Keyed by applicationId so a new SparkSession never sees a stale
#: checkpoint, and by sf_dir so scales never mix. Each query remains
#: independently correct — the first consumer derives the graph.
_PAIR_GRAPH_CACHE: dict = {}


def _pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.realpath(str(sf_dir)))
    cached = _PAIR_GRAPH_CACHE.get(key)
    if cached is None:
        cached = dedup.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True)
        _PAIR_GRAPH_CACHE[key] = cached
    return cached


#: same materialize-once discipline for the other expensive shared
#: derivations: the trigram-NLL table (char_trigram_logprob leads;
#: ccnet report + policy sample consume), the decontamination overlap
#: (report + corpus-consumption step), the fitted k-means centroids
#: (clusters / silhouette / balanced sample), and the 16-bit simhash
#: signatures (signature query + banded pairs). Keyed like
#: _PAIR_GRAPH_CACHE; every consumer stays independently correct.
_DERIVED_CACHE: dict = {}


def _cached_table(spark, sf_dir: str, what: str, build) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.realpath(str(sf_dir)), what)
    cached = _DERIVED_CACHE.get(key)
    if cached is None:
        cached = build().localCheckpoint(eager=True)
        _DERIVED_CACHE[key] = cached
    return cached


def reset_derived_caches() -> None:
    """Drop every session-lived materialize-once derivation (the pair
    graph + _DERIVED_CACHE tables) so the next consumer re-derives from
    scratch. For BENCHMARK HONESTY only (scripts/scaling_xl_median.py
    at commit 82bf044:
    a min-of-N loop that doesn't clear these reports ~0 s cached minima
    for shared-derivation probes — round-8 advice); never needed for
    correctness, since every consumer is independently correct without
    the cache. The dropped references release their localCheckpoint
    blocks at the caller's next gc.collect() via Spark's
    ContextCleaner."""
    _PAIR_GRAPH_CACHE.clear()
    _DERIVED_CACHE.clear()


def _nll_table(spark, sf_dir):
    return _cached_table(
        spark, sf_dir, "trigram_nll",
        lambda: text_analysis.char_trigram_logprob(load_table(spark, sf_dir, "documents")),
    )


def _decontam_overlap(spark, sf_dir):
    return _cached_table(
        spark, sf_dir, "decontam_overlap",
        lambda: text_analysis.eval_train_overlap(load_table(spark, sf_dir, "documents")),
    )


def _kmeans_cents(spark, sf_dir):
    return _cached_table(
        spark, sf_dir, "kmeans_centroids",
        lambda: similarity.kmeans_fit_centroids(load_table(spark, sf_dir, "embeddings")),
    )


def _simhash_sigs(spark, sf_dir):
    return _cached_table(
        spark, sf_dir, "simhash16_sigs",
        lambda: dedup.simhash(load_table(spark, sf_dir, "documents")),
    )


def _scd2_dim(spark, sf_dir, switch_ts: str) -> DataFrame:
    """The SCD2 customer dim: every BUILDING-segment customer gets a
    re-priced new version at ``switch_ts``; the result is the full
    versioned dim (closed + open rows). Inputs derive deterministically
    from the fixture so the DuckDB oracle can rebuild them."""
    from mapreduce_golang_spark.operators.merge import scd2_apply

    customer = load_table(spark, sf_dir, "customer")
    current = (
        customer.withColumn("valid_from", F_.lit("1995-01-01 00:00:00"))
        .withColumn("valid_to", F_.lit("9999-12-31 00:00:00"))
    )
    updates = (
        customer.where(F_.col("c_mktsegment") == "BUILDING")
        # ×2, not ×1.1: doubling a double is exact binary math, while
        # a 1.1 reprice lands 2-decimal balances on .005 round-ties
        # where Spark and DuckDB break differently
        .withColumn("c_acctbal", F_.col("c_acctbal") * 2)
        .withColumn("_ts", F_.lit(switch_ts).cast("timestamp"))
    )
    return scd2_apply(current, updates, key="c_custkey", ts_col="_ts")


def _scd2_customers(spark, sf_dir):
    """The SCD2 customer dim with its BUILDING reprice in mid-2000."""
    return _scd2_dim(spark, sf_dir, "2000-06-01 00:00:00").select(
        "c_custkey", "c_name", "c_nationkey",
        F_.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment", "valid_from", "valid_to",
    )


def _mr_wc(spark, sf_dir):
    """The generic MapReduce compatibility layer (plans/mapreduce.py)
    run through the correctness gate: wc as raw (mapf, reducef)."""
    from pyspark.sql import functions as F

    from mapreduce_golang_spark.plans import mrapps
    from mapreduce_golang_spark.plans.mapreduce import run_job

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws("/", "source", F.col("doc_id").cast("string")).alias("filename"),
        F.col("text").alias("contents"),
    )
    return run_job(spark, mrapps.wc_map, mrapps.wc_reduce, docs, n_reduce=10)


def _rollup_nation_year(spark, sf_dir):
    """Native ROLLUP grouping sets (nation → nation+year → grand
    total), NULL group cells coalesced for a stable oracle hash."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.year("o_orderdate").cast("long").alias("yr"), "o_totalprice")
    )
    return (
        joined.rollup("n_name", "yr")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            F.coalesce("yr", F.lit(-1)).alias("yr"),
            "n_orders",
            "revenue",
        )
    )


def _array_functions(spark, sf_dir):
    """Explicit array-function coverage over the embedding vectors:
    size/element_at/slice + element-wise aggregates via higher-order
    functions (JVM-side, no UDF)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size(e).cast("long").alias("dim"),
        F.round(F.element_at(e, 1), 6).alias("first_val"),
        F.round(F.array_min(e), 6).alias("min_val"),
        F.round(F.array_max(e), 6).alias("max_val"),
        F.round(F.aggregate(e, F.lit(0.0), lambda a, x: a + x), 6).alias("sum_val"),
        F.round(
            F.sqrt(F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)), 6
        ).alias("l2_norm"),
        F.size(F.filter(e, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(F.aggregate(F.slice(e, 1, 8), F.lit(0.0), lambda a, x: a + x), 6).alias("head8_sum"),
    )


def _string_functions(spark, sf_dir):
    """Explicit string-function coverage (upper/lower/trim/substr/
    replace/lpad/levenshtein/split) — §2.3 'String functions' made
    first-class rather than implicit in other queries."""
    from pyspark.sql import functions as F

    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_nodigits"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.levenshtein(F.lower("c_name"), F.lit("customer")).cast("long").alias("lev_to_customer"),
        F.concat_ws("|", F.split("c_name", "#")).alias("name_rejoined"),
    )


def _math_functions(spark, sf_dir):
    """Explicit math-function coverage over lineitem measures."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.exp("l_discount"), 6).alias("exp_disc"),
        F.abs(F.col("l_quantity") - 25.0).alias("abs_qty_dev"),
        F.ceil("l_tax").cast("long").alias("ceil_tax"),
        F.floor("l_quantity").cast("long").alias("floor_qty"),
        F.round(F.pow("l_discount", F.lit(2.0)), 6).alias("disc_sq"),
        F.pmod(F.col("l_orderkey"), F.lit(97)).cast("long").alias("key_mod"),
    )


def _sql_interface(spark, sf_dir):
    """The SQL API surface: same engine, textual SQL over registered
    views (Catalyst path identical to the DataFrame API)."""
    from mapreduce_golang_spark.sources.tables import register_views

    register_views(spark, sf_dir, names=("orders", "customer", "nation"))
    return spark.sql(
        """
        SELECT n_name,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, year(o_orderdate)
        """
    )


def _date_dimensions(spark, sf_dir):
    """Datetime function breadth: year/quarter/month/day-of-week
    derivations feeding an aggregate."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderkey"),
            F.col("o_totalprice"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
            F.month("o_orderdate").cast("long").alias("mth"),
            F.dayofweek("o_orderdate").cast("long").alias("dow"),
        )
        .groupBy("yr", "qtr")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
            F.countDistinct("mth").alias("n_months"),
            F.countDistinct("dow").alias("n_dows"),
        )
    )


def _media_features(spark, sf_dir):
    return multimodal.media_features(
        multimodal.attach_payload(load_table(spark, sf_dir, "documents"))
    )


#: SCD2 reprice timestamp for the point-in-time demo — INSIDE the
#: events fixture's ts range (Jan 2024) so the PIT join exercises both
#: the closed and the open dim version. Shared with the oracle.
_PIT_SWITCH_TS = "2024-01-15 00:00:00"


def _scd2_pit(spark, sf_dir):
    """Point-in-time feature lookup: events joined to the version of
    the SCD2 customer dim valid AT EACH EVENT'S ts (BUILDING-segment
    customers get a ×2 repriced version mid-January), aggregated per
    (segment, era). Events before the switch see the original balance,
    events after see the doubled one — leakage-free feature joins."""
    from mapreduce_golang_spark.operators.merge import point_in_time_join

    dim = _scd2_dim(spark, sf_dir, _PIT_SWITCH_TS).select(
        "c_custkey", "c_acctbal", "c_mktsegment", "valid_from", "valid_to"
    )
    events = load_table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    return (
        point_in_time_join(events, dim, "c_custkey", "c_custkey", "ts")
        .groupBy(
            "c_mktsegment",
            (F_.col("ts") < F_.lit(_PIT_SWITCH_TS).cast("timestamp"))
            .cast("long")
            .alias("era_pre"),
        )
        .agg(
            F_.count("*").cast("long").alias("n_events"),
            F_.round(F_.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def _try_functions(spark, sf_dir):
    """Error-safe arithmetic surface (try_divide/try_add/try_multiply):
    ANSI mode raises on 0-division and overflow; the try_* family
    returns NULL instead — the form a pipeline uses when dirty rows
    must degrade, not abort. All outputs cast double so NULLs render
    identically (NaN) in both engines' pandas bridges.

    Scale note: Spark's try_* are a JVM try/catch around the ANSI op,
    so each overflowing row pays an exception throw (~45 µs). try_* is
    built for RARE dirty rows; an every-row-overflows demo is a scale
    killer (24 s at sf0.1, round-6 verdict). The overflow arm therefore
    fires only on the ~0.1% ``l_orderkey % 997 == 0`` slice — clean
    rows take the exception-free fast path — while try_divide (null
    check, no throw) stays on the full table."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    big = F.lit(9223372036854775807).cast("long")
    dirty = F.col("l_orderkey") % 997 == 0
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 6).alias(
            "price_per_disc"
        ),
        F.try_add(F.when(dirty, big).otherwise(F.lit(0).cast("long")), F.col("l_orderkey"))
        .cast("double")
        .alias("add_overflow"),
        F.try_multiply(F.col("l_orderkey"), F.when(dirty, big).otherwise(F.lit(1).cast("long")))
        .cast("double")
        .alias("mul_overflow"),
    )


def _posexplode_tokens(spark, sf_dir):
    """Generator-function surface: posexplode (explode WITH ORDINALITY)
    over the token array of the first docs — position-aware flattening,
    the API a token-offset consumer needs."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.array_remove(F.split(F.lower(F.col("text")), r"[^\p{L}]+"), "")
    return docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


def _map_functions(spark, sf_dir):
    """MapType surface: per-user map of event_type → count built with
    map_from_entries, then interrogated with size/map_filter/
    element_at — the collection algebra the reference's KV model lacks
    entirely. Map semantics are order-insensitive, so the
    collect_list ordering never leaks into the output."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").cast("long").alias("n"))
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    return maps.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.size(F.map_filter("m", lambda k, v: v >= 3)).cast("long").alias("n_heavy_types"),
        F.element_at("m", "click").cast("double").alias("n_clicks"),
    )


def _metric_transpose(spark, sf_dir):
    """DataFrame.transpose (Spark 4): the per-type metric table flipped
    to one row per metric with event types as columns — the
    presentation pivot `transpose` ships natively; metrics are cast to
    one common double type as the API requires."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2).alias(
            "total_value"
        ),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_value"),
    )
    return wide.transpose()


def _polymorphic_trigrams(spark, sf_dir):
    """Top trigrams via the DYNAMIC-SCHEMA UDTF (NgramExplode.analyze
    resolves (tok_1..tok_3) from the literal 3 at plan time) — the
    engine-feature demo; the hot-path trigram queries use pure array
    expressions (text_analysis.py)."""
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    return spark.sql(
        """
        SELECT tok_1, tok_2, tok_3, count(*) AS cnt
        FROM {docs}, LATERAL ngram_explode(text, 3)
        GROUP BY tok_1, tok_2, tok_3
        ORDER BY cnt DESC, tok_1, tok_2, tok_3
        LIMIT 25
        """,
        docs=load_table(spark, sf_dir, "documents"),
    )


def _orders_change_log(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """The orders MERGE target and its CDC change log, derived
    deterministically from orders: target = keys not divisible by 4;
    changes = U (÷3, +5 % reprice), D (÷7, higher seq — delete wins over
    the reprice), I (÷4, the keys absent from the target). Out-of-order
    seqs and a same-seq I/U tie (keys ÷60) are both exercised."""
    orders = load_table(spark, sf_dir, "orders")
    # prices are 2-decimal values stored as double; the ×1.05 reprice is
    # done in DECIMAL so the .xx5 midpoints round identically in every
    # engine (double round diverges on shortest-repr vs binary-value)
    price = F_.col("o_totalprice").cast("double")
    price_dec = F_.col("o_totalprice").cast("decimal(18,2)")
    target = orders.where(F_.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_orderstatus", F_.round(price, 2).alias("price")
    )
    upd = orders.where(F_.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F_.round(price_dec * F_.lit("1.05").cast("decimal(3,2)"), 2)
        .cast("double")
        .alias("price"),
        (F_.col("o_orderkey") % 5 + 1).alias("seq"),
        F_.lit("U").alias("op"),
    )
    dels = orders.where(F_.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F_.lit(None).cast("double").alias("price"),
        (F_.col("o_orderkey") % 5 + 2).alias("seq"),
        F_.lit("D").alias("op"),
    )
    ins = orders.where(F_.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F_.round(price, 2).alias("price"),
        F_.lit(1).cast("long").alias("seq"),
        F_.lit("I").alias("op"),
    )
    changes = upd.unionByName(dels).unionByName(ins)
    return target, changes


def _cdc_state(spark, sf_dir):
    """Full MERGE of the orders change log (``_orders_change_log``) into
    its target; returns the post-merge snapshot."""
    from mapreduce_golang_spark.operators.merge import cdc_apply_changes

    target, changes = _orders_change_log(spark, sf_dir)
    return cdc_apply_changes(target, changes, "o_orderkey", "seq")


def _salted_segment_value(spark, sf_dir):
    """operators/skew.py::salted_join applied to the events→customer
    enrichment: the fact's user_id is the prospective hot key
    (join_key_skew_advisory's salt_factor is the planning input), the
    customer dim is replicated across 8 salts, and the join runs on
    (user_id, salt). Row-identical to the plain join for any salt
    assignment — the oracle is the plain SQL join."""
    from mapreduce_golang_spark.operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F_.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(events, cust, "user_id", n_salts=8, salt_from="event_id")
    return joined.groupBy("c_mktsegment").agg(
        F_.count("*").cast("long").alias("n_events"),
        F_.round(
            F_.sum(F_.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total_value"),
    )


def _sessionize_table_udtf(spark, sf_dir):
    """functions/udtf.py::SessionizeEvents — the TABLE-argument UDTF
    capability class: the engine partitions events BY user_id, orders
    each group by (us, event_id), and streams the group through one
    stateful Python instance (terminate() closes the last session).
    Output is post-processed to the exact sessionize schema, so the
    query shares sessionize's DuckDB oracle verbatim. Engine-feature
    demo — the hot path remains the lag+cumsum window sessionize."""
    from mapreduce_golang_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    out = spark.sql(
        "SELECT * FROM sessionize_tf(TABLE({t}) PARTITION BY user_id ORDER BY (us, event_id))",
        t=load_table(spark, sf_dir, "events").select(
            "user_id", F_.unix_micros("ts").alias("us"), "event_id"
        ),
    )
    return out.select(
        "user_id",
        "session_seq",
        F_.date_format(
            F_.timestamp_micros(F_.col("start_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("session_start"),
        "n_events",
        F_.round(F_.col("dur_us") / F_.lit(1_000_000.0), 6).alias("duration_secs"),
    )


def _streaming_cdc_state(spark, sf_dir):
    """streaming/cdc_stream.py::streaming_cdc_apply over the SAME
    deterministic orders change log as cdc_orders_state, but delivered
    as seq-DESCENDING micro-batches (every later batch is out-of-order
    history) and applied incrementally with carried (seq, op) state +
    delete tombstones. Shares cdc_orders_state's oracle verbatim: the
    piecewise streaming apply must equal the one-shot batch MERGE."""
    from mapreduce_golang_spark.streaming.cdc_stream import streaming_cdc_apply
    from mapreduce_golang_spark.tempdirs import scratch_dir

    target, changes = _orders_change_log(spark, sf_dir)
    work_dir = scratch_dir("mr_spark_cdc_stream_")
    return streaming_cdc_apply(spark, target, changes, "o_orderkey", work_dir)


# The driver grades the FIRST 50 queries() entries only, so only
# oracle-checkable queries sit in slots 1–50; every other query is
# covered by the full gate (scripts/correctness_gate.py). How the window
# rotated from round to round is in git history.
_DRIVER_WINDOW: list[str] = [
    "state_schema_evolution_counts", "foreach_batch_fanout",
    "ps_orders_status_profile", "sql_scripting_coverage_threshold",
    "sql_udf_price_bands", "collated_type_counts", "state_store_audit",
    "deterministic_doc_sample", "posexplode_tokens", "kwic_snippets",
    "stratified_sample", "file_counts", "string_functions",
    "near_dup_survivors", "weighted_doc_sample", "q6_forecast_revenue",
    "redact_numbers", "array_functions", "event_value_histogram",
    "crash_data", "near_dup_triangles", "k_anonymity_audit",
    "sentence_stats", "source_doc_stats", "salted_event_counts",
    "value_moment_stats", "doc_length_gini", "exact_dedup",
    "pack_sequences", "decontaminated_corpus", "wc",
    "join_key_skew_report", "hourly_event_counts",
    "users_signup_and_purchase", "part_price_size_skyline",
    "top_k_words", "part_brand_hhi", "cumulative_active_users",
    "doc_length_cume_dist", "pii_scan", "customer_snapshot_diff",
    "near_dup_degree_hist", "part_name_near_matches", "media_features",
    "benford_price_audit", "event_type_user_stats",
    "lineitem_price_stats", "orders_above_customer_avg",
    "trailing_hour_value", "scd2_customers",
]


#: The query registry, in registration order, and the one place an
#: operator is wired. A row is one of:
#: - an ``_op`` row, for a query that is one operator call on fixture
#:   tables, the session and shared derived tables (``_Derived``);
#: - an operator that takes ``(spark, sf_dir)`` itself, or a
#:   ``_Derived`` marker, whose table is the query's result;
#: - a bespoke ``(spark, sf_dir)`` function, for a query that shapes its
#:   inputs or its output around the operator call.
#: ``queries()`` puts ``_DRIVER_WINDOW`` first.
_REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ngram_jaccard_pairs": _PAIRS,
    "rfm_user_segments": _op(analytics.rfm_user_segments, "events"),
    "scd2_point_in_time": _scd2_pit,
    "centroid_outliers": _op(similarity.centroid_outliers, "embeddings"),
    "ann_recall_report": _op(similarity.ann_recall_report, "embeddings"),
    "minhash_estimate_error": _op(dedup.minhash_estimate_error, "documents"),
    "user_path_trigrams": _op(windows.user_path_trigrams, "events"),
    "label_znorm_check": _op(similarity.label_znorm_check, "embeddings"),
    "char_trigram_logprob": _nll_table,
    "source_lang_entropy": _op(text_analysis.source_lang_entropy, "documents"),
    "multi_granularity_rollup": _op(windows.multi_granularity_rollup, "events"),
    "sql_revenue_by_nation_year": _sql_interface,
    "dsir_importance_weights": _op(mixing.dsir_importance_weights, "documents"),
    "quality_classifier_scores": _op(mixing.quality_classifier_scores, "documents"),
    "source_mixing_weights": _op(mixing.source_mixing_weights, "documents"),
    "ccnet_perplexity_buckets": _op(mixing.ccnet_perplexity_buckets, "documents", nll=_NLL),
    "eval_decontamination": _op(
        text_analysis.eval_decontamination, "documents", overlap=_OVERLAP,
    ),
    "minhash_ml_crosscheck": _op(dedup.minhash_ml_crosscheck, "documents"),
    "embedding_pca_topvar": _op(similarity.embedding_pca_topvar, "embeddings"),
    "quality_weighted_sample": _op(mixing.quality_weighted_sample, "documents"),
    "packing_efficiency_report": _op(corpus.packing_efficiency_report, "documents"),
    "common_sentence_filter": _op(text_analysis.common_sentence_filter, "documents"),
    "streaming_word_counts": events_stream.streaming_word_counts,
    "bpe_merge_candidates": _op(text_analysis.bpe_merge_candidates, "documents"),
    "corpus_top_p_selection": _op(mixing.corpus_top_p_selection, "documents"),
    "embedding_quantization_report": _op(similarity.embedding_quantization_report, "embeddings"),
    "leakage_safe_splits": _op(mixing.leakage_safe_splits, "documents", pairs=_PAIRS),
    "split_leakage_audit": _op(mixing.split_leakage_audit, "documents", pairs=_PAIRS),
    "token_budget_allocation": _op(mixing.token_budget_allocation, "documents"),
    "ccnet_bucket_sample": _op(mixing.ccnet_bucket_sample, "documents", nll=_NLL),
    "event_type_cooccurrence": _op(analytics.event_type_cooccurrence, "events"),
    "join_key_skew_report": _op(skew.join_key_skew_report, "events"),
    "kmeans_silhouette": _op(similarity.kmeans_silhouette, "embeddings", centroids=_CENTROIDS),
    "conversion_latency_stats": _op(analytics.conversion_latency_stats, "events"),
    "decontaminated_corpus": _op(
        text_analysis.decontaminated_corpus, "documents", overlap=_OVERLAP,
    ),
    "doc_length_cume_dist": _op(text_analysis.doc_length_cume_dist, "documents"),
    "user_first_last_events": _op(windows.user_first_last_events, "events"),
    "component_best_representative": _op(
        dedup.component_best_representative, "documents", pairs=_PAIRS,
    ),
    "source_token_js_divergence": _op(mixing.source_token_js_divergence, "documents"),
    "cluster_balanced_sample": _op(
        similarity.cluster_balanced_sample, "embeddings", centroids=_CENTROIDS,
    ),
    "streaming_distinct_users": events_stream.streaming_distinct_users,
    "hot_shingles_report": _op(dedup.hot_shingles_report, "documents"),
    "value_equidepth_bins": _op(analytics.value_equidepth_bins, "events"),
    "mmr_diverse_topk": _op(similarity.mmr_diverse_topk, "embeddings"),
    "rake_keywords": _op(text_analysis.rake_keywords, "documents"),
    "char_script_profile": _op(text_analysis.char_script_profile, "documents"),
    "markov_prediction_accuracy": _op(windows.markov_prediction_accuracy, "events"),
    "kcore_docs": _op(graph.kcore_docs, "documents", pairs=_PAIRS),
    "time_weighted_user_value": _op(windows.time_weighted_user_value, "events"),
    "value_mad_anomalies": _op(windows.value_mad_anomalies, "events"),
    "session_incident_overlap": _op(windows.session_incident_overlap, "events"),
    "customer_snapshot_diff": _snapshot_diff,
    "incremental_agg_refresh": _incr_agg,
    "streaming_incident_hours": events_stream.streaming_incident_hours,
    "winsorized_value_stats": _op(analytics.winsorized_value_stats, "events"),
    "event_weekday_chi2": _op(analytics.event_weekday_chi2, "events"),
    "near_dup_weighted_pagerank": _op(graph.near_dup_weighted_pagerank, "documents", pairs=_PAIRS),
    "source_quality_drift": _op(text_analysis.source_quality_drift, "documents"),
    "source_doc_stats": _op(text_analysis.source_doc_stats, "documents"),
    "near_dup_triangles": _op(graph.near_dup_triangles, "documents", pairs=_PAIRS),
    "trailing_hour_value": _op(windows.trailing_hour_value, "events"),
    "event_value_hmean": _op(analytics.event_value_hmean, "events"),
    "near_dup_reachability": _op(graph.near_dup_reachability, _SPARK, "documents", pairs=_PAIRS),
    "bigram_counts": _op(text_analysis.bigram_counts, "documents"),
    "deterministic_doc_sample": _op(corpus.deterministic_doc_sample, "documents"),
    "cumulative_active_users": _op(analytics.cumulative_active_users, "events"),
    "event_gap_stats": _op(windows.event_gap_stats, "events"),
    "streaming_segment_counts": events_stream.streaming_segment_counts,
    "props_variant_stats": _op(windows.props_variant_stats, "events"),
    "hopping_window_counts": _op(windows.hopping_window_counts, "events"),
    "gap_fill_locf": _op(windows.gap_fill_locf, "events"),
    "value_moment_stats": _op(analytics.value_moment_stats, "events"),
    "user_retention_cohorts": _op(analytics.user_retention_cohorts, "events"),
    "sentence_stats": _op(text_analysis.sentence_stats, "documents"),
    "streaming_hopping_counts": events_stream.streaming_hopping_counts,
    "value_ntile_deciles": _op(analytics.value_ntile_deciles, "events"),
    "orphan_events": _op(analytics.orphan_events, "events", "customer"),
    "lang_confusion_matrix": _op(text_analysis.lang_confusion_matrix, "documents"),
    "zipf_slope": _op(text_analysis.zipf_slope, "documents"),
    "pii_scan": _op(text_analysis.pii_scan, "documents"),
    "user_conversion_funnel": _op(analytics.user_conversion_funnel, "events"),
    "doc_length_gini": _op(text_analysis.doc_length_gini, "documents"),
    "weighted_doc_sample": _op(corpus.weighted_doc_sample, "documents"),
    "edit_distance_pairs": _op(dedup.edit_distance_pairs, "documents"),
    "near_dup_clustering_coeff": _op(graph.near_dup_clustering_coeff, "documents", pairs=_PAIRS),
    "kmeans_clusters": _op(similarity.kmeans_assign, "embeddings", centroids=_CENTROIDS),
    "block_dedup_fraction": _op(text_analysis.duplicate_block_fraction, "documents"),
    "gopher_quality_flags": _op(text_analysis.gopher_quality_flags, "documents"),
    "token_pmi_pairs": _op(text_analysis.token_pmi_pairs, "documents"),
    "bm25_top_docs": _op(text_analysis.bm25_top_docs, "documents"),
    "containment_pairs": _op(dedup.overlap_containment_pairs, "documents"),
    "near_dup_degree_hist": _op(graph.near_dup_degree_hist, "documents", pairs=_PAIRS),
    "dup_cluster_size_hist": _op(graph.dup_cluster_size_hist, "documents", pairs=_PAIRS),
    "markov_transitions": _op(windows.markov_transitions, "events"),
    "ewma_user_value": _op(windows.ewma_user_value, "events"),
    "value_zscore_anomalies": _op(windows.value_zscore_anomalies, "events"),
    # streaming_user_stats_tws (transformWithStateInPandas) exists in
    # streaming/events_stream.py but is NOT registered: the API's
    # JVM↔Python state protocol needs protobuf, absent from this
    # container (documented environment seam, like multimodal decode).
    "date_dimensions": _date_dimensions,
    "rollup_nation_year": _rollup_nation_year,
    "string_functions": _string_functions,
    "math_functions": _math_functions,
    "array_functions": _array_functions,
    "q6_forecast_revenue": _op(joins.q6_forecast_revenue, "lineitem"),
    "q10_returned_items": _op(joins.q10_returned_items, "customer", "orders", "lineitem"),
    "q12_late_shipments": _op(joins.q12_late_shipments, "orders", "lineitem"),
    "q14_promo_revenue_share": _op(joins.q14_promo_revenue_share, "part", "lineitem"),
    "q18_large_orders": _op(joins.q18_large_orders, "customer", "orders", "lineitem"),
    "orders_above_customer_avg": _op(joins.orders_above_customer_avg, "orders"),
    "near_dup_survivors": _op(dedup.near_dup_survivors, "documents", pairs=_PAIRS),
    "near_dup_components": _op(dedup.near_dup_components, "documents", pairs=_PAIRS),
    "near_dup_pagerank": _op(graph.near_dup_pagerank, "documents", pairs=_PAIRS),
    "chunk_documents": _op(corpus.chunk_documents, "documents"),
    "pack_sequences": _op(corpus.pack_sequences, "documents"),
    "redact_numbers": _op(corpus.redact_numbers, "events"),
    "corpus_final_selection": _op(corpus.corpus_final_selection, "documents", pairs=_PAIRS),
    "indexer_packed": _op(parity.inverted_index, "documents", packed=True),
    "near_dup_pipeline": _op(dedup.near_dup_pipeline, "documents", pairs=_PAIRS),
    "q4_order_priority": _op(joins.q4_order_priority, "orders", "lineitem"),
    "q7_volume_shipping": _op(
        joins.q7_volume_shipping, "supplier", "lineitem", "orders", "customer", "nation",
    ),
    "q8_market_share": _op(
        joins.q8_market_share, "region", "nation", "customer", "supplier", "orders", "lineitem",
    ),
    "q13_customer_distribution": _op(joins.q13_customer_distribution, "customer", "orders"),
    "q17_small_quantity_revenue": _op(joins.q17_small_quantity_revenue, "part", "lineitem"),
    "q19_discounted_revenue": _op(joins.q19_discounted_revenue, "part", "lineitem"),
    "q22_sales_opportunity": _op(joins.q22_sales_opportunity, "customer", "orders"),
    "bucketed_join_revenue": formats.bucketed_join_revenue,
    "q2_min_cost_supplier": _op(
        joins.q2_min_cost_supplier, "region", "nation", "supplier", "part", "lineitem",
    ),
    "q9_product_type_profit": _op(
        joins.q9_product_type_profit, "part", "supplier", "nation", "orders", "lineitem",
    ),
    "q11_important_stock": _op(joins.q11_important_stock, "supplier", "nation", "lineitem"),
    "q15_top_supplier": _op(joins.q15_top_supplier, "supplier", "lineitem"),
    "q16_supplier_part_counts": _op(
        joins.q16_supplier_part_counts, "part", "supplier", "lineitem",
    ),
    "q20_dominant_suppliers": _op(
        joins.q20_dominant_suppliers, "supplier", "nation", "part", "lineitem",
    ),
    "q21_suppliers_kept_waiting": _op(
        joins.q21_suppliers_kept_waiting, "supplier", "nation", "orders", "lineitem",
    ),
    "streaming_dedup_events": events_stream.streaming_dedup_events,
    "scd2_customers": _scd2_customers,
    # salted two-phase aggregation; the oracle is the plain GROUP BY, so
    # the hot-key mitigation is shown to change only the exchange layout
    "salted_event_counts": _op(skew.salted_count, "events", ["event_type"], out="n_events"),
    "tfidf_top_terms": _op(text_analysis.tfidf_top_terms, "documents"),
    "contamination_check": _op(text_analysis.contamination_check, "documents"),
    "stratified_sample": _op(corpus.stratified_sample, "documents"),
    "semantic_dedup_survivors": _op(similarity.semantic_dedup_survivors, "embeddings"),
    "incremental_dedup": _op(dedup.incremental_dedup, "documents"),
    "corpus_funnel_report": _op(corpus.corpus_funnel_report, "documents", pairs=_PAIRS),
    "repetition_ratio": _op(text_analysis.repetition_ratio, "documents"),
    "cross_source_overlap": _op(text_analysis.cross_source_overlap, "documents"),
    "balanced_mixing_sample": _op(corpus.balanced_mixing_sample, "documents"),
    "vocab_growth": _op(text_analysis.vocab_growth, "documents"),
    "wc": _op(wordcount.word_count, "documents", text_col="text"),
    "q1_pricing_summary": _op(joins.q1_pricing_summary, "lineitem"),
    "mr_wc": _mr_wc,
    "minhash_lsh_pairs": _op(dedup.minhash_lsh_pairs, "documents"),
    "top_k_words": _op(wordcount.top_k_words, "documents", k=20, text_col="text"),
    "indexer": _op(parity.inverted_index, "documents"),
    "file_counts": _op(parity.file_counts, "documents", file_col="source"),
    "crash_data": _op(parity.crash_data, "documents"),
    "q3_shipping_priority": _op(joins.q3_shipping_priority, "customer", "orders", "lineitem"),
    "q5_local_supplier_volume": _op(
        joins.q5_local_supplier_volume,
        "region", "nation", "customer", "supplier", "orders", "lineitem",
    ),
    "top_customers": _op(joins.top_customers_by_revenue, "customer", "orders"),
    "orders_semi_join": _op(joins.orders_with_lineitems_semi, "orders", "lineitem"),
    "customers_anti_join": _op(joins.customers_without_orders_anti, "customer", "orders"),
    "revenue_rank_in_nation": _op(joins.revenue_rank_in_nation, "customer", "orders", "nation"),
    "hourly_event_counts": _op(windows.hourly_event_counts, "events"),
    "sessionize": _op(windows.sessionize, "events"),
    "top_users_per_event_type": _op(windows.top_users_per_event_type, "events"),
    "rolling_user_value": _op(windows.rolling_user_value, "events"),
    "props_key_stats": _op(windows.props_key_stats, "events"),
    "event_type_cube": _op(windows.event_type_share_cube, "events"),
    "lang_id": _op(text_analysis.lang_id, _SPARK, "documents"),
    "text_quality": _op(text_analysis.text_quality, "documents"),
    "token_stats": _op(text_analysis.token_stats, "documents"),
    "doc_fingerprints": _op(text_analysis.doc_fingerprints, "documents"),
    "exact_dedup": _op(dedup.exact_dedup, "documents"),
    "simhash": _simhash_sigs,
    "simhash64": _op(dedup.simhash64, "documents"),
    "simhash_pairs": _op(dedup.simhash_pairs, "documents", sigs=_SIGS),
    "embedding_cosine_pairs": _op(dedup.embedding_cosine_pairs, "embeddings"),
    "ann_topk_bruteforce": _op(similarity.cosine_topk_bruteforce, "embeddings"),
    "ann_ivf_topk": _op(similarity.ann_ivf_topk, "embeddings"),
    "ann_lsh_topk": _op(similarity.ann_lsh_topk, "embeddings"),
    "streaming_hourly_counts": events_stream.streaming_hourly_counts,
    "streaming_sessionize": events_stream.streaming_sessionize,
    "streaming_stream_join": events_stream.streaming_purchase_click_join,
    "streaming_user_counts": events_stream.streaming_user_counts_stateful,
    "media_features": _media_features,
    "value_percentiles": _op(analytics.value_percentiles, "events"),
    "event_type_user_stats": _op(analytics.event_type_user_stats, "events"),
    "approx_distinct_users": _op(analytics.approx_distinct_users, "events"),
    "users_purchase_not_error": _op(analytics.users_purchase_not_error, "events"),
    "users_signup_and_purchase": _op(analytics.users_signup_and_purchase, "events"),
    "event_counts_pivot": _op(analytics.event_counts_pivot, "events"),
    "last_click_before_purchase": _op(analytics.last_click_before_purchase, "events"),
    "weighted_median_value": _op(analytics.weighted_median_value, "events"),
    "event_value_histogram": _op(analytics.event_value_histogram, "events"),
    "lineitem_price_stats": _op(analytics.lineitem_price_stats, "lineitem"),
    "data_quality_report": _op(analytics.data_quality_report, "lineitem"),
    "events_range_join": _op(windows.events_near_errors_range_join, "events"),
    "orders_monthly_growth": _op(analytics.orders_monthly_growth, "orders"),
    "user_value_pareto": _op(analytics.user_value_pareto, "events"),
    "part_brand_hhi": _op(analytics.part_brand_hhi, "part"),
    "session_duration_histogram": _op(windows.session_duration_histogram, "events"),
    "bpe_learn_merges": _op(text_analysis.bpe_learn_merges, "documents"),
    "semdedup_survivors": _op(similarity.semdedup_survivors, "embeddings", centroids=_CENTROIDS),
    "dataset_card_report": _op(corpus.dataset_card_report, "documents"),
    "hourly_value_ohlc": _op(windows.hourly_value_ohlc, "events"),
    "monthly_metric_unpivot": _op(analytics.monthly_metric_unpivot, "orders"),
    "part_name_near_matches": _op(dedup.part_name_near_matches, "part"),
    "ngram_diversity_by_source": _op(text_analysis.ngram_diversity_by_source, "documents"),
    "bpe_encode_stats": _op(text_analysis.bpe_encode_stats, "documents"),
    "quality_dup_calibration": _op(text_analysis.quality_dup_calibration, "documents"),
    "normalized_dedup_gain": _op(dedup.normalized_dedup_gain, "documents"),
    "jl_projection_qa": _op(similarity.jl_projection_qa, "embeddings"),
    "multi_touch_attribution": _op(analytics.multi_touch_attribution, "events"),
    "rolling_median_value": _op(windows.rolling_median_value, "events"),
    "order_basket_rules": _op(analytics.order_basket_rules, "lineitem"),
    "k_anonymity_audit": _op(analytics.k_anonymity_audit, "customer"),
    "benford_price_audit": _op(analytics.benford_price_audit, "orders"),
    "streaming_hourly_ohlc": events_stream.streaming_hourly_ohlc,
    "rrf_hybrid_ranking": _op(text_analysis.rrf_hybrid_ranking, "documents"),
    "value_psi_drift": _op(analytics.value_psi_drift, "events"),
    "debounced_event_stats": _op(windows.debounced_event_stats, "events"),
    "event_rate_spikes": _op(windows.event_rate_spikes, "events"),
    "nation_share_shift": _op(joins.nation_share_shift, "orders", "customer", "nation"),
    "order_ship_latency": _op(joins.order_ship_latency, "orders", "lineitem"),
    "bootstrap_mean_ci": _op(analytics.bootstrap_mean_ci, "events"),
    "part_price_size_skyline": _op(analytics.part_price_size_skyline, "part"),
    "curriculum_phases": _op(corpus.curriculum_phases, "documents"),
    "source_stopword_similarity": _op(text_analysis.source_stopword_similarity, "documents"),
    "km_gap_survival": _op(windows.km_gap_survival, "events"),
    "ab_conversion_ztest": _op(analytics.ab_conversion_ztest, "events", "customer"),
    "bpe_roundtrip_audit": _op(text_analysis.bpe_roundtrip_audit, "documents"),
    "value_hour_regression": _op(analytics.value_hour_regression, "events"),
    "value_qq_drift": _op(analytics.value_qq_drift, "events"),
    "kwic_snippets": _op(text_analysis.kwic_snippets, "documents"),
    "template_opening_report": _op(text_analysis.template_opening_report, "documents"),
    "part_abc_classification": _op(analytics.part_abc_classification, "lineitem"),
    "type_hourly_correlation": _op(analytics.type_hourly_correlation, "events"),
    "try_arithmetic_functions": _try_functions,
    "posexplode_tokens": _posexplode_tokens,
    "map_functions_pack": _map_functions,
    "event_metric_transpose": _metric_transpose,
    "hourly_acf": _op(windows.hourly_acf, "events"),
    "type_crosscorr_leadlag": _op(windows.type_crosscorr_leadlag, "events"),
    "user_active_day_streaks": _op(windows.user_active_day_streaks, "events"),
    "max_concurrent_sessions": _op(windows.max_concurrent_sessions, "events"),
    "source_bigram_cross_entropy": _op(text_analysis.source_bigram_cross_entropy, "documents"),
    "l_diversity_audit": _op(analytics.l_diversity_audit, "customer", "orders"),
    "mann_whitney_u": _op(analytics.mann_whitney_u, "events"),
    "user_journey_signatures": _op(windows.user_journey_signatures, "events"),
    "embedding_stats_arrow": _op(similarity.embedding_stats_arrow, "embeddings"),
    "label_centroids_arrow": _op(similarity.label_centroids_arrow, "embeddings"),
    "source_shingle_overlap": _op(dedup.source_shingle_overlap, "documents"),
    "trigram_novelty_curve": _op(text_analysis.trigram_novelty_curve, "documents"),
    "spearman_time_value": _op(analytics.spearman_time_value, "events"),
    "kendall_tau_daily": _op(analytics.kendall_tau_daily, "events"),
    "theil_sen_daily_trend": _op(analytics.theil_sen_daily_trend, "events"),
    "kruskal_wallis_value": _op(analytics.kruskal_wallis_value, "events"),
    "cusum_hourly_changepoint": _op(windows.cusum_hourly_changepoint, "events"),
    "hourly_seasonality_profile": _op(windows.hourly_seasonality_profile, "events"),
    "seasonal_adjusted_anomalies": _op(windows.seasonal_adjusted_anomalies, "events"),
    "seasonal_naive_backtest": _op(windows.seasonal_naive_backtest, "events"),
    "duplicate_shingle_fraction": _op(text_analysis.duplicate_shingle_fraction, "documents"),
    "truncation_loss_report": _op(text_analysis.truncation_loss_report, "documents"),
    "token_fertility_by_source": _op(text_analysis.token_fertility_by_source, "documents"),
    "lineitem_column_profile": _op(analytics.lineitem_column_profile, "lineitem"),
    "orders_constraint_audit": _op(analytics.orders_constraint_audit, "orders", "customer"),
    "embedding_isotropy_report": _op(similarity.embedding_isotropy_report, "embeddings"),
    "embedding_norm_deciles": _op(similarity.embedding_norm_deciles, "embeddings"),
    "heaps_law_fit": _op(text_analysis.heaps_law_fit, "documents"),
    "prefix_filter_jaccard_pairs": _op(dedup.prefix_filter_jaccard_pairs, "documents"),
    "interarrival_stats": _op(windows.interarrival_stats, "events"),
    "hourly_fano_burstiness": _op(windows.hourly_fano_burstiness, "events"),
    "decile_shingle_drift": _op(text_analysis.decile_shingle_drift, "documents"),
    "cramers_v_order_attrs": _op(analytics.cramers_v_order_attrs, "orders"),
    "mutual_information_source_lang": _op(
        text_analysis.mutual_information_source_lang, "documents",
    ),
    "cohens_kappa_langid": _op(text_analysis.cohens_kappa_langid, "documents"),
    "theil_u_event_transitions": _op(windows.theil_u_event_transitions, "events"),
    "embedding_sign_bucket_purity": _op(similarity.embedding_sign_bucket_purity, "embeddings"),
    "value_distribution_distances": _op(analytics.value_distribution_distances, "events"),
    "join_key_skew_advisory": _op(analytics.join_key_skew_advisory, "lineitem"),
    "shuffle_partition_balance": _op(analytics.shuffle_partition_balance, "lineitem"),
    "broadcast_planning_report": _op(
        analytics.broadcast_planning_report, "region", "nation", "supplier", "customer",
    ),
    "flesch_reading_ease_by_source": _op(text_analysis.flesch_reading_ease_by_source, "documents"),
    "brand_price_elasticity": _op(analytics.brand_price_elasticity, "lineitem", "part"),
    "discount_quantity_response": _op(analytics.discount_quantity_response, "lineitem"),
    "nation_revenue_inequality": _op(
        analytics.nation_revenue_inequality, "orders", "customer", "nation",
    ),
    "nelson_aalen_hazard": _op(windows.nelson_aalen_hazard, "events"),
    "tfidf_cosine_pairs": _op(text_analysis.tfidf_cosine_pairs, "documents"),
    "median_order_stat_ci": _op(analytics.median_order_stat_ci, "events"),
    "partition_layout_advisory": _op(analytics.partition_layout_advisory, "events"),
    "changepoint_segmented_trend": _op(windows.changepoint_segmented_trend, "events"),
    "basket_triple_itemsets": _op(analytics.basket_triple_itemsets, "lineitem"),
    "weekly_psi_series": _op(analytics.weekly_psi_series, "events"),
    "neyman_allocation": _op(analytics.neyman_allocation, "events"),
    "order_reconciliation_audit": _op(analytics.order_reconciliation_audit, "orders", "lineitem"),
    "cdc_orders_state": _cdc_state,
    "streaming_near_dup_docs": events_stream.streaming_near_dup_docs,
    "polymorphic_trigram_topk": _polymorphic_trigrams,
    "semdedup_hier_survivors": _op(similarity.semdedup_hier_survivors, "embeddings"),
    "salted_segment_value": _salted_segment_value,
    "sessionize_table_udtf": _sessionize_table_udtf,
    "asof_cogrouped_clicks": _op(analytics.last_click_before_purchase_cogrouped, "events"),
    "observed_ingest_metrics": _op(corpus.observed_ingest_metrics, "documents"),
    "streaming_kill_recover_dedup": recovery.streaming_dedup_kill_recover,
    "streaming_cdc_apply_changes": _streaming_cdc_state,
    "state_store_audit": introspection.state_store_audit,
    "ps_orders_status_profile": pandas_api.ps_orders_status_profile,
    "sql_scripting_coverage_threshold": sql_surface.sql_scripting_coverage_threshold,
    "sql_udf_price_bands": sql_surface.sql_udf_price_bands,
    "collated_type_counts": sql_surface.collated_type_counts,
    "state_schema_evolution_counts": schema_evolution.state_schema_evolution_counts,
    "foreach_batch_fanout": fanout.foreach_batch_fanout,
    # num_features=None: corpus-scaled HashingTF sizing (next pow2 ≥ 4×
    # approx distinct shingles), measured on the same ladder as the
    # pinned crosscheck (PERF.md)
    "minhash_ml_crosscheck_scaled": _op(
        dedup.minhash_ml_crosscheck, "documents", num_features=None,
    ),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _DRIVER_WINDOW:
        ordered[name] = _shipped(_REGISTRY[name])
    for name, fn in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = _shipped(fn)
    return ordered


# --------------------------------------------------------------------------
# oracle_sql() — DuckDB twins (ANSI-ish SQL over the same parquet views)
# --------------------------------------------------------------------------

_WC_TOKENS = r"""
    SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
    FROM documents
"""

_ORACLES: dict[str, str] = {
    "wc": f"""
        SELECT word, COUNT(*) AS cnt
        FROM ({_WC_TOKENS})
        WHERE word <> ''
        GROUP BY word
    """,
    "top_k_words": f"""
        SELECT word, COUNT(*) AS cnt
        FROM ({_WC_TOKENS})
        WHERE word <> ''
        GROUP BY word
        ORDER BY cnt DESC, word ASC
        LIMIT 20
    """,
    "indexer": r"""
        WITH pairs AS (
            SELECT DISTINCT doc, word
            FROM (
                SELECT source || '/' || CAST(doc_id AS VARCHAR) AS doc,
                       unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
                FROM documents
            )
            WHERE word <> ''
        )
        SELECT word,
               COUNT(*) AS n_docs,
               string_agg(doc, ',' ORDER BY doc) AS docs
        FROM pairs
        GROUP BY word
    """,
    "file_counts": """
        SELECT source AS filename, COUNT(*) AS cnt
        FROM documents
        GROUP BY source
    """,
    "crash_data": """
        WITH kv AS (
            SELECT 'a' AS key, source || '/' || CAST(doc_id AS VARCHAR) AS value FROM documents
            UNION ALL
            SELECT 'b', CAST(length(source || '/' || CAST(doc_id AS VARCHAR)) AS VARCHAR) FROM documents
            UNION ALL
            SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
            UNION ALL
            SELECT 'd', 'xyzzy' FROM documents
        )
        SELECT key, string_agg(value, ' ' ORDER BY value) AS value
        FROM kv
        GROUP BY key
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        WITH rev AS (
            SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev
            FROM lineitem
            WHERE l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey
        )
        SELECT o_orderkey,
               round(rev, 2) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN rev ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q5_local_supplier_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "top_customers": """
        WITH per_cust AS (
            SELECT o_custkey,
                   round(sum(o_totalprice), 2) AS total_spent,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, total_spent, n_orders
        FROM per_cust JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spent DESC, c_custkey ASC
        LIMIT 10
    """,
    "orders_semi_join": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45.0)
        GROUP BY o_orderpriority
    """,
    "customers_anti_join": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "revenue_rank_in_nation": """
        WITH per_cust AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT n_name, c_custkey, c_name, revenue,
                   row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey ASC) AS rnk
            FROM per_cust
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT n_name, c_custkey, c_name, revenue, rnk
        FROM ranked WHERE rnk <= 3
    """,
    "hourly_event_counts": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               count(*) AS n_events,
               round(sum(value), 6) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "sessionize": """
        WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
            SELECT user_id, ts,
                   CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
            FROM g
        )
        SELECT user_id, session_seq,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events,
               round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 6) AS duration_secs
        FROM s
        GROUP BY user_id, session_seq
    """,
    "top_users_per_event_type": """
        WITH per_user AS (
            SELECT event_type, user_id, round(sum(value), 6) AS total_value
            FROM events GROUP BY event_type, user_id
        ), ranked AS (
            SELECT event_type, user_id, total_value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY total_value DESC, user_id ASC) AS rnk
            FROM per_user
        )
        SELECT event_type, user_id, total_value, rnk FROM ranked WHERE rnk <= 5
    """,
    "rolling_user_value": """
        SELECT event_id, user_id,
               round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
                   AS rolling_avg_value
        FROM events
    """,
    "props_key_stats": """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(k) AS BIGINT) AS sum_k,
               round(avg(k), 6) AS avg_k,
               min(k) AS min_k,
               max(k) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        WHERE k IS NOT NULL
        GROUP BY event_type
    """,
    "event_type_cube": """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(hod, -1) AS hod,
               count(*) AS n
        FROM (SELECT event_type, hour(ts) AS hod FROM events)
        GROUP BY CUBE (event_type, hod)
    """,
}


def _lexicon_values() -> str:
    from mapreduce_golang_spark.operators.text_analysis import LANG_LEXICONS

    rows = [f"('{lang}', '{w}')" for lang, ws in LANG_LEXICONS.items() for w in ws]
    return ", ".join(rows)


def _stopword_list() -> str:
    from mapreduce_golang_spark.operators.text_analysis import QUALITY_STOPWORDS

    return ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS)


_ORACLES["lang_id"] = rf"""
    WITH lex(lex_lang, lex_word) AS (VALUES {_lexicon_values()}),
    toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^\p{{L}}]+')) AS word
        FROM documents
    ),
    scores AS (
        SELECT doc_id, lex_lang, count(*) AS score
        FROM toks JOIN lex ON word = lex_word
        WHERE word <> ''
        GROUP BY doc_id, lex_lang
    ),
    best AS (
        SELECT doc_id, lex_lang, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lex_lang ASC) AS rn
        FROM scores
    )
    SELECT d.doc_id,
           coalesce(b.lex_lang, 'unknown') AS predicted_lang,
           CAST(coalesce(b.score, 0) AS BIGINT) AS score
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
"""

_ORACLES["text_quality"] = rf"""
    WITH feats AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '')) AS n_tokens,
               len(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                               x -> x IN ({_stopword_list()}))) AS n_stop,
               length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS punct_chars,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
               length(regexp_replace(text, '[^\p{{L}}]', '', 'g')) AS letter_chars
        FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
           round(CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN n_chars > 0 THEN CAST(digit_chars AS DOUBLE) / n_chars ELSE 0.0 END, 6) AS digit_ratio,
           round(CASE WHEN n_tokens > 0 THEN CAST(letter_chars AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS avg_token_len,
           round(0.4 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
                 + 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END))
                 + 0.3 * least(n_tokens / 100.0, 1.0), 6) AS quality_score
    FROM feats
"""

_ORACLES["token_stats"] = r"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS BIGINT) AS n_word_tokens,
           CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''))) AS BIGINT) AS n_distinct_words,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
"""

# Shared CTE: distinct 3-word shingles per doc (letters-only tokens).
# DuckDB's `||` propagates NULL at ragged tails, so the WHERE drops
# incomplete shingles — same effect as Spark's size==k filter.
_SHINGLES_CTE = r"""
    toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) AS pos
        FROM documents
    ),
    sh0 AS (
        SELECT doc_id, pos,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    shn AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY doc_id)
"""

_JACCARD_TAIL = """
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN shn x ON x.doc_id = c.doc_a
        JOIN shn y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""

_ORACLES["exact_dedup"] = """
    SELECT md5(lower(trim(text))) AS norm_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
"""

# mirrors operators/dedup.py::ngram_jaccard_pairs default semantics:
# candidates from the doc-freq-capped posting lists (max_doc_freq=256,
# the boilerplate-shingle guard), Jaccard verified over FULL sets
_ORACLES["ngram_jaccard_pairs"] = f"""
    WITH {_SHINGLES_CTE},
    freq AS (SELECT shingle, count(*) AS df_ FROM shn GROUP BY shingle),
    posting AS (
        SELECT s.doc_id, s.shingle
        FROM shn s JOIN freq f ON s.shingle = f.shingle AND f.df_ <= 256
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL}
"""

_ORACLES["minhash_lsh_pairs"] = f"""
    WITH {_SHINGLES_CTE},
    seeds AS (SELECT unnest(range(12)) AS seed),
    mh AS (
        SELECT doc_id, seed,
               min(substr(md5(CAST(seed // 4 AS VARCHAR) || '#' || shingle),
                          (seed % 4) * 8 + 1, 8)) AS mh
        FROM shn CROSS JOIN seeds
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 3 AS band, string_agg(mh, '|' ORDER BY seed) AS sig
        FROM mh GROUP BY doc_id, seed // 3
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL}
"""

_ORACLES["array_functions"] = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT vec_id,
           CAST(len(emb) AS BIGINT) AS dim,
           round(emb[1], 6) AS first_val,
           round(list_min(emb), 6) AS min_val,
           round(list_max(emb), 6) AS max_val,
           round(list_sum(emb), 6) AS sum_val,
           round(sqrt(list_sum(list_transform(emb, x -> x * x))), 6) AS l2_norm,
           CAST(len(list_filter(emb, x -> x > 0)) AS BIGINT) AS n_positive,
           round(list_sum(emb[1:8]), 6) AS head8_sum
    FROM e
"""

_ORACLES["string_functions"] = """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len,
           substr(c_name, 1, 8) AS name_prefix,
           regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_nodigits,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           CAST(levenshtein(lower(c_name), 'customer') AS BIGINT) AS lev_to_customer,
           array_to_string(string_split(c_name, '#'), '|') AS name_rejoined
    FROM customer
"""

_ORACLES["math_functions"] = """
    SELECT l_orderkey, l_linenumber,
           round(sqrt(l_extendedprice), 6) AS sqrt_price,
           round(ln(l_extendedprice), 6) AS ln_price,
           round(exp(l_discount), 6) AS exp_disc,
           abs(l_quantity - 25.0) AS abs_qty_dev,
           CAST(ceil(l_tax) AS BIGINT) AS ceil_tax,
           CAST(floor(l_quantity) AS BIGINT) AS floor_qty,
           round(pow(l_discount, 2.0), 6) AS disc_sq,
           CAST(l_orderkey % 97 AS BIGINT) AS key_mod
    FROM lineitem
"""

_ORACLES["rollup_nation_year"] = """
    SELECT coalesce(n_name, 'ALL') AS n_name,
           coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS yr,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, CAST(year(o_orderdate) AS BIGINT))
"""

_ORACLES["sql_revenue_by_nation_year"] = """
    SELECT n_name,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, year(o_orderdate)
"""

# Spark dayofweek is 1=Sunday; DuckDB dayofweek is 0=Sunday → +1 aligns.
_ORACLES["date_dimensions"] = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           count(*) AS n_orders,
           round(avg(o_totalprice), 6) AS avg_price,
           count(DISTINCT month(o_orderdate)) AS n_months,
           count(DISTINCT dayofweek(o_orderdate) + 1) AS n_dows
    FROM orders
    GROUP BY year(o_orderdate), quarter(o_orderdate)
"""

_ORACLES["events_range_join"] = """
    WITH errors AS (
        SELECT event_id AS error_event_id, user_id, epoch_us(ts) AS e_us
        FROM events WHERE event_type = 'error'
    ),
    counts AS (
        SELECT e.error_event_id, count(*) AS n_preceding
        FROM errors e
        JOIN (SELECT user_id, epoch_us(ts) AS o_us FROM events) o
          ON e.user_id = o.user_id
         AND o.o_us >= e.e_us - 300000000
         AND o.o_us < e.e_us
        GROUP BY e.error_event_id
    )
    SELECT e.error_event_id, e.user_id,
           CAST(coalesce(c.n_preceding, 0) AS BIGINT) AS n_preceding
    FROM errors e LEFT JOIN counts c ON e.error_event_id = c.error_event_id
"""

_ORACLES["multi_granularity_rollup"] = """
    WITH b AS (
        SELECT '1h' AS grain, date_trunc('hour', ts) AS b0, event_type, value FROM events
        UNION ALL
        SELECT '6h',
               date_trunc('hour', ts) - INTERVAL (hour(ts) % 6) HOUR,
               event_type, value FROM events
        UNION ALL
        SELECT '1d', date_trunc('day', ts), event_type, value FROM events
    )
    SELECT grain,
           strftime(b0, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM b
    GROUP BY grain, b0, event_type
"""

_ORACLES["q6_forecast_revenue"] = """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
"""

_ORACLES["q10_returned_items"] = """
    WITH returned AS (
        SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
    ), per_cust AS (
        SELECT o_custkey, sum(rev) AS rev
        FROM orders JOIN returned ON o_orderkey = l_orderkey
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, c_mktsegment, round(rev, 2) AS revenue
    FROM per_cust JOIN customer ON o_custkey = c_custkey
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
"""

_ORACLES["q12_late_shipments"] = """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
               AS high_priority_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
               AS low_priority_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
"""

_ORACLES["q14_promo_revenue_share"] = """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
"""

_ORACLES["q18_large_orders"] = """
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) >= 250.0
    )
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM orders
    JOIN big ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
"""

_ORACLES["orders_above_customer_avg"] = """
    WITH w AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    )
    SELECT o_orderkey, o_custkey,
           round(o_totalprice, 2) AS o_totalprice,
           round(cust_avg, 6) AS cust_avg
    FROM w WHERE o_totalprice > cust_avg
"""

# near-dup pairs at jaccard >= 0.5 (shared by survivors/components
# oracles) — candidates from the doc-freq-capped posting lists
# (max_doc_freq=256 default), Jaccard over FULL sets, mirroring
# operators/dedup.py::ngram_jaccard_pairs
_NGRAM_PAIRS_SQL = f"""
    {_SHINGLES_CTE},
    freq AS (SELECT shingle, count(*) AS df_ FROM shn GROUP BY shingle),
    posting AS (
        SELECT s.doc_id, s.shingle
        FROM shn s JOIN freq f ON s.shingle = f.shingle AND f.df_ <= 256
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN shn x ON x.doc_id = c.doc_a
        JOIN shn y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    )
"""

_ORACLES["near_dup_survivors"] = f"""
    WITH {_NGRAM_PAIRS_SQL}
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
"""

_ORACLES["corpus_final_selection"] = rf"""
    WITH {_NGRAM_PAIRS_SQL},
    q AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '')) AS n_tokens,
               len(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                               x -> x IN ({_stopword_list()}))) AS n_stop,
               length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS punct_chars
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               round(0.4 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
                     + 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END))
                     + 0.3 * least(n_tokens / 100.0, 1.0), 6) AS quality_score
        FROM q
    )
    SELECT doc_id, quality_score, n_tokens
    FROM scored
    WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
      AND quality_score >= 0.5
      AND n_tokens >= 10
"""

def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank (recursive CTEs can't carry
    the aggregation portably; 10 chained CTEs compute the identical
    fixed point, same arithmetic as the Spark loop)."""
    from mapreduce_golang_spark.operators.graph import PAGERANK_DAMPING, PAGERANK_ITERATIONS

    d = PAGERANK_DAMPING
    steps = []
    for i in range(1, PAGERANK_ITERATIONS + 1):
        steps.append(
            f"""r{i} AS (
        SELECT n.node,
               (1.0 - {d}) / (SELECT n FROM params) + {d} * coalesce(s.inflow, 0.0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.v AS node, sum(r.rank / d2.deg) AS inflow
            FROM edges e
            JOIN r{i - 1} r ON e.u = r.node
            JOIN deg d2 ON e.u = d2.u
            GROUP BY e.v
        ) s ON n.node = s.node
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_NGRAM_PAIRS_SQL},
    edges AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
    params AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM params) AS rank FROM nodes),
    {chained}
    SELECT node AS doc_id, round(rank, 6) AS rank FROM r{PAGERANK_ITERATIONS}
"""


_ORACLES["near_dup_pagerank"] = _pagerank_oracle()


def _kcore_oracle() -> str:
    """Unrolled k-core pruning (each round recomputes degrees over the
    REMAINING edges — an aggregation a recursive CTE can't carry, so
    the oracle chains KCORE_MAX_ROUNDS pruning CTEs; rounds past the
    fixed point are identity, matching the early-exiting Spark loop)."""
    from mapreduce_golang_spark.operators.graph import KCORE_K, KCORE_MAX_ROUNDS

    steps = []
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        # AS MATERIALIZED is load-bearing: each round references the
        # previous one three times, and DuckDB's default CTE inlining
        # would expand the chain to 3^rounds copies of the shingle
        # pipeline (observed: fd exhaustion before the first row)
        steps.append(
            f"""e{i} AS MATERIALIZED (
        SELECT u, v FROM e{i - 1}
        WHERE u IN (SELECT u FROM e{i - 1} GROUP BY u HAVING count(*) >= {KCORE_K})
          AND v IN (SELECT u FROM e{i - 1} GROUP BY u HAVING count(*) >= {KCORE_K})
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_NGRAM_PAIRS_SQL},
    e0 AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    {chained}
    SELECT u AS doc_id, count(*) AS core_degree
    FROM e{KCORE_MAX_ROUNDS}
    GROUP BY u
"""


_ORACLES["kcore_docs"] = _kcore_oracle()


def _weighted_pagerank_oracle() -> str:
    """Unrolled weighted PageRank — same chained-CTE scheme as
    _pagerank_oracle, with rank outflow ∝ the ROUNDED jaccard weight
    both engines share (the pairs oracle emits round(jaccard, 6), and
    the Spark loop consumes the identically-rounded pairs column)."""
    from mapreduce_golang_spark.operators.graph import PAGERANK_DAMPING, PAGERANK_ITERATIONS

    d = PAGERANK_DAMPING
    steps = []
    for i in range(1, PAGERANK_ITERATIONS + 1):
        steps.append(
            f"""r{i} AS (
        SELECT n.node,
               (1.0 - {d}) / (SELECT n FROM params) + {d} * coalesce(s.inflow, 0.0) AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.v AS node, sum(r.rank * e.w / ws.wsum) AS inflow
            FROM edges e
            JOIN r{i - 1} r ON e.u = r.node
            JOIN ws ON e.u = ws.u
            GROUP BY e.v
        ) s ON n.node = s.node
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH pairs0 AS MATERIALIZED ({_ORACLES["ngram_jaccard_pairs"]}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v, jaccard AS w FROM pairs0
        UNION
        SELECT doc_b AS u, doc_a AS v, jaccard AS w FROM pairs0
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    ws AS (SELECT u, sum(w) AS wsum FROM edges GROUP BY u),
    params AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM params) AS rank FROM nodes),
    {chained}
    SELECT node AS doc_id, round(rank, 6) AS rank FROM r{PAGERANK_ITERATIONS}
"""


_ORACLES["near_dup_weighted_pagerank"] = _weighted_pagerank_oracle()

_ORACLES["time_weighted_user_value"] = """
    WITH d AS (
        SELECT user_id, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id,
           round(sum(value * dt_us) / sum(dt_us), 6) AS twap,
           count(*) AS n_intervals,
           round(sum(dt_us) / 1000000.0, 6) AS span_secs
    FROM d
    WHERE dt_us IS NOT NULL
    GROUP BY user_id
    HAVING sum(dt_us) > 0
"""

_ORACLES["value_mad_anomalies"] = """
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS m
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_id, e.event_type, e.value, abs(e.value - med.m) AS absdev
        FROM events e JOIN med USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(absdev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, round(d.value, 6) AS value,
           round(d.absdev / (CAST(1.4826 AS DOUBLE) * mad.mad), 6) AS robust_z
    FROM dev d JOIN mad USING (event_type)
    WHERE mad.mad > 0
      AND d.absdev / (CAST(1.4826 AS DOUBLE) * mad.mad) > CAST(3.5 AS DOUBLE)
"""

_ORACLES["session_incident_overlap"] = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM g
    ), sess AS (
        SELECT user_id, session_seq, min(ts) AS s_start, max(ts) AS s_end
        FROM s GROUP BY user_id, session_seq
    ), inc AS (
        SELECT date_trunc('hour', ts) AS h
        FROM events WHERE event_type = 'error'
        GROUP BY 1 HAVING count(*) >= 5
    )
    SELECT sess.user_id, sess.session_seq,
           strftime(min(sess.s_start), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_incident_hours
    FROM sess JOIN inc
      ON inc.h <= sess.s_end AND inc.h + INTERVAL 1 HOUR > sess.s_start
    GROUP BY sess.user_id, sess.session_seq
"""

_ORACLES["incremental_agg_refresh"] = """
    SELECT l_returnflag, l_linestatus,
           count(l_extendedprice) AS n_rows,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_m,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(l_extendedprice), 6) AS avg_m,
           round(min(l_extendedprice), 6) AS min_m,
           round(max(l_extendedprice), 6) AS max_m
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
"""

# discretized two-sample KS per source vs rest, on the shared ROUNDED
# quality score (wraps the text_quality oracle for the scoring pass)
_ORACLES["source_quality_drift"] = f"""
    WITH tq AS ({_ORACLES["text_quality"]}),
    sq AS (
        SELECT d.source, tq.quality_score
        FROM tq JOIN documents d USING (doc_id)
    ),
    binned AS (
        SELECT source,
               least(CAST(floor(quality_score * 20) AS BIGINT), 19) AS bin
        FROM sq
    ),
    counts AS (SELECT source, bin, count(*) AS c FROM binned GROUP BY 1, 2),
    sources AS (SELECT DISTINCT source FROM counts),
    bins AS (SELECT range AS bin FROM range(0, 20)),
    grid AS (SELECT s.source, b.bin FROM sources s CROSS JOIN bins b),
    filled AS (
        SELECT g.source, g.bin, coalesce(c.c, 0) AS c
        FROM grid g LEFT JOIN counts c ON g.source = c.source AND g.bin = c.bin
    ),
    cums AS (
        SELECT source, bin, c,
               sum(c) OVER (PARTITION BY source ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum_s
        FROM filled
    ),
    perbin AS (SELECT bin, sum(c) AS cb FROM filled GROUP BY bin),
    tot AS (
        SELECT bin,
               sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_t
        FROM perbin
    ),
    ns AS (SELECT source, sum(c) AS n_s FROM counts GROUP BY source),
    ntot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM counts)
    SELECT c.source,
           CAST(max(ns.n_s) AS BIGINT) AS n_docs,
           round(max(abs(CAST(c.cum_s AS DOUBLE) / ns.n_s
                         - (t.cum_t - c.cum_s) / (ntot.n - ns.n_s))), 6) AS ks_stat
    FROM cums c JOIN tot t USING (bin) JOIN ns USING (source) CROSS JOIN ntot
    WHERE ntot.n > ns.n_s
    GROUP BY c.source
"""

_ORACLES["winsorized_value_stats"] = """
    WITH pct AS (
        SELECT event_type,
               quantile_cont(value, CAST(0.01 AS DOUBLE)) AS lo,
               quantile_cont(value, CAST(0.99 AS DOUBLE)) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           round(min(pct.lo), 6) AS p_lo,
           round(min(pct.hi), 6) AS p_hi,
           round(avg(e.value), 6) AS mean_raw,
           round(avg(least(greatest(e.value, pct.lo), pct.hi)), 6) AS mean_winsorized,
           round(stddev_samp(least(greatest(e.value, pct.lo), pct.hi)), 6) AS sd_winsorized
    FROM events e JOIN pct USING (event_type)
    GROUP BY e.event_type
"""

_ORACLES["event_weekday_chi2"] = """
    WITH obs AS (
        SELECT event_type,
               CAST(strftime(ts, '%w') AS BIGINT) + 1 AS weekday,
               count(*) AS o
        FROM events GROUP BY 1, 2
    ), rt AS (
        SELECT event_type, sum(o) AS rt FROM obs GROUP BY event_type
    ), ct AS (
        SELECT weekday, sum(o) AS ct FROM obs GROUP BY weekday
    ), n AS (
        SELECT CAST(sum(o) AS DOUBLE) AS n FROM obs
    )
    SELECT g.event_type,
           CAST(sum(coalesce(obs.o, 0)) AS BIGINT) AS n_events,
           round(sum((coalesce(obs.o, 0) - g.rt * g.ct / n.n)
                     * (coalesce(obs.o, 0) - g.rt * g.ct / n.n)
                     / (g.rt * g.ct / n.n)), 6) AS chi2
    FROM (SELECT rt.event_type, rt.rt, ct.weekday, ct.ct FROM rt CROSS JOIN ct) g
    LEFT JOIN obs ON g.event_type = obs.event_type AND g.weekday = obs.weekday
    CROSS JOIN n
    GROUP BY g.event_type
"""

# streaming twin of session_incident_overlap's incident CTE: on finite
# input the drained stream equals the batch hour/threshold aggregate
_ORACLES["streaming_incident_hours"] = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           count(*) AS n_errors
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1
    HAVING count(*) >= 5
"""

_ORACLES["customer_snapshot_diff"] = """
    WITH old AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 7 <> 0
    ), new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 5 <> 0
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           round(o.c_acctbal, 2) AS old_acctbal,
           round(n.c_acctbal, 2) AS new_acctbal
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
"""

_ORACLES["near_dup_components"] = f"""
    WITH RECURSIVE {_NGRAM_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u
    ),
    reach_min AS (SELECT u, min(v) AS mn FROM walk GROUP BY u)
    SELECT d.doc_id, least(d.doc_id, coalesce(r.mn, d.doc_id)) AS component_id
    FROM documents d LEFT JOIN reach_min r ON d.doc_id = r.u
"""

# same pairs graph feeding components + survivors + sizes — mirrors
# operators/dedup.py::near_dup_pipeline (one pairs computation shared)
_ORACLES["near_dup_pipeline"] = f"""
    WITH RECURSIVE {_NGRAM_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u
    ),
    reach_min AS (SELECT u, min(v) AS mn FROM walk GROUP BY u),
    comp AS (
        SELECT d.doc_id, least(d.doc_id, coalesce(r.mn, d.doc_id)) AS component_id
        FROM documents d LEFT JOIN reach_min r ON d.doc_id = r.u
    ),
    comp_sizes AS (
        SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
        FROM comp GROUP BY component_id
    )
    SELECT c.doc_id, c.component_id, s.component_size,
           CAST(CASE WHEN c.doc_id IN (SELECT doc_b FROM pairs) THEN 0 ELSE 1 END AS BIGINT)
               AS is_survivor
    FROM comp c JOIN comp_sizes s USING (component_id)
"""

# bucketing is an execution-layout detail — the relational answer is a
# plain join+group-by (the exchange-free plan is asserted in
# tests/test_sources.py::test_bucketed_query_entry_plan)
_ORACLES["bucketed_join_revenue"] = """
    SELECT o.o_orderkey,
           max(o.o_totalprice) AS o_totalprice,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS line_revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey
"""

_ORACLES["q4_order_priority"] = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
"""

_ORACLES["q7_volume_shipping"] = """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
"""

_ORACLES["q8_market_share"] = """
    SELECT year(o.o_orderdate) AS o_year,
           round(sum(CASE WHEN sn.n_name = 'NATION_1'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0.0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    WHERE o.o_custkey IN (
        SELECT c.c_custkey
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'AMERICA'
    )
    GROUP BY 1
"""

_ORACLES["q13_customer_distribution"] = """
    WITH cnt AS (
        SELECT o_custkey, count(*) AS c_count
        FROM orders
        WHERE o_orderpriority <> '5-LOW'
        GROUP BY o_custkey
    )
    SELECT coalesce(cnt.c_count, 0) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM customer c LEFT JOIN cnt ON c.c_custkey = cnt.o_custkey
    GROUP BY 1
"""

_ORACLES["q17_small_quantity_revenue"] = """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
"""

_ORACLES["q19_discounted_revenue"] = """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
"""

_ORACLES["q22_sales_opportunity"] = """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY c_mktsegment
"""

# reference indexer.go:38 packed output: "<n_docs> <doc1,doc2,...>"
_ORACLES["indexer_packed"] = r"""
    WITH pairs AS (
        SELECT DISTINCT doc, word
        FROM (
            SELECT source || '/' || CAST(doc_id AS VARCHAR) AS doc,
                   unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word
            FROM documents
        )
        WHERE word <> ''
    )
    SELECT word,
           CAST(COUNT(*) AS VARCHAR) || ' ' || string_agg(doc, ',' ORDER BY doc) AS index
    FROM pairs
    GROUP BY word
"""

_ORACLES["chunk_documents"] = r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    sized AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    c AS (
        SELECT doc_id, toks,
               unnest(range(CAST(ceil(n / 40.0) AS INT))) AS chunk_idx
        FROM sized
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(toks[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ') AS chunk_text,
           CAST(len(toks[chunk_idx * 40 + 1 : chunk_idx * 40 + 50]) AS BIGINT) AS n_tokens
    FROM c
"""

_ORACLES["pack_sequences"] = r"""
    WITH sized AS (
        SELECT source, doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    binned AS (
        SELECT source, n_tokens,
               (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens) // 2000 AS bin
        FROM sized
    )
    SELECT source, CAST(bin AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM binned GROUP BY source, bin
"""

_ORACLES["redact_numbers"] = """
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_redacted
    FROM events
"""

_SIMHASH_CTE = r"""
    tok_counts AS (
        SELECT doc_id, tok, count(*) AS cnt
        FROM (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok
            FROM documents
        )
        GROUP BY doc_id, tok
    ),
    bits AS (SELECT unnest(range(16)) AS i),
    contrib AS (
        SELECT doc_id, i,
               sum(cnt * CASE WHEN substr(md5(tok), CAST(i + 1 AS INT), 1)
                              IN ('8','9','a','b','c','d','e','f')
                         THEN 1 ELSE -1 END) AS s
        FROM tok_counts CROSS JOIN bits
        GROUP BY doc_id, i
    ),
    sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s >= 0 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM contrib GROUP BY doc_id
    )
"""

_ORACLES["simhash"] = f"""
    WITH {_SIMHASH_CTE}
    SELECT doc_id, simhash FROM sh
"""

_ORACLES["simhash64"] = r"""
    WITH tok_counts AS (
        SELECT doc_id, tok, count(*) AS cnt
        FROM (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok
            FROM documents
        )
        GROUP BY doc_id, tok
    ),
    bits AS (SELECT unnest(range(63)) AS i),
    contrib AS (
        SELECT doc_id, i,
               sum(cnt * CASE WHEN (CAST((strpos('0123456789abcdef',
                                            substr(md5(tok), CAST(i // 4 + 1 AS INT), 1)) - 1) AS INT)
                               // CAST(power(2, i % 4) AS INT)) % 2 = 1
                          THEN 1 ELSE -1 END) AS s
        FROM tok_counts CROSS JOIN bits
        GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s >= 0 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash64
    FROM contrib GROUP BY doc_id
"""

_ORACLES["simhash_pairs"] = f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""

_ORACLES["embedding_cosine_pairs"] = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (
        SELECT a.vec_id AS va, b.vec_id AS vb, a.emb AS ea, b.emb AS eb
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    ),
    terms AS (SELECT va, vb, unnest(ea) AS x, unnest(eb) AS y FROM p),
    sums AS (
        SELECT va, vb, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb
        FROM terms GROUP BY va, vb
    )
    SELECT va AS vec_a, vb AS vec_b,
           round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
    FROM sums
    WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.4
"""

_ORACLES["value_percentiles"] = """
    SELECT event_type,
           round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS p50,
           round(quantile_cont(CAST(value AS DOUBLE), 0.9), 6) AS p90,
           round(quantile_cont(CAST(value AS DOUBLE), 0.99), 6) AS p99
    FROM events GROUP BY event_type
"""

_ORACLES["event_type_user_stats"] = """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY event_type
"""

# approx_distinct_users: HLL estimates are engine-specific — no oracle
# (driver records rows-only); tests bound its error vs the exact count.

_ORACLES["users_purchase_not_error"] = """
    SELECT user_id, hour(ts) AS hod FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id, hour(ts) AS hod FROM events WHERE event_type = 'error'
"""

_ORACLES["users_signup_and_purchase"] = """
    SELECT user_id FROM events WHERE event_type = 'signup'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
"""

_ORACLES["event_counts_pivot"] = """
    SELECT hour(ts) AS hod,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
    FROM events GROUP BY hour(ts)
"""

_ORACLES["last_click_before_purchase"] = """
    WITH marked AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
        FROM events
    )
    SELECT event_id AS purchase_event_id,
           user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           coalesce(last_click_id, -1) AS last_click_event_id
    FROM marked WHERE event_type = 'purchase'
"""

# weighted median = smallest value whose cumulative props.k weight
# reaches half the total, per event_type (ties broken by event_id).
_ORACLES["weighted_median_value"] = """
    WITH prepared AS (
        SELECT event_type, event_id, value,
               CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    cum AS (
        SELECT event_type, value,
               sum(k) OVER (PARTITION BY event_type ORDER BY value, event_id
                            ROWS UNBOUNDED PRECEDING) AS cw,
               sum(k) OVER (PARTITION BY event_type) AS total
        FROM prepared
    )
    SELECT event_type, round(min(value), 6) AS weighted_median
    FROM cum
    WHERE cw >= total / 2.0
    GROUP BY event_type
"""

_ORACLES["event_value_histogram"] = """
    SELECT event_type,
           CAST(floor(value / 10.0) AS BIGINT) AS bin,
           round(CAST(floor(value / 10.0) AS BIGINT) * 10.0, 6) AS bin_lo,
           count(*) AS n
    FROM events
    GROUP BY event_type, floor(value / 10.0)
"""

_ORACLES["lineitem_price_stats"] = """
    SELECT l_returnflag,
           count(*) AS n,
           round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
           round(stddev_samp(l_extendedprice), 6) AS stddev_price
    FROM lineitem
    GROUP BY l_returnflag
"""

_ORACLES["data_quality_report"] = """
    SELECT 'qty_below_min' AS rule,
           CAST(sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM lineitem
    UNION ALL
    SELECT 'qty_above_max', CAST(sum(CASE WHEN l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'discount_out_of_range',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'null_orderkey', CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'shipdate_too_old',
           CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1990-01-01' THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'duplicate_order_line',
           CAST(coalesce(sum(c), 0) AS BIGINT)
    FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
"""

_ORACLES["mr_wc"] = r"""
    SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS value
    FROM (SELECT unnest(regexp_split_to_array(text, '[^\p{L}]+')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
"""

_ORACLES["streaming_hourly_counts"] = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
"""

# session_window(gap) merges exactly like the lag/cumsum construction;
# oracle = the batch sessionize reduced to (user, session_start, n).
_ORACLES["streaming_sessionize"] = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM g
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM s
    GROUP BY user_id, session_seq
"""

_ORACLES["streaming_stream_join"] = """
    SELECT p.event_id AS purchase_event_id,
           c.event_id AS click_event_id,
           p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts < p.ts
"""

_ORACLES["streaming_user_counts"] = """
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""

_ORACLES["media_features"] = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha256,
           CAST(CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) % 1920 AS BIGINT) AS width,
           CAST(CAST('0x' || substr(md5(text), 5, 4) AS INTEGER) % 1080 AS BIGINT) AS height,
           CAST(CAST('0x' || substr(md5(text), 9, 4) AS INTEGER) % 240 AS BIGINT) AS n_frames
    FROM documents
"""

# Shared ANN oracle scaffolding: norms + pairwise dot via zipped unnest.
_ANN_BASE_CTE = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    n AS (SELECT vec_id, emb,
                 sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
          FROM e)
"""


def _ann_oracle(candidate_cond: str, extra_cte: str = "", qcols: str = "") -> str:
    return f"""
        WITH {_ANN_BASE_CTE}{extra_cte},
        q AS (SELECT vec_id AS query_id, emb AS qe, nrm AS qnrm{qcols}
              FROM base WHERE vec_id < 10),
        p AS (
            SELECT q.query_id, base.vec_id AS neighbor_id, q.qe, base.emb,
                   q.qnrm, base.nrm
            FROM base CROSS JOIN q
            WHERE base.vec_id <> q.query_id AND ({candidate_cond})
        ),
        terms AS (
            SELECT query_id, neighbor_id, qnrm, nrm,
                   unnest(qe) AS x, unnest(emb) AS y
            FROM p
        ),
        sums AS (
            SELECT query_id, neighbor_id,
                   any_value(qnrm) AS qnrm, any_value(nrm) AS nrm,
                   sum(x * y) AS dot
            FROM terms GROUP BY query_id, neighbor_id
        ),
        scored AS (
            SELECT query_id, neighbor_id,
                   round(dot / (qnrm * nrm), 6) AS cosine
            FROM sums
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rnk
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
    """


def _hyperplane_values() -> str:
    from mapreduce_golang_spark.operators.similarity import HYPERPLANES

    rows = [
        f"({p}, {d + 1}, {sgn})"
        for p, signs in enumerate(HYPERPLANES)
        for d, sgn in enumerate(signs)
    ]
    return ", ".join(rows)


_ORACLES["ann_topk_bruteforce"] = _ann_oracle(
    "TRUE", extra_cte=",\n        base AS (SELECT * FROM n)"
)

_ORACLES["ann_ivf_topk"] = _ann_oracle(
    "base.label = q.qlabel",
    extra_cte=""",
        base AS (SELECT n.vec_id, n.emb, n.nrm, emb0.label
                 FROM n JOIN embeddings emb0 ON n.vec_id = emb0.vec_id)""",
    qcols=", label AS qlabel",
)

_ORACLES["ann_lsh_topk"] = _ann_oracle(
    "base.bucket = q.qbucket",
    extra_cte=f""",
        planes(p, d, sgn) AS (VALUES {_hyperplane_values()}),
        tv AS (SELECT vec_id, unnest(emb) AS x, generate_subscripts(emb, 1) AS d FROM e),
        pb AS (SELECT vec_id, p, sum(sgn * x) AS dot
               FROM tv JOIN planes ON tv.d = planes.d GROUP BY vec_id, p),
        bkt AS (SELECT vec_id,
                       CAST(sum(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
                FROM pb GROUP BY vec_id),
        base AS (SELECT n.vec_id, n.emb, n.nrm, bkt.bucket
                 FROM n JOIN bkt ON n.vec_id = bkt.vec_id)""",
    qcols=", bucket AS qbucket",
)

_ORACLES["doc_fingerprints"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) - 1 AS pos
        FROM documents
    ),
    shingled AS (
        SELECT doc_id, pos,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    hashed AS (
        SELECT doc_id, pos, md5(shingle) AS h
        FROM shingled WHERE shingle IS NOT NULL
    ),
    rolled AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               max(pos) OVER (PARTITION BY doc_id) AS max_pos
        FROM hashed
    ),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM rolled WHERE pos <= max_pos - 3
    )
    SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fp, max(fp) AS max_fp
    FROM fps GROUP BY doc_id
"""


_ORACLES["q2_min_cost_supplier"] = """
    WITH supply AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS supply_cost
        FROM lineitem GROUP BY 1, 2
    ),
    rsupp AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    cand AS (
        SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, p.p_name,
               su.supply_cost
        FROM supply su
        JOIN part p ON su.l_partkey = p.p_partkey
             AND p.p_size = 15 AND p.p_type = 'STANDARD'
        JOIN rsupp s ON su.l_suppkey = s.s_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
    FROM cand c
    WHERE supply_cost = (SELECT min(supply_cost) FROM cand c2
                         WHERE c2.p_partkey = c.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""

_ORACLES["q9_product_type_profit"] = """
    SELECT n.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               - 0.6 * p.p_retailprice * l.l_quantity
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
"""

_ORACLES["q11_important_stock"] = """
    WITH per_part AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS value
        FROM lineitem
        WHERE l_suppkey IN (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
        )
        GROUP BY 1
    )
    SELECT l_partkey AS p_partkey,
           CAST(round(value, 2) AS DOUBLE) AS value
    FROM per_part
    WHERE value > 0.001 * (SELECT sum(value) FROM per_part)
"""

_ORACLES["q15_top_supplier"] = """
    WITH per_supp AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(round(p.total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM per_supp p JOIN supplier s ON p.l_suppkey = s.s_suppkey
    WHERE p.total_revenue = (SELECT max(total_revenue) FROM per_supp)
"""

_ORACLES["q16_supplier_part_counts"] = """
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON pr.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 3)
      AND pr.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
"""

_ORACLES["q20_dominant_suppliers"] = """
    WITH li AS (
        SELECT l_partkey, l_suppkey, l_quantity
        FROM lineitem
        WHERE year(l_shipdate) = 1997
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    ),
    per_ps AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        FROM li GROUP BY 1, 2
    ),
    per_part AS (
        SELECT l_partkey, sum(supp_qty) AS part_qty FROM per_ps GROUP BY 1
    ),
    dominant AS (
        SELECT DISTINCT p.l_suppkey
        FROM per_ps p JOIN per_part t ON p.l_partkey = t.l_partkey
        WHERE p.supp_qty > 0.5 * t.part_qty
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_1'
      AND s.s_suppkey IN (SELECT l_suppkey FROM dominant)
"""

_ORACLES["q21_suppliers_kept_waiting"] = """
    WITH per_os AS (
        SELECT l.l_orderkey, l.l_suppkey,
               max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY 1, 2
    ),
    flagged AS (
        SELECT l_suppkey, late,
               count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
               sum(late) OVER (PARTITION BY l_orderkey) AS n_late
        FROM per_os
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM flagged f
    JOIN supplier s ON f.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE f.late = 1 AND f.n_supp > 1 AND f.n_late = 1
      AND n.n_name = 'NATION_2'
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
"""


_ORACLES["scd2_customers"] = """
    WITH upd AS (
        SELECT c_custkey, c_name, c_nationkey,
               c_acctbal * 2 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
           c_mktsegment, '1995-01-01 00:00:00' AS valid_from,
           '9999-12-31 00:00:00' AS valid_to
    FROM customer WHERE c_mktsegment <> 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, round(c_acctbal, 2) AS c_acctbal,
           c_mktsegment, '1995-01-01 00:00:00' AS valid_from,
           '2000-06-01 00:00:00' AS valid_to
    FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           '2000-06-01 00:00:00' AS valid_from,
           '9999-12-31 00:00:00' AS valid_to
    FROM upd
"""

_ORACLES["salted_event_counts"] = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
"""

_ORACLES["streaming_dedup_events"] = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique
    FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
    GROUP BY event_type
"""

_ORACLES["tfidf_top_terms"] = r"""
    WITH words AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS word
        FROM documents
    ),
    tf AS (SELECT source, word, count(*) AS tf FROM words GROUP BY 1, 2),
    docfreq AS (SELECT word, count(DISTINCT source) AS source_freq FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n_sources FROM documents),
    scored AS (
        SELECT tf.source, tf.word, tf.tf, d.source_freq,
               tf.tf * n.n_sources / d.source_freq AS tfidf
        FROM tf JOIN docfreq d ON tf.word = d.word CROSS JOIN n
    )
    SELECT source, word, tf, source_freq, tfidf, rnk
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY source
                       ORDER BY tfidf DESC, word ASC) AS BIGINT) AS rnk
        FROM scored
    )
    WHERE rnk <= 5
"""

_ORACLES["contamination_check"] = r"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) AS pos
        FROM documents
    ),
    shingled AS (
        SELECT DISTINCT doc_id, source,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT doc_id, source, md5(shingle) AS h
        FROM shingled
        WHERE shingle IS NOT NULL
          AND len(string_split(shingle, ' ')) = 3
    ),
    train AS (SELECT DISTINCT h FROM sh WHERE source NOT IN ('src18', 'src19')),
    ev AS (SELECT doc_id, h FROM sh WHERE source IN ('src18', 'src19')),
    hits AS (
        SELECT doc_id, count(*) AS contaminated
        FROM ev WHERE h IN (SELECT h FROM train) GROUP BY 1
    ),
    totals AS (SELECT doc_id, count(*) AS total_ngrams FROM ev GROUP BY 1)
    SELECT t.doc_id, t.total_ngrams,
           coalesce(hits.contaminated, 0) AS contaminated,
           round(coalesce(hits.contaminated, 0) / t.total_ngrams, 6) AS contamination_ratio
    FROM totals t LEFT JOIN hits ON t.doc_id = hits.doc_id
"""

_ORACLES["stratified_sample"] = """
    WITH u AS (
        SELECT source, doc_id,
               ((CAST(CAST(from_hex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIT) AS BIGINT)
                 + 4294967296) % 4294967296) / 4294967296.0 AS u
        FROM documents
    )
    SELECT source, doc_id, round(u, 10) AS sample_key
    FROM u
    WHERE u < 0.2
"""


# operators/similarity.py::semantic_dedup_survivors — embedding-space
# near-dup with hyperplane-LSH bucketing; same HYPERPLANES constant as
# the ann_lsh_topk oracle so buckets are bit-identical across engines.
_ORACLES["semantic_dedup_survivors"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    planes(p, d, sgn) AS (VALUES {_hyperplane_values()}),
    tv AS (SELECT vec_id, unnest(emb) AS x, generate_subscripts(emb, 1) AS d FROM e),
    pb AS (SELECT vec_id, p, sum(sgn * x) AS dot
           FROM tv JOIN planes ON tv.d = planes.d GROUP BY vec_id, p),
    bkt AS (SELECT vec_id,
                   CAST(sum(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
            FROM pb GROUP BY vec_id),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    pe AS (SELECT p.va, p.vb, ea.emb AS ea, eb.emb AS eb
           FROM pairs p JOIN e ea ON p.va = ea.vec_id JOIN e eb ON p.vb = eb.vec_id),
    terms AS (SELECT va, vb, unnest(ea) AS x, unnest(eb) AS y FROM pe),
    sums AS (SELECT va, vb, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb
             FROM terms GROUP BY va, vb),
    dropped AS (SELECT DISTINCT vb FROM sums
                WHERE round(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.4)
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT vb FROM dropped)
"""

# operators/dedup.py::incremental_dedup — new-batch (doc_id %% 10 == 0)
# vs existing-corpus dedup; guard/doc-freq semantics mirror
# ngram_jaccard_pairs (cap candidates, verify over full shingle sets).
_ORACLES["incremental_dedup"] = f"""
    WITH {_SHINGLES_CTE},
    hashes AS (SELECT doc_id, md5(lower(trim(text))) AS h,
                      (doc_id % 10 = 0) AS is_new
               FROM documents),
    corpus_h AS (SELECT DISTINCT h FROM hashes WHERE NOT is_new),
    batch_rn AS (SELECT doc_id, h,
                        row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
                 FROM hashes WHERE is_new),
    exact AS (SELECT doc_id,
                     (rn > 1 OR h IN (SELECT h FROM corpus_h)) AS is_exact
              FROM batch_rn),
    freq AS (SELECT shingle, count(*) AS df_ FROM shn GROUP BY shingle),
    posting AS (SELECT s.doc_id, s.shingle
                FROM shn s JOIN freq f ON s.shingle = f.shingle AND f.df_ <= 256),
    cand AS (SELECT DISTINCT o.doc_id AS doc_a, n.doc_id AS doc_b
             FROM posting o JOIN posting n ON o.shingle = n.shingle
             WHERE o.doc_id % 10 <> 0 AND n.doc_id % 10 = 0),
    common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
               FROM cand c
               JOIN shn x ON x.doc_id = c.doc_a
               JOIN shn y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
               GROUP BY c.doc_a, c.doc_b),
    near AS (SELECT DISTINCT doc_b AS doc_id
             FROM common
             JOIN sizes sa ON doc_a = sa.doc_id
             JOIN sizes sb ON doc_b = sb.doc_id
             WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5)
    SELECT e.doc_id,
           CASE WHEN e.is_exact THEN 'dup_exact'
                WHEN e.doc_id IN (SELECT doc_id FROM near) THEN 'dup_near'
                ELSE 'kept' END AS status
    FROM exact e
"""


# operators/corpus.py::corpus_funnel_report — cumulative retention
# counts through the selection gates; near-dup / quality / lang CTEs
# mirror the ngram_jaccard_pairs, text_quality, and lang_id oracles.
_ORACLES["corpus_funnel_report"] = r"""
    WITH {shingles},
    freq AS (SELECT shingle, count(*) AS df_ FROM shn GROUP BY shingle),
    posting AS (SELECT s.doc_id, s.shingle
                FROM shn s JOIN freq f ON s.shingle = f.shingle AND f.df_ <= 256),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
               FROM cand c
               JOIN shn x ON x.doc_id = c.doc_a
               JOIN shn y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
               GROUP BY c.doc_a, c.doc_b),
    dropped AS (SELECT DISTINCT doc_b FROM common
                JOIN sizes sa ON doc_a = sa.doc_id
                JOIN sizes sb ON doc_b = sb.doc_id
                WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5),
    lex(lex_lang, lex_word) AS (VALUES {lexicon}),
    ltoks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^\p{{L}}]+')) AS word
              FROM documents),
    lscores AS (SELECT doc_id, lex_lang, count(*) AS score
                FROM ltoks JOIN lex ON word = lex_word
                WHERE word <> '' GROUP BY doc_id, lex_lang),
    lbest AS (SELECT doc_id, lex_lang,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lex_lang ASC) AS rn
              FROM lscores),
    lang AS (SELECT d.doc_id, coalesce(b.lex_lang, 'unknown') AS predicted_lang
             FROM documents d
             LEFT JOIN (SELECT * FROM lbest WHERE rn = 1) b ON d.doc_id = b.doc_id),
    feats AS (SELECT doc_id,
                     length(text) AS n_chars,
                     len(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '')) AS n_tokens,
                     len(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                                     x -> x IN ({stopwords}))) AS n_stop,
                     length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS punct_chars
              FROM documents),
    qual AS (SELECT doc_id, n_tokens,
                    round(0.4 * (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END)
                          + 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct_chars AS DOUBLE) / n_chars ELSE 0.0 END))
                          + 0.3 * least(n_tokens / 100.0, 1.0), 6) AS quality_score
             FROM feats),
    keeper AS (SELECT doc_id,
                      row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
               FROM documents),
    conds AS (SELECT q.doc_id,
                     (q.n_tokens >= 10) AS c_len,
                     (q.n_tokens >= 10 AND q.quality_score >= 0.5) AS c_q,
                     (q.n_tokens >= 10 AND q.quality_score >= 0.5
                      AND l.predicted_lang <> 'unknown') AS c_lang,
                     (q.n_tokens >= 10 AND q.quality_score >= 0.5
                      AND l.predicted_lang <> 'unknown' AND k.rn = 1) AS c_exact,
                     (q.n_tokens >= 10 AND q.quality_score >= 0.5
                      AND l.predicted_lang <> 'unknown' AND k.rn = 1
                      AND q.doc_id NOT IN (SELECT doc_b FROM dropped)) AS c_near
              FROM qual q
              JOIN lang l ON q.doc_id = l.doc_id
              JOIN keeper k ON q.doc_id = k.doc_id)
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'total' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM conds
    UNION ALL SELECT 1, 'length_ok', CAST(coalesce(sum(CASE WHEN c_len THEN 1 ELSE 0 END), 0) AS BIGINT) FROM conds
    UNION ALL SELECT 2, 'quality_ok', CAST(coalesce(sum(CASE WHEN c_q THEN 1 ELSE 0 END), 0) AS BIGINT) FROM conds
    UNION ALL SELECT 3, 'lang_known', CAST(coalesce(sum(CASE WHEN c_lang THEN 1 ELSE 0 END), 0) AS BIGINT) FROM conds
    UNION ALL SELECT 4, 'exact_unique', CAST(coalesce(sum(CASE WHEN c_exact THEN 1 ELSE 0 END), 0) AS BIGINT) FROM conds
    UNION ALL SELECT 5, 'near_dup_survivor', CAST(coalesce(sum(CASE WHEN c_near THEN 1 ELSE 0 END), 0) AS BIGINT) FROM conds
""".format(shingles=_SHINGLES_CTE, lexicon=_lexicon_values(), stopwords=_stopword_list())

# operators/text_analysis.py::repetition_ratio — word/bigram duplicate
# fractions; DuckDB builds bigrams with a 1-based range lambda, Spark
# with transform(sequence(...)) — identical adjacency semantics.
_ORACLES["repetition_ratio"] = r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    b AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
                    ELSE [] END AS bigrams
        FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_words,
           round(CASE WHEN len(toks) > 0
                      THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                      ELSE 0.0 END, 6) AS word_rep_ratio,
           CAST(len(bigrams) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
           round(CASE WHEN len(bigrams) > 0
                      THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
                      ELSE 0.0 END, 6) AS bigram_rep_ratio
    FROM b
"""

# operators/text_analysis.py::cross_source_overlap — source-pair
# Jaccard over DISTINCT per-source 3-shingle vocabularies.
_ORACLES["cross_source_overlap"] = r"""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) AS pos,
               doc_id
        FROM documents
    ),
    sh0 AS (
        SELECT source,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    shn AS (SELECT DISTINCT source, shingle FROM sh0 WHERE shingle IS NOT NULL),
    sizes AS (SELECT source, count(*) AS n_sh FROM shn GROUP BY source),
    common AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON source_a = sa.source
    JOIN sizes sb ON source_b = sb.source
"""

# operators/corpus.py::balanced_mixing_sample — ceil(sqrt(n)) docs per
# source, exact-k selection by md5(doc_id) rank.
_ORACLES["balanced_mixing_sample"] = """
    WITH quotas AS (
        SELECT source, count(*) AS n_source_docs,
               CAST(ceil(sqrt(count(*))) AS BIGINT) AS quota
        FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT r.source, r.doc_id, q.n_source_docs, q.quota
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.rk <= q.quota
"""


# operators/text_analysis.py::vocab_growth — per-source type/token curve.
_ORACLES["vocab_growth"] = r"""
    WITH words AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '')) AS word
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT word) AS BIGINT) AS n_types,
           round(CAST(count(DISTINCT word) AS DOUBLE) / count(*), 6) AS type_token_ratio
    FROM words
    GROUP BY source
"""

# operators/text_analysis.py::source_doc_stats — per-source length
# profile; quantile_cont == Spark's interpolated percentile().
_ORACLES["source_doc_stats"] = r"""
    WITH sized AS (
        SELECT source, n_chars,
               len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS n_toks
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           round(avg(n_toks), 6) AS avg_tokens,
           round(quantile_cont(n_toks, 0.5), 6) AS median_tokens
    FROM sized
    GROUP BY source
"""

# operators/graph.py::near_dup_triangles — exactly-once triangle
# enumeration over the canonical (doc_a < doc_b) near-dup edges; the
# edge set is the ngram_jaccard_pairs oracle re-used as a CTE.
_ORACLES["near_dup_triangles"] = f"""
    WITH edges AS ({_ORACLES["ngram_jaccard_pairs"]})
    SELECT ab.doc_a, ab.doc_b, bc.doc_b AS doc_c
    FROM edges ab
    JOIN edges bc ON ab.doc_b = bc.doc_a
    JOIN edges ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
"""


# operators/windows.py::trailing_hour_value — event-time RANGE frame
# over integer epoch seconds (identical inclusive-bound semantics in
# both engines; both sides compute floor-of-epoch explicitly).
_ORACLES["trailing_hour_value"] = """
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           round(sum(value) OVER w, 6) AS trailing_sum,
           CAST(count(*) OVER w AS BIGINT) AS trailing_n
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
"""


# operators/analytics.py::event_value_hmean — GROUPED_AGG pandas UDAF;
# round(6) absorbs float fold-order differences between engines. Both
# sides restrict to value > 0: harmonic mean is undefined at 0 and
# engine inf/NULL semantics diverge outside the positive domain.
_ORACLES["event_value_hmean"] = """
    SELECT event_type,
           round(count(*) / sum(1.0 / value), 6) AS harmonic_mean_value,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE value > 0
    GROUP BY event_type
"""


# operators/graph.py::near_dup_reachability — identical RECURSIVE CTE
# over the ngram-pairs edge set (DuckDB shares the WITH RECURSIVE
# semantics: UNION ALL recursion, depth-bounded).
_ORACLES["near_dup_reachability"] = f"""
    WITH RECURSIVE edges AS ({_ORACLES["ngram_jaccard_pairs"]}),
    reach(doc, depth) AS (
      SELECT (SELECT min(doc_a) FROM edges) AS doc, 0 AS depth
      UNION ALL
      SELECT CASE WHEN e.doc_a = r.doc THEN e.doc_b ELSE e.doc_a END AS doc,
             r.depth + 1 AS depth
      FROM reach r
      JOIN edges e ON r.doc = e.doc_a OR r.doc = e.doc_b
      WHERE r.depth < 3
    )
    SELECT doc AS doc_id, CAST(min(depth) AS BIGINT) AS min_depth
    FROM reach
    GROUP BY doc
"""


# operators/text_analysis.py::bigram_counts — same letters-only
# tokenizer as wc; lateral index walk == Spark's zip_with over two
# shifted slices; full ORDER BY (cnt DESC, bigram) makes the LIMIT
# deterministic on both engines.
_ORACLES["bigram_counts"] = r"""
    WITH toks AS (
        SELECT list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '') AS t
        FROM documents
    )
    , idx AS (
        SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks
        WHERE len(t) >= 2
    )
    SELECT t[i] || ' ' || t[i + 1] AS bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM idx
    GROUP BY 1
    ORDER BY cnt DESC, bigram ASC
    LIMIT 50
"""


# operators/corpus.py::deterministic_doc_sample — exact 64-bit integer
# arithmetic (Knuth multiplicative hash mod 1000) is engine-portable;
# both sides reduce mod 2^31 first so the product can never overflow.
# Spark's pmod is always non-negative while DuckDB's % follows the
# dividend's sign, so the inner mod is wrapped ((x % m + m) % m) to
# match pmod for negative doc_id; the product is then non-negative and
# the outer % needs no wrap.
_ORACLES["deterministic_doc_sample"] = """
    SELECT doc_id, source, lang, n_chars,
           (((doc_id % 2147483648 + 2147483648) % 2147483648)
            * 2654435761) % 1000 AS sample_bucket
    FROM documents
    WHERE (((doc_id % 2147483648 + 2147483648) % 2147483648)
           * 2654435761) % 1000 < 100
"""


# operators/analytics.py::cumulative_active_users — per-user min day,
# per-day rollup, then a running sum over the (bounded) day axis.
_ORACLES["cumulative_active_users"] = """
    WITH first_days AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
        FROM first_days GROUP BY first_day
    )
    SELECT strftime(first_day, '%Y-%m-%d') AS day,
           new_users,
           CAST(sum(new_users) OVER (
               ORDER BY first_day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM daily
"""


# operators/windows.py::event_gap_stats — lag over (user, ts, event_id);
# gaps summed as exact integer micros, divided once (no fold-order
# drift); both engines' `/` on BIGINTs yields double.
_ORACLES["event_gap_stats"] = """
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(sum(gap_us) / count(*) / 1000000.0, 6) AS avg_gap_s,
           round(max(gap_us) / 1000000.0, 6) AS max_gap_s
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
"""


# operators/windows.py::props_variant_stats — VariantType extraction;
# DuckDB's native JSON path probe computes the same typed values.
_ORACLES["props_variant_stats"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(sum(k) AS BIGINT) AS sum_k
    FROM (
        SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    WHERE k IS NOT NULL
    GROUP BY event_type
"""


# streaming/events_stream.py::streaming_segment_counts — stream-static
# broadcast enrichment; availableNow drain of finite input equals the
# batch join + aggregate.
_ORACLES["streaming_segment_counts"] = """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 6) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
"""


# operators/windows.py::hopping_window_counts — width 10 min, slide
# 5 min: every event lands in exactly the two windows whose starts are
# the two 5-minute boundaries in (ts - 10 min, ts].
_ORACLES["hopping_window_counts"] = """
    WITH assigned AS (
        -- integer micros, floor-divided: epoch(ts)::BIGINT would ROUND
        -- fractional seconds and misassign boundary events
        SELECT strftime(to_timestamp((epoch_us(ts) // 300000000) * 300 - o.off * 300),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, value
        FROM events
        CROSS JOIN (VALUES (0), (1)) AS o(off)
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM assigned
    GROUP BY window_start, event_type
"""


# operators/windows.py::gap_fill_locf — dense daily grid per user,
# last-observation-carried-forward, summarized per user.
_ORACLES["gap_fill_locf"] = """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               max(value) AS day_value
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id
    ),
    filled AS (
        SELECT g.user_id, d.day_value,
               last_value(d.day_value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
               ) AS locf_value
        FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(count(day_value) AS BIGINT) AS n_observed,
           CAST(count(*) - count(day_value) AS BIGINT) AS n_filled,
           round(sum(locf_value), 4) AS sum_locf
    FROM filled
    GROUP BY user_id
"""


# operators/analytics.py::value_moment_stats — population skewness and
# excess kurtosis computed two-pass from per-group means (DuckDB's own
# skewness/kurtosis built-ins are sample-bias-corrected and would not
# match Spark's population definition).
_ORACLES["value_moment_stats"] = """
    WITH mu AS (
        SELECT event_type, avg(value) AS m FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(pow(e.value - mu.m, 3))
                 / pow(avg(pow(e.value - mu.m, 2)), 1.5), 6) AS skew,
           round(avg(pow(e.value - mu.m, 4))
                 / pow(avg(pow(e.value - mu.m, 2)), 2) - 3, 6) AS kurt
    FROM events e JOIN mu USING (event_type)
    GROUP BY e.event_type
"""


# operators/analytics.py::user_retention_cohorts — first-active-week
# cohorts × weekly activity (date_trunc('week') is Monday-start in
# both engines).
_ORACLES["user_retention_cohorts"] = """
    WITH cohorts AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    weekly AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    )
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST((w.week - c.cohort_week) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM weekly w JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
"""


# operators/text_analysis.py::sentence_stats — segmentation on runs of
# [.!?], trimmed, empties dropped; words = \s+ tokens per sentence.
_ORACLES["sentence_stats"] = r"""
    WITH sents AS (
        SELECT doc_id,
               list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                          x -> trim(x)),
                           x -> x != '') AS sents
        FROM documents
    ),
    wc AS (
        SELECT doc_id,
               list_transform(sents, s -> len(regexp_split_to_array(s, '\s+'))) AS wc
        FROM sents
        WHERE len(sents) > 0
    )
    SELECT doc_id,
           CAST(len(wc) AS BIGINT) AS n_sentences,
           round(list_sum(wc) / CAST(len(wc) AS DOUBLE), 6) AS avg_sentence_words,
           CAST(list_max(wc) AS BIGINT) AS max_sentence_words
    FROM wc
"""


# streaming/events_stream.py::streaming_hopping_counts — availableNow
# drain of the finite fixture equals the batch hopping aggregation, so
# the oracle is the batch twin's SQL verbatim.
_ORACLES["streaming_hopping_counts"] = _ORACLES["hopping_window_counts"]




# operators/analytics.py::value_ntile_deciles — NTILE(10) with the
# same deterministic tie-break ordering (value, event_id).
_ORACLES["value_ntile_deciles"] = """
    WITH bucketed AS (
        SELECT event_type, value,
               ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
                   AS decile
        FROM events
    )
    SELECT event_type, CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM bucketed
    GROUP BY event_type, decile
"""


# operators/analytics.py::orphan_events — FK referential-integrity
# audit: per type, total events and events whose user_id matches no
# customer key (one row per type even when the FK holds).
_ORACLES["orphan_events"] = """
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans
    FROM events e
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON c.c_custkey = e.user_id
    GROUP BY e.event_type
"""


# operators/text_analysis.py::lang_confusion_matrix — wraps the
# lang_id oracle verbatim as a subquery (one source of truth for the
# prediction semantics) and joins it back to the labeled column.
_ORACLES["lang_confusion_matrix"] = f"""
    SELECT d.lang AS true_lang,
           p.predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d
    JOIN ({_ORACLES["lang_id"]}) p USING (doc_id)
    GROUP BY 1, 2
"""


# operators/text_analysis.py::zipf_slope — same tokenization as wc,
# same deterministic rank (cnt desc, word asc), single-pass regr_slope.
_ORACLES["zipf_slope"] = r"""
    WITH words AS (
        SELECT source, word
        FROM (
            SELECT source,
                   unnest(regexp_split_to_array(lower(text), '[^\p{L}]+')) AS word
            FROM documents
        )
        WHERE word <> ''
    ),
    counts AS (
        SELECT source, word, count(*) AS cnt
        FROM words GROUP BY source, word
    ),
    ranked AS (
        SELECT source, cnt,
               row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word ASC) AS rk
        FROM counts
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_types,
           round(regr_slope(ln(cnt), ln(rk)), 6) + 0.0 AS slope
    FROM ranked
    GROUP BY source
"""


# operators/text_analysis.py::pii_scan — patterns shared via the
# PII_PATTERNS constant (oracle built from it, single source of truth).
from mapreduce_golang_spark.operators.text_analysis import PII_PATTERNS as _PII

_ORACLES["pii_scan"] = f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           {", ".join(
               "CAST(sum(CASE WHEN regexp_matches(text, '" + pat.replace("'", "''") + "') "
               "THEN 1 ELSE 0 END) AS BIGINT) AS n_" + name
               for name, pat in _PII.items()
           )}
    FROM documents
    GROUP BY source
"""


_ORACLES["user_conversion_funnel"] = """
    WITH s AS (SELECT user_id, min(ts) AS t1 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'click' AND e.ts > s.t1
            AND e.ts <= s.t1 + INTERVAL 24 HOUR GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
            AND e.ts <= c.t2 + INTERVAL 24 HOUR GROUP BY e.user_id)
    SELECT CAST(0 AS BIGINT) AS step_idx, 'signup' AS step, count(*) AS n_users FROM s
    UNION ALL SELECT 1, 'click_after_signup', count(*) FROM c
    UNION ALL SELECT 2, 'purchase_after_click', count(*) FROM p
"""

_ORACLES["doc_length_gini"] = """
    WITH r AS (
        SELECT source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk
        FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(2.0 * sum(rk * CAST(n_chars AS DOUBLE))
                     / (count(*) * sum(CAST(n_chars AS DOUBLE)))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM r GROUP BY source
"""

# the md5-uniform recipe is stratified_sample's (hex prefix / 16^8);
# ln(u)/w is the monotone log form of the Efraimidis-Spirakis u^(1/w)
_ORACLES["weighted_doc_sample"] = """
    WITH k AS (
        SELECT source, doc_id, n_chars,
               round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        / 4294967296.0) / n_chars, 12) AS wkey
        FROM documents
    )
    SELECT source, doc_id, n_chars, wkey, rk FROM (
        SELECT source, doc_id, n_chars, wkey,
               CAST(row_number() OVER (PARTITION BY source ORDER BY wkey DESC, doc_id)
                    AS BIGINT) AS rk
        FROM k)
    WHERE rk <= 5
"""

_ORACLES["edit_distance_pairs"] = """
    WITH d AS (
        SELECT doc_id, substr(text, 1, 16) AS pfx, length(text) AS n,
               substr(text, 1, 200) AS head
        FROM documents
    )
    SELECT doc_a, doc_b, edit_dist FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        FROM d a JOIN d b
          ON a.pfx = b.pfx AND a.doc_id < b.doc_id AND abs(a.n - b.n) <= 40)
    WHERE edit_dist <= 16
"""

_ORACLES["near_dup_clustering_coeff"] = f"""
    WITH {_NGRAM_PAIRS_SQL},
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
        GROUP BY doc_id
    ),
    tri AS (
        SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
        FROM pairs ab
        JOIN pairs bc ON ab.doc_b = bc.doc_a
        WHERE EXISTS (SELECT 1 FROM pairs ac
                      WHERE ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b)
    ),
    corners AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        GROUP BY doc_id
    )
    SELECT deg.doc_id, deg.deg,
           CAST(coalesce(corners.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN deg.deg >= 2
                      THEN 2.0 * coalesce(corners.n_triangles, 0)
                           / (deg.deg * (deg.deg - 1.0))
                      ELSE 0.0 END, 6) AS coeff
    FROM deg LEFT JOIN corners ON deg.doc_id = corners.doc_id
"""

# fixed-iteration Lloyd's k-means unrolled into chained CTEs (the same
# oracle technique as the PageRank unroll): seeds = the k lowest
# vec_ids, two centroid updates, then the final assignment — argmin on
# the 6-decimal-rounded squared distance with a lowest-cluster
# tie-break, identical to kmeans_assign's loop.
def _kmeans_oracle(auto_k: bool = False) -> str:
    # auto_k=True mirrors similarity.semdedup_auto_k: seeds = the first
    # ceil(n / SEMDEDUP_ROWS_PER_CLUSTER) vec_ids, clamped to
    # [KMEANS_K, SEMDEDUP_MAX_K] — the k choice computed from the SAME
    # measured corpus size, in SQL, so both engines pick identically.
    from mapreduce_golang_spark.operators.similarity import (
        EMBEDDING_DIM,
        KMEANS_K,
        KMEANS_UPDATES,
        SEMDEDUP_MAX_K,
        SEMDEDUP_ROWS_PER_CLUSTER,
    )

    steps = []
    for i in range(1, KMEANS_UPDATES + 2):
        steps.append(
            f"""d{i} AS (
        SELECT lf.vec_id, c.cluster,
               round(sum((lf.v - c.cv) * (lf.v - c.cv)), 6) AS dist
        FROM lf JOIN c{i - 1} c USING (dim) GROUP BY lf.vec_id, c.cluster
    ),
    a{i} AS (
        SELECT vec_id, cluster, dist FROM (
            SELECT vec_id, cluster, dist,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rk
            FROM d{i}) WHERE rk = 1
    )"""
        )
        if i <= KMEANS_UPDATES:
            steps.append(
                f"""c{i} AS (
        SELECT a.cluster, lf.dim, avg(lf.v) AS cv
        FROM lf JOIN a{i} a USING (vec_id) GROUP BY a.cluster, lf.dim
    )"""
            )
    chained = ",\n    ".join(steps)
    final = KMEANS_UPDATES + 1
    chain = f"""
    WITH lf AS (
        SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, unnest(generate_series(1, {EMBEDDING_DIM})) AS t(i)
    ),
    kp AS (
        SELECT greatest({KMEANS_K}, least({SEMDEDUP_MAX_K},
               CAST(ceil(count(*) / {SEMDEDUP_ROWS_PER_CLUSTER}.0) AS BIGINT))) AS kk
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id, srk - 1 AS cluster FROM (
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS srk
            FROM (SELECT DISTINCT vec_id FROM embeddings)
        ) WHERE srk <= {{k_limit}}
    ),
    c0 AS (SELECT s.cluster, lf.dim, lf.v AS cv FROM lf JOIN seeds s USING (vec_id)),
    {chained}"""
    chain = chain.format(
        k_limit="(SELECT kk FROM kp)" if auto_k else str(KMEANS_K)
    )
    return chain, final


def _kmeans_clusters_oracle() -> str:
    chain, final = _kmeans_oracle()
    return f"""{chain}
    SELECT vec_id, cluster, round(dist, 4) AS dist FROM a{final}
    """


def _kmeans_silhouette_oracle() -> str:
    # operators/similarity.py::kmeans_silhouette — same fitted chain;
    # a = own-centroid distance (the a{final} assignment), b = min
    # distance to the OTHER centroids out of d{final}; both at the
    # shared round-6 squared grain before sqrt.
    chain, final = _kmeans_oracle()
    return f"""{chain},
    own AS (SELECT vec_id, cluster, dist AS own2 FROM a{final}),
    oth AS (
        SELECT d.vec_id, min(d.dist) AS other2
        FROM d{final} d JOIN own o ON d.vec_id = o.vec_id AND d.cluster <> o.cluster
        GROUP BY d.vec_id
    ),
    sil AS (
        SELECT o.cluster,
               CASE WHEN greatest(sqrt(own2), sqrt(other2)) > 0
                    THEN (sqrt(other2) - sqrt(own2)) / greatest(sqrt(own2), sqrt(other2))
                    ELSE 0.0 END AS s
        FROM own o JOIN oth USING (vec_id)
    )
    SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(s), 6) AS mean_silhouette,
           round(min(s), 6) AS min_silhouette
    FROM sil GROUP BY cluster
    """


_ORACLES["kmeans_clusters"] = _kmeans_clusters_oracle()
_ORACLES["kmeans_silhouette"] = _kmeans_silhouette_oracle()


# operators/text_analysis.py::duplicate_block_fraction — non-overlapping
# 10-token blocks on lowercased letters-only tokens; a block instance is
# duplicated when its text occurs in ≥ 2 distinct docs.
_ORACLES["block_dedup_fraction"] = r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    b AS (SELECT doc_id, CAST(len(toks) // 10 AS INTEGER) AS nb, toks FROM t WHERE len(toks) >= 10),
    blocks AS (
        SELECT doc_id,
               unnest(list_transform(range(1, nb + 1),
                      i -> array_to_string(toks[CAST((i - 1) * 10 + 1 AS INTEGER):CAST(i * 10 AS INTEGER)], ' '))) AS blk
        FROM b
    ),
    dfreq AS (SELECT blk, count(DISTINCT doc_id) AS dfd FROM blocks GROUP BY blk),
    per AS (
        SELECT doc_id, count(*) AS n_blocks,
               sum(CASE WHEN dfd >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM blocks JOIN dfreq USING (blk) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
           CAST(n_dup AS BIGINT) AS n_dup_blocks,
           round(CAST(n_dup AS DOUBLE) / n_blocks, 6) AS dup_ratio
    FROM per
"""

# operators/text_analysis.py::gopher_quality_flags — whitespace words
# (Gopher's definition), thresholds from the shared module constants.
_ORACLES["gopher_quality_flags"] = r"""
    WITH t AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               CASE WHEN len(toks) > 0
                    THEN list_sum(list_transform(toks, x -> len(x))) / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END AS mean_len,
               CASE WHEN len(toks) > 0
                    THEN len(regexp_extract_all(text, '#|\.\.\.')) / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END AS symbol_ratio,
               CASE WHEN len(toks) > 0
                    THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END AS alpha_frac,
               len(list_intersect(list_transform(toks, x -> lower(x)),
                                  ['the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'])) AS n_stop
        FROM t
    ),
    f AS (
        SELECT doc_id, n_words, mean_len, symbol_ratio, alpha_frac, n_stop,
               CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS f_wc,
               CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 1 ELSE 0 END AS f_ml,
               CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS f_sy,
               CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS f_al,
               CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS f_st
        FROM m
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(mean_len, 6) AS mean_word_len,
           round(symbol_ratio, 6) AS symbol_ratio,
           round(alpha_frac, 6) AS alpha_frac,
           CAST(n_stop AS BIGINT) AS n_distinct_stopwords,
           CAST(f_wc AS BIGINT) AS flag_word_count,
           CAST(f_ml AS BIGINT) AS flag_mean_len,
           CAST(f_sy AS BIGINT) AS flag_symbol,
           CAST(f_al AS BIGINT) AS flag_alpha,
           CAST(f_st AS BIGINT) AS flag_stopwords,
           CAST(f_wc * f_ml * f_sy * f_al * f_st AS BIGINT) AS passes
    FROM f
"""

# operators/text_analysis.py::token_pmi_pairs — totals from the
# UNFILTERED unigram/bigram counts; min_count floor on pairs only.
_ORACLES["token_pmi_pairs"] = r"""
    WITH t AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
    ba AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)])) AS pair
        FROM t WHERE len(toks) >= 2
    ),
    bc_all AS (SELECT pair, count(*) AS c_ab FROM ba GROUP BY pair),
    tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uc) AS n_u,
                   (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bc_all) AS n_b),
    sp AS (
        SELECT split_part(pair, ' ', 1) AS w1, split_part(pair, ' ', 2) AS w2, c_ab
        FROM bc_all WHERE c_ab >= 5
    )
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS n_pair,
           round(ln((c_ab / n_b) / ((ca.c / n_u) * (cb.c / n_u))), 6) AS pmi
    FROM sp
    JOIN uc ca ON ca.w = sp.w1
    JOIN uc cb ON cb.w = sp.w2
    CROSS JOIN tot
"""

# operators/text_analysis.py::bm25_top_docs — same token split, fixed
# query terms and k1/b constants from the shared module constants.
_ORACLES["bm25_top_docs"] = r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    pd AS (
        SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
               CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_0,
               CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf_1,
               CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_2
        FROM t
    ),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
               sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
               sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
               sum(CASE WHEN tf_2 > 0 THEN 1.0 ELSE 0.0 END) AS df_2
        FROM pd
    ),
    sc AS (
        SELECT doc_id,
               round(
                 ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2
                     / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
               + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2
                     / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
               + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2
                     / (tf_2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
        FROM pd CROSS JOIN st
    ),
    rk AS (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM sc
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, bm25 FROM rk WHERE rank <= 20
"""

# operators/dedup.py::overlap_containment_pairs — same capped-posting
# candidates as the Jaccard oracle; overlap coefficient normalizer.
_ORACLES["containment_pairs"] = f"""
    WITH {_SHINGLES_CTE},
    freq AS (SELECT shingle, count(*) AS df_ FROM shn GROUP BY shingle),
    posting AS (
        SELECT s.doc_id, s.shingle
        FROM shn s JOIN freq f ON s.shingle = f.shingle AND f.df_ <= 256
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN shn x ON x.doc_id = c.doc_a
        JOIN shn y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6) AS containment
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8
"""

# operators/graph.py::near_dup_degree_hist — degree over the
# symmetrized pair list (union all), then the histogram fold.
_ORACLES["near_dup_degree_hist"] = f"""
    WITH pairs AS ({_ORACLES["ngram_jaccard_pairs"]}),
    deg AS (
        SELECT doc_id, count(*) AS degree
        FROM (SELECT doc_a AS doc_id FROM pairs
              UNION ALL
              SELECT doc_b AS doc_id FROM pairs)
        GROUP BY doc_id
    )
    SELECT CAST(degree AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
"""

# operators/graph.py::dup_cluster_size_hist — component sizes from the
# transitive-closure components oracle (wrapped as a subquery), then
# the histogram fold; singletons included.
_ORACLES["dup_cluster_size_hist"] = f"""
    WITH sizes_ AS (
        SELECT component_id, count(*) AS cluster_size
        FROM ({_ORACLES["near_dup_components"]})
        GROUP BY component_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes_ GROUP BY cluster_size
"""

# operators/windows.py::markov_transitions — lag over (ts, event_id)
# per user; probability normalized within the prev_type row.
_ORACLES["markov_transitions"] = """
    WITH seq AS (
        SELECT event_type AS next_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS prob
    FROM pairs
"""


def _ewma_oracle() -> str:
    """Mirror of operators/windows.py::ewma_user_value — the SAME
    Python-computed weight doubles are embedded as CAST(... AS DOUBLE)
    literals so both engines fold the identical linear combination."""
    from mapreduce_golang_spark.operators.windows import EWMA_ALPHA, EWMA_HORIZON

    wts = [EWMA_ALPHA * (1.0 - EWMA_ALPHA) ** j for j in range(EWMA_HORIZON)]
    num = " + ".join(
        f"coalesce(lag(value, {j}) OVER w, 0.0) * CAST({wt!r} AS DOUBLE)"
        for j, wt in enumerate(wts)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {j}) OVER w IS NOT NULL THEN CAST({wt!r} AS DOUBLE) ELSE 0.0 END"
        for j, wt in enumerate(wts)
    )
    return f"""
    SELECT user_id, event_id, round(value, 6) AS value,
           round(({num}) / ({den}), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


_ORACLES["ewma_user_value"] = _ewma_oracle()

# operators/windows.py::value_zscore_anomalies — strictly-preceding
# 20-row frame, stddev_samp, |rounded z| > 2 with ≥ 5 history rows.
_ORACLES["value_zscore_anomalies"] = """
    WITH w AS (
        SELECT user_id, event_id, value,
               avg(value) OVER win AS mu,
               stddev_samp(value) OVER win AS sd,
               count(value) OVER win AS n
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, round(value, 6) AS value,
           round((value - mu) / sd, 6) AS zscore
    FROM w
    WHERE n >= 5 AND sd > 0 AND abs(round((value - mu) / sd, 6)) > 2.0
"""

# operators/analytics.py::rfm_user_segments — NTILE(4) per dimension
# over the per-user aggregate with user_id tie-breaks; R ranks
# most-recent highest, F/M rank largest highest.
_ORACLES["rfm_user_segments"] = """
    WITH pu AS (
        SELECT user_id, max(ts) AS last_ts,
               count(*) AS frequency, round(sum(value), 6) AS monetary
        FROM events GROUP BY user_id
    ),
    mx AS (SELECT max(ts) AS max_ts FROM events),
    base AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(last_ts AS DATE), CAST(max_ts AS DATE)) AS BIGINT)
                   AS recency_days,
               CAST(frequency AS BIGINT) AS frequency, monetary
        FROM pu CROSS JOIN mx
    ),
    rk AS (
        SELECT user_id, recency_days, frequency, monetary,
               CAST(ntile(4) OVER (ORDER BY recency_days DESC, user_id) AS BIGINT) AS r,
               CAST(ntile(4) OVER (ORDER BY frequency ASC, user_id) AS BIGINT) AS f,
               CAST(ntile(4) OVER (ORDER BY monetary ASC, user_id) AS BIGINT) AS m
        FROM base
    )
    SELECT user_id, recency_days, frequency, monetary, r, f, m,
           CAST(r * 100 + f * 10 + m AS BIGINT) AS segment
    FROM rk
"""

# __spark_entry__::_scd2_pit — dim rebuilt inline (same derivation as
# the scd2_customers oracle, switch ts inside the events range), PIT
# join = key equi-join + interval filter, era split at the switch.
_ORACLES["scd2_point_in_time"] = f"""
    WITH dim AS (
        SELECT c_custkey, c_acctbal, c_mktsegment,
               TIMESTAMP '1995-01-01 00:00:00' AS vf,
               TIMESTAMP '9999-12-31 00:00:00' AS vt
        FROM customer WHERE c_mktsegment <> 'BUILDING'
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment,
               TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '{_PIT_SWITCH_TS}'
        FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey, c_acctbal * 2, c_mktsegment,
               TIMESTAMP '{_PIT_SWITCH_TS}', TIMESTAMP '9999-12-31 00:00:00'
        FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT d.c_mktsegment,
           CAST(CASE WHEN e.ts < TIMESTAMP '{_PIT_SWITCH_TS}' THEN 1 ELSE 0 END AS BIGINT)
               AS era_pre,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(d.c_acctbal), 2) AS sum_acctbal
    FROM events e
    JOIN dim d ON e.user_id = d.c_custkey AND e.ts >= d.vf AND e.ts < d.vt
    GROUP BY 1, 2
"""

# operators/similarity.py::centroid_outliers — element-wise mean
# centroid per label, cosine via dot/norms, bottom-3 per label on the
# ROUNDED cosine with vec_id tie-break.
_ORACLES["centroid_outliers"] = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    ex AS (
        SELECT label, unnest(emb) AS x, generate_subscripts(emb, 1) AS pos FROM e
    ),
    cent AS (SELECT label, pos, avg(x) AS c FROM ex GROUP BY label, pos),
    carr AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
    sc AS (
        -- zero-norm guard mirrors the operator: 0.0, never NULL/NaN
        SELECT e.label, e.vec_id,
               round(CASE WHEN list_dot_product(emb, emb) > 0
                           AND list_dot_product(centroid, centroid) > 0
                          THEN list_dot_product(emb, centroid)
                               / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(centroid, centroid)))
                          ELSE 0.0 END,
                     6) AS cos_centroid
        FROM e JOIN carr USING (label)
    ),
    rk AS (
        SELECT label, vec_id, cos_centroid,
               row_number() OVER (PARTITION BY label ORDER BY cos_centroid ASC, vec_id) AS rank
        FROM sc
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id, cos_centroid,
           CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= 3
"""


# operators/similarity.py::ann_recall_report — recall of each ANN
# variant vs brute force; wraps the three existing ANN oracles so the
# compared rankings share one source of truth.
_ORACLES["ann_recall_report"] = f"""
    WITH bf AS ({_ORACLES["ann_topk_bruteforce"]}),
    ivf AS ({_ORACLES["ann_ivf_topk"]}),
    lsh AS ({_ORACLES["ann_lsh_topk"]}),
    bfc AS (SELECT query_id, count(*) AS n_bf FROM bf GROUP BY query_id),
    hit_i AS (
        SELECT b.query_id, count(*) AS n_hit
        FROM bf b JOIN ivf a USING (query_id, neighbor_id) GROUP BY b.query_id
    ),
    hit_l AS (
        SELECT b.query_id, count(*) AS n_hit
        FROM bf b JOIN lsh a USING (query_id, neighbor_id) GROUP BY b.query_id
    ),
    rec_i AS (
        SELECT bfc.query_id, coalesce(n_hit, 0) / CAST(n_bf AS DOUBLE) AS recall
        FROM bfc LEFT JOIN hit_i USING (query_id)
    ),
    rec_l AS (
        SELECT bfc.query_id, coalesce(n_hit, 0) / CAST(n_bf AS DOUBLE) AS recall
        FROM bfc LEFT JOIN hit_l USING (query_id)
    )
    SELECT 'ivf' AS method, CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall), 6) AS avg_recall, round(min(recall), 6) AS min_recall
    FROM rec_i HAVING count(*) > 0
    UNION ALL
    SELECT 'lsh' AS method, CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall), 6) AS avg_recall, round(min(recall), 6) AS min_recall
    FROM rec_l HAVING count(*) > 0
"""

# operators/dedup.py::minhash_estimate_error — same seeds/bands/cand
# derivation as the minhash_lsh_pairs oracle; agreement fraction vs
# exact full-set Jaccard, NO threshold (calibration needs the range).
_ORACLES["minhash_estimate_error"] = f"""
    WITH {_SHINGLES_CTE},
    seeds AS (SELECT unnest(range(12)) AS seed),
    mh AS (
        SELECT doc_id, seed,
               min(substr(md5(CAST(seed // 4 AS VARCHAR) || '#' || shingle),
                          (seed % 4) * 8 + 1, 8)) AS mh
        FROM shn CROSS JOIN seeds
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 3 AS band, string_agg(mh, '|' ORDER BY seed) AS sig
        FROM mh GROUP BY doc_id, seed // 3
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    agree AS (
        SELECT c.doc_a, c.doc_b,
               sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS n_agree
        FROM cand c
        JOIN mh x ON x.doc_id = c.doc_a
        JOIN mh y ON y.doc_id = c.doc_b AND y.seed = x.seed
        GROUP BY c.doc_a, c.doc_b
    ),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN shn x ON x.doc_id = c.doc_a
        JOIN shn y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT a.doc_a, a.doc_b,
           round(CAST(n_agree AS DOUBLE) / 12.0, 6) AS est_jaccard,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard,
           round(abs(CAST(n_agree AS DOUBLE) / 12.0
                     - CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)), 6) AS abs_err
    FROM agree a
    JOIN common c ON a.doc_a = c.doc_a AND a.doc_b = c.doc_b
    JOIN sizes sa ON a.doc_a = sa.doc_id
    JOIN sizes sb ON a.doc_b = sb.doc_id
"""


# operators/windows.py::user_path_trigrams — two lags on one user
# window; '>'-joined 3-step paths, deterministic top-25.
_ORACLES["user_path_trigrams"] = """
    WITH seq AS (
        SELECT event_type,
               lag(event_type, 1) OVER w AS p1,
               lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 || '>' || p1 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path ASC
    LIMIT 25
"""

# operators/similarity.py::label_znorm_check — per-(label, pos)
# population mean/std, z-scores re-aggregated per vector; round(4)
# absorbs numpy-vs-SQL summation-order drift.
_ORACLES["label_znorm_check"] = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    ex AS (
        SELECT label, vec_id, unnest(emb) AS x, generate_subscripts(emb, 1) AS pos
        FROM e
    ),
    stats AS (
        SELECT label, pos, avg(x) AS mu, stddev_pop(x) AS sd
        FROM ex GROUP BY label, pos
    ),
    z AS (
        SELECT ex.label, ex.vec_id,
               CASE WHEN sd > 0 THEN (x - mu) / sd ELSE 0.0 END AS z
        FROM ex JOIN stats USING (label, pos)
    )
    SELECT CAST(label AS BIGINT) AS label, vec_id,
           round(avg(abs(z)), 4) AS mean_abs,
           round(sqrt(sum(z * z)), 4) AS l2
    FROM z GROUP BY label, vec_id
"""


# operators/text_analysis.py::char_trigram_logprob — add-0.5-smoothed
# corpus char-trigram NLL per doc; totals over the UNsmoothed counts.
_ORACLES["char_trigram_logprob"] = """
    WITH dt AS (
        SELECT doc_id, tg, count(*) AS c_doc
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 3))) AS tg
            FROM documents
        )
        GROUP BY doc_id, tg
    ),
    freq AS (SELECT tg, sum(c_doc) AS c_corpus FROM dt GROUP BY tg),
    tot AS (SELECT CAST(sum(c_corpus) AS DOUBLE) AS n_total,
                   CAST(count(*) AS DOUBLE) AS n_vocab
            FROM freq)
    SELECT doc_id,
           CAST(sum(c_doc) AS BIGINT) AS n_trigrams,
           round(sum(c_doc * (-ln((c_corpus + 0.5) / (n_total + 0.5 * n_vocab))))
                 / sum(c_doc), 6) AS avg_nll
    FROM dt JOIN freq USING (tg) CROSS JOIN tot
    GROUP BY doc_id
"""

# operators/text_analysis.py::source_lang_entropy — Shannon entropy of
# the per-source language mix, natural log.
_ORACLES["source_lang_entropy"] = """
    WITH counts AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang),
    p AS (
        SELECT source, c,
               c / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE) AS pr
        FROM counts
    )
    SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(-sum(pr * ln(pr)), 6) AS entropy
    FROM p GROUP BY source
"""


# operators/mixing.py::dsir_importance_weights — hashed-unigram DSIR
# log-ratio scoring of the raw split against the src0/src1 target
# (B=512, k=0.5 ⇒ kB=256). Bucket = md5-prefix int mod B, the same
# engine-portable hash idiom as minhash.
_ORACLES["dsir_importance_weights"] = r"""
    WITH toks AS (
        SELECT doc_id, source, source IN ('src0', 'src1') AS is_t,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 512 AS b
        FROM (
            SELECT doc_id, source,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                          x -> x <> '')) AS tok
            FROM documents
        )
    ),
    stats AS (
        SELECT b,
               sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t,
               sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS c_r
        FROM toks GROUP BY b
    ),
    tot AS (SELECT CAST(sum(c_t) AS DOUBLE) AS t_tot,
                   CAST(sum(c_r) AS DOUBLE) AS r_tot FROM stats),
    lam AS (
        SELECT b, ln((c_t + 0.5) / (t_tot + 256.0)) - ln((c_r + 0.5) / (r_tot + 256.0)) AS lam
        FROM stats CROSS JOIN tot
    )
    SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_feats,
           round(sum(lam), 6) AS dsir_logweight
    FROM toks JOIN lam USING (b)
    WHERE NOT is_t
    GROUP BY doc_id, source
"""

# operators/mixing.py::quality_classifier_scores — deterministic
# hashed-feature linear scorer; both engines fold the token array
# left-to-right, so the sum is bit-identical, not just round(6)-close.
_ORACLES["quality_classifier_scores"] = r"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
               list_sum(list_transform(toks, tok ->
                   ((((CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256)
                      * 2654435761) % 2001) - 1000) / 1000.0)) AS zsum
        FROM t
        WHERE len(toks) > 0
    )
    SELECT doc_id, source, n_tokens,
           round(1.0 / (1.0 + exp(-(zsum / n_tokens))), 6) AS quality_score,
           (1.0 / (1.0 + exp(-(zsum / n_tokens)))) >= 0.5 AS is_quality
    FROM s
"""

# operators/mixing.py::source_mixing_weights — dedup-aware α=0.7
# temperature mixing table.
_ORACLES["source_mixing_weights"] = """
    WITH per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT) AS n_unique
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(pow(CAST(n_unique AS DOUBLE), CAST(0.7 AS DOUBLE))) AS wsum,
                   CAST(sum(n_unique) AS DOUBLE) AS u_total
            FROM per_src)
    SELECT source, n_docs, n_unique,
           round(pow(CAST(n_unique AS DOUBLE), CAST(0.7 AS DOUBLE)) / wsum, 6) AS mix_weight,
           round(pow(CAST(n_unique AS DOUBLE), CAST(0.7 AS DOUBLE)) / wsum
                 * u_total / n_unique, 6) AS effective_epochs
    FROM per_src CROSS JOIN tot
"""

# operators/mixing.py::ccnet_perplexity_buckets — trigram-NLL scores
# (same derivation as char_trigram_logprob, rounded to 6 BEFORE the
# cuts in both engines) bucketed at per-language interpolated 33/66
# percentiles.
_ORACLES["ccnet_perplexity_buckets"] = """
    WITH dt AS (
        SELECT doc_id, tg, count(*) AS c_doc
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 3))) AS tg
            FROM documents
        )
        GROUP BY doc_id, tg
    ),
    freq AS (SELECT tg, sum(c_doc) AS c_corpus FROM dt GROUP BY tg),
    tot AS (SELECT CAST(sum(c_corpus) AS DOUBLE) AS n_total,
                   CAST(count(*) AS DOUBLE) AS n_vocab
            FROM freq),
    nll AS (
        SELECT doc_id,
               round(sum(c_doc * (-ln((c_corpus + 0.5) / (n_total + 0.5 * n_vocab))))
                     / sum(c_doc), 6) AS avg_nll
        FROM dt JOIN freq USING (tg) CROSS JOIN tot
        GROUP BY doc_id
    ),
    scored AS (
        SELECT d.lang, nll.avg_nll
        FROM documents d JOIN nll ON d.doc_id = nll.doc_id
    ),
    cuts AS (
        SELECT lang,
               quantile_cont(avg_nll, CAST(1.0 AS DOUBLE) / 3.0) AS p33,
               quantile_cont(avg_nll, CAST(2.0 AS DOUBLE) / 3.0) AS p66
        FROM scored GROUP BY lang
    )
    SELECT s.lang,
           CASE WHEN s.avg_nll <= c.p33 THEN 'head'
                WHEN s.avg_nll <= c.p66 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(s.avg_nll), 6) AS mean_nll
    FROM scored s JOIN cuts c USING (lang)
    GROUP BY 1, 2
"""

# operators/text_analysis.py::eval_decontamination — per-eval-doc
# argmax train-overlap with the train-side posting cap (256); ties
# toward the smallest train doc_id.
_ORACLES["eval_decontamination"] = r"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) AS pos
        FROM documents
    ),
    shingled AS (
        SELECT DISTINCT doc_id, source,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT doc_id, source, md5(shingle) AS h
        FROM shingled
        WHERE shingle IS NOT NULL
          AND len(string_split(shingle, ' ')) = 3
    ),
    ev AS (SELECT doc_id, h FROM sh WHERE source IN ('src18', 'src19')),
    tr AS (SELECT doc_id AS train_doc, h FROM sh WHERE source NOT IN ('src18', 'src19')),
    cold AS (SELECT h FROM tr GROUP BY h HAVING count(*) <= 256),
    trc AS (SELECT train_doc, h FROM tr WHERE h IN (SELECT h FROM cold)),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM ev GROUP BY doc_id),
    pc AS (
        SELECT ev.doc_id, trc.train_doc, count(*) AS n_common
        FROM ev JOIN trc USING (h)
        GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, train_doc, n_common,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_common DESC, train_doc ASC) AS rn
        FROM pc
    )
    SELECT t.doc_id, t.n_shingles,
           b.train_doc AS best_train_doc,
           round(coalesce(CAST(b.n_common AS DOUBLE) / t.n_shingles, 0.0), 6) AS max_overlap,
           coalesce(CAST(b.n_common AS DOUBLE) / t.n_shingles, 0.0) >= 0.8 AS contaminated
    FROM totals t LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON t.doc_id = b.doc_id
"""

# operators/similarity.py::embedding_pca_topvar — covariance spectrum +
# 8 unrolled power iterations. comp/cov are AS MATERIALIZED: cov is
# referenced by every iteration and DuckDB would otherwise inline the
# whole 2M-row second-moment join once per reference (the fd-exhaustion
# failure mode documented for the pagerank oracles).
def _pca_power_iter_sql(n_iters: int = 8) -> str:
    steps = []
    prev = "v0"
    for t in range(1, n_iters + 1):
        steps.append(f"""
    w{t} AS MATERIALIZED (
        SELECT c.i, sum(c.c * v.v) AS w
        FROM cov c JOIN {prev} v ON c.j = v.i
        GROUP BY c.i
    ),
    v{t} AS (SELECT i, w / sqrt(sum(w * w) OVER ()) AS v FROM w{t})""")
        prev = f"v{t}"
    return ",".join(steps), prev


_PCA_ITERS_SQL, _PCA_FINAL_V = _pca_power_iter_sql(8)

_ORACLES["embedding_pca_topvar"] = f"""
    WITH comp AS MATERIALIZED (
        SELECT vec_id,
               unnest(CAST(embedding AS DOUBLE[])) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    s AS (
        SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s, count(*) AS n
        FROM comp a JOIN comp b ON a.vec_id = b.vec_id
        GROUP BY 1, 2
    ),
    mu AS (SELECT i, avg(x) AS mu FROM comp GROUP BY i),
    cov AS MATERIALIZED (
        SELECT s.i, s.j,
               (s.s - s.n * mi.mu * mj.mu) / (s.n - 1) AS c, s.n AS n
        FROM s JOIN mu mi ON s.i = mi.i JOIN mu mj ON s.j = mj.i
    ),
    v0 AS (
        SELECT i, 1.0 / sqrt(count(*) OVER ()) AS v
        FROM (SELECT DISTINCT i FROM cov)
    ),{_PCA_ITERS_SQL}
    SELECT n_vectors, dim, trace, top_eigenvalue,
           round(top_eigenvalue / trace, 6) AS explained_ratio
    FROM (
        SELECT CAST(max(cov.n) AS BIGINT) AS n_vectors,
               CAST(count(DISTINCT cov.i) AS BIGINT) AS dim,
               round(sum(CASE WHEN cov.i = cov.j THEN cov.c ELSE 0 END), 6) AS trace,
               round(sum(cov.c * vi.v * vj.v), 6) AS top_eigenvalue
        FROM cov
        JOIN {_PCA_FINAL_V} vi ON cov.i = vi.i
        JOIN {_PCA_FINAL_V} vj ON cov.j = vj.i
    )
    WHERE n_vectors IS NOT NULL
"""

# operators/mixing.py::quality_weighted_sample — ES exponential ranks
# keyed by the ROUNDED classifier score (round-before-downstream).
_ORACLES["quality_weighted_sample"] = r"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
               list_sum(list_transform(toks, tok ->
                   ((((CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256)
                      * 2654435761) % 2001) - 1000) / 1000.0)) AS zsum
        FROM t
        WHERE len(toks) > 0
    ),
    q AS (
        SELECT doc_id, source,
               round(1.0 / (1.0 + exp(-(zsum / n_tokens))), 6) AS quality_score
        FROM s
    ),
    k AS (
        SELECT source, doc_id, quality_score,
               round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        / 4294967296.0) / quality_score, 12) AS wkey
        FROM q
    )
    SELECT source, doc_id, quality_score, wkey, rk FROM (
        SELECT source, doc_id, quality_score, wkey,
               CAST(row_number() OVER (PARTITION BY source ORDER BY wkey DESC, doc_id)
                    AS BIGINT) AS rk
        FROM k)
    WHERE rk <= 5
"""

# operators/corpus.py::packing_efficiency_report — per-source bin audit
# over pack_sequences' greedy bins (budget 2000).
_ORACLES["packing_efficiency_report"] = r"""
    WITH sized AS (
        SELECT source, doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    binned AS (
        SELECT source, n_tokens,
               (sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens) // 2000 AS bin
        FROM sized
    ),
    packed AS (
        SELECT source, bin, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM binned GROUP BY source, bin
    ),
    per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(total_tokens) AS BIGINT) AS total_tokens
        FROM packed GROUP BY source
    )
    SELECT source, n_bins,
           CAST(ceil(total_tokens / CAST(2000 AS DOUBLE)) AS BIGINT) AS lb_bins,
           total_tokens,
           round(total_tokens / CAST(n_bins * 2000 AS DOUBLE), 6) AS fill_ratio,
           round(1.0 - total_tokens / CAST(n_bins * 2000 AS DOUBLE), 6) AS waste_frac
    FROM per_src
"""

# operators/text_analysis.py::common_sentence_filter — sentence-grain
# boilerplate report (distinct per doc, corpus doc-freq ≥ 3).
_ORACLES["common_sentence_filter"] = r"""
    WITH sents AS (
        SELECT DISTINCT doc_id, md5(trim(s)) AS h
        FROM (
            SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s
            FROM documents
        )
        WHERE trim(s) <> ''
    ),
    freq AS (SELECT h, count(*) AS df_h FROM sents GROUP BY h),
    common AS (SELECT h FROM freq WHERE df_h >= 3),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences FROM sents GROUP BY doc_id),
    hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boilerplate
        FROM sents WHERE h IN (SELECT h FROM common) GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_sentences,
           CAST(coalesce(hits.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
           round(coalesce(hits.n_boilerplate, 0) / t.n_sentences, 6) AS boilerplate_frac
    FROM totals t LEFT JOIN hits ON t.doc_id = hits.doc_id
"""

# streaming/events_stream.py::streaming_word_counts — the reference's
# W1 wc drained from a documents file stream; on finite input it equals
# the batch word count, so it shares wc's oracle verbatim.
_ORACLES["streaming_word_counts"] = _ORACLES["wc"]

# operators/text_analysis.py::bpe_merge_candidates — one BPE training
# round's pair-count table (word-frequency-weighted adjacent chars).
_ORACLES["bpe_merge_candidates"] = r"""
    WITH wf AS (
        SELECT tok, count(*) AS wc
        FROM (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                   x -> x <> '')) AS tok
            FROM documents
        )
        GROUP BY tok
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(tok)),
                      i -> substr(tok, CAST(i AS INTEGER), 1) || ' ' ||
                           substr(tok, CAST(i + 1 AS INTEGER), 1))) AS pair,
               wc
        FROM wf WHERE length(tok) >= 2
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
"""

# operators/mixing.py::corpus_top_p_selection — per-source quality-mass
# prefix (p=0.5); the window cumsum folds in one defined order in both
# engines, so the inclusion predicate is bit-identical.
_ORACLES["corpus_top_p_selection"] = r"""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    s AS (
        SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
               list_sum(list_transform(toks, tok ->
                   ((((CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256)
                      * 2654435761) % 2001) - 1000) / 1000.0)) AS zsum
        FROM t
        WHERE len(toks) > 0
    ),
    q AS (
        SELECT doc_id, source,
               round(1.0 / (1.0 + exp(-(zsum / n_tokens))), 6) AS quality_score
        FROM s
    ),
    c AS (
        SELECT source, doc_id, quality_score,
               sum(quality_score) OVER (PARTITION BY source
                                        ORDER BY quality_score DESC, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum,
               sum(quality_score) OVER (PARTITION BY source) AS tot
        FROM q
    )
    SELECT source, doc_id, quality_score, round(cum, 6) AS cum_mass
    FROM c
    WHERE cum - quality_score < CAST(0.5 AS DOUBLE) * tot
"""

# operators/similarity.py::embedding_quantization_report — int8
# symmetric quantization QA; floor(x/s + 0.5) spelled out in both
# engines so round()-mode ambiguity never enters.
_ORACLES["embedding_quantization_report"] = """
    WITH v AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
        FROM embeddings
    ),
    m AS (
        SELECT label, scale,
               CASE WHEN scale > 0 THEN
                   list_sum(list_transform(e, x ->
                       pow(x - floor(x / scale + 0.5) * scale, 2.0))) / len(e)
               ELSE 0.0 END AS mse
        FROM v
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(mse), 12) AS avg_mse,
           round(max(mse), 12) AS max_mse,
           round(avg(scale), 6) AS avg_scale
    FROM m GROUP BY label
"""

# operators/mixing.py::leakage_safe_splits — component-grain split
# assignment over the transitive-closure components oracle (subquery
# idiom as dup_cluster_size_hist); md5-prefix bucket of the component
# id string, same engine-portable idiom as the mixing scorer.
_ORACLES["leakage_safe_splits"] = f"""
    SELECT doc_id, component_id,
           CASE WHEN b < 100 THEN 'test'
                WHEN b < 200 THEN 'val'
                ELSE 'train' END AS split
    FROM (
        SELECT doc_id, component_id,
               CAST(('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000 AS b
        FROM ({_ORACLES["near_dup_components"]})
    )
"""

# operators/mixing.py::split_leakage_audit — cross-split pair counts
# for the naive doc-hash policy vs the component policy, over the same
# near-dup pair graph.
_ORACLES["split_leakage_audit"] = f"""
    WITH RECURSIVE {_NGRAM_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u
    ),
    reach_min AS (SELECT u, min(v) AS mn FROM walk GROUP BY u),
    comp AS (
        SELECT d.doc_id, least(d.doc_id, coalesce(r.mn, d.doc_id)) AS component_id
        FROM documents d LEFT JOIN reach_min r ON d.doc_id = r.u
    ),
    comp_split AS (
        SELECT doc_id,
               CASE WHEN CAST(('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 100 THEN 'test'
                    WHEN CAST(('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 200 THEN 'val'
                    ELSE 'train' END AS split
        FROM comp
    ),
    doc_split AS (
        SELECT doc_id,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 100 THEN 'test'
                    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 200 THEN 'val'
                    ELSE 'train' END AS split
        FROM documents
    )
    SELECT 'doc_hash' AS policy,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_pairs,
           round(CASE WHEN count(*) > 0
                 THEN CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*)
                 ELSE 0.0 END, 6) AS leakage_frac
    FROM pairs p JOIN doc_split a ON p.doc_a = a.doc_id
                 JOIN doc_split b ON p.doc_b = b.doc_id
    UNION ALL
    SELECT 'component' AS policy,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross_pairs,
           round(CASE WHEN count(*) > 0
                 THEN CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*)
                 ELSE 0.0 END, 6) AS leakage_frac
    FROM pairs p JOIN comp_split a ON p.doc_a = a.doc_id
                 JOIN comp_split b ON p.doc_b = b.doc_id
"""

# operators/mixing.py::token_budget_allocation — token-grain α=0.7
# temperature allocation of a 0.5·total budget; same per-source agg +
# 1-row-total idiom as source_mixing_weights.
_ORACLES["token_budget_allocation"] = r"""
    WITH per_src AS (
        SELECT source,
               CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                            x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), CAST(0.7 AS DOUBLE))) AS wsum,
                   CAST(sum(n_tokens) AS DOUBLE) AS t_total
            FROM per_src)
    SELECT source, n_tokens,
           round(pow(CAST(n_tokens AS DOUBLE), CAST(0.7 AS DOUBLE)) / wsum, 6) AS mix_weight,
           round(pow(CAST(n_tokens AS DOUBLE), CAST(0.7 AS DOUBLE)) / wsum
                 * CAST(0.5 AS DOUBLE) * t_total, 6) AS alloc_tokens,
           round(pow(CAST(n_tokens AS DOUBLE), CAST(0.7 AS DOUBLE)) / wsum
                 * CAST(0.5 AS DOUBLE) * t_total / n_tokens, 6) AS epochs,
           (pow(CAST(n_tokens AS DOUBLE), CAST(0.7 AS DOUBLE)) / wsum
                 * CAST(0.5 AS DOUBLE) * t_total) > n_tokens AS oversampled
    FROM per_src CROSS JOIN tot
"""

# operators/mixing.py::ccnet_bucket_sample — the CCNet keep/sample/drop
# policy applied per doc: same trigram-NLL + per-lang cuts derivation
# as the bucket report, then keep head ∪ (middle ∧ md5(doc_id) mod
# 1000 < 500).
_ORACLES["ccnet_bucket_sample"] = """
    WITH dt AS (
        SELECT doc_id, tg, count(*) AS c_doc
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 3))) AS tg
            FROM documents
        )
        GROUP BY doc_id, tg
    ),
    freq AS (SELECT tg, sum(c_doc) AS c_corpus FROM dt GROUP BY tg),
    tot AS (SELECT CAST(sum(c_corpus) AS DOUBLE) AS n_total,
                   CAST(count(*) AS DOUBLE) AS n_vocab
            FROM freq),
    nll AS (
        SELECT doc_id,
               round(sum(c_doc * (-ln((c_corpus + 0.5) / (n_total + 0.5 * n_vocab))))
                     / sum(c_doc), 6) AS avg_nll
        FROM dt JOIN freq USING (tg) CROSS JOIN tot
        GROUP BY doc_id
    ),
    scored AS (
        SELECT d.doc_id, d.lang, nll.avg_nll
        FROM documents d JOIN nll ON d.doc_id = nll.doc_id
    ),
    cuts AS (
        SELECT lang,
               quantile_cont(avg_nll, CAST(1.0 AS DOUBLE) / 3.0) AS p33,
               quantile_cont(avg_nll, CAST(2.0 AS DOUBLE) / 3.0) AS p66
        FROM scored GROUP BY lang
    ),
    bucketed AS (
        SELECT s.doc_id, s.lang,
               CASE WHEN s.avg_nll <= c.p33 THEN 'head'
                    WHEN s.avg_nll <= c.p66 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM scored s JOIN cuts c USING (lang)
    )
    SELECT doc_id, lang, ppl_bucket
    FROM bucketed
    WHERE ppl_bucket = 'head'
       OR (ppl_bucket = 'middle'
           AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 500)
"""

# operators/analytics.py::event_type_cooccurrence — itemset-2 support/
# confidence/lift with basket = a user's distinct event-type set.
_ORACLES["event_type_cooccurrence"] = """
    WITH pres AS (SELECT DISTINCT user_id, event_type FROM events),
    pairs2 AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_users_both
        FROM pres a JOIN pres b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_u FROM pres GROUP BY 1),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM pres)
    SELECT type_a, type_b, n_users_both,
           round(CAST(n_users_both AS DOUBLE) / pa.n_u, 6) AS confidence_a_to_b,
           round(CAST(n_users_both AS DOUBLE) * n_users / (pa.n_u * pb.n_u), 6) AS lift
    FROM pairs2
    JOIN pt pa ON pairs2.type_a = pa.event_type
    JOIN pt pb ON pairs2.type_b = pb.event_type
    CROSS JOIN nu
"""

# operators/skew.py::join_key_skew_report — per-key cardinality profile
# of events.user_id (exact interpolated percentiles, as the operator).
_ORACLES["join_key_skew_report"] = """
    WITH per_key AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(max(n) AS BIGINT) AS max_rows,
           round(quantile_cont(n, CAST(0.5 AS DOUBLE)), 6) AS p50_rows,
           round(quantile_cont(n, CAST(0.99 AS DOUBLE)), 6) AS p99_rows,
           round(CAST(max(n) AS DOUBLE) / avg(n), 6) AS skew_factor,
           round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top1_share
    FROM per_key
"""

# operators/analytics.py::conversion_latency_stats — first purchase at
# or after first signup; latency distribution in hours (exact
# interpolated percentiles, UTC epoch arithmetic in both engines).
_ORACLES["conversion_latency_stats"] = """
    WITH su AS (
        SELECT user_id, min(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    lat AS (
        SELECT e.user_id,
               (epoch(min(e.ts)) - epoch(any_value(su.signup_ts))) / 3600.0 AS h
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
        GROUP BY e.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           round(avg(h), 6) AS avg_hours,
           round(quantile_cont(h, CAST(0.5 AS DOUBLE)), 6) AS p50_hours,
           round(quantile_cont(h, CAST(0.9 AS DOUBLE)), 6) AS p90_hours,
           round(max(h), 6) AS max_hours
    FROM lat
"""

# operators/text_analysis.py::decontaminated_corpus — the surviving
# train corpus after dropping every train doc whose cold-shingle
# overlap covers >= 0.8 of any eval doc's shingles (same derivation as
# eval_decontamination up to the per-pair counts).
_ORACLES["decontaminated_corpus"] = r"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) AS pos
        FROM documents
    ),
    shingled AS (
        SELECT DISTINCT doc_id, source,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT doc_id, source, md5(shingle) AS h
        FROM shingled
        WHERE shingle IS NOT NULL
          AND len(string_split(shingle, ' ')) = 3
    ),
    ev AS (SELECT doc_id, h FROM sh WHERE source IN ('src18', 'src19')),
    tr AS (SELECT doc_id AS train_doc, h FROM sh WHERE source NOT IN ('src18', 'src19')),
    cold AS (SELECT h FROM tr GROUP BY h HAVING count(*) <= 256),
    trc AS (SELECT train_doc, h FROM tr WHERE h IN (SELECT h FROM cold)),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM ev GROUP BY doc_id),
    convicted AS (
        SELECT DISTINCT trc.train_doc
        FROM ev JOIN trc USING (h) JOIN totals t ON ev.doc_id = t.doc_id
        GROUP BY ev.doc_id, trc.train_doc, t.n_shingles
        HAVING CAST(count(*) AS DOUBLE) / t.n_shingles >= 0.8
    )
    SELECT doc_id, source FROM documents
    WHERE source NOT IN ('src18', 'src19')
      AND doc_id NOT IN (SELECT train_doc FROM convicted)
"""

# operators/text_analysis.py::doc_length_cume_dist — within-source
# cumulative length position (ties share values; no tie-break needed).
_ORACLES["doc_length_cume_dist"] = """
    SELECT doc_id, source, n_chars,
           round(cume_dist() OVER (PARTITION BY source ORDER BY n_chars), 6) AS len_cume_dist,
           round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6) AS len_pct_rank
    FROM documents
"""

# operators/windows.py::user_first_last_events — history endpoints per
# user over the full (ts, event_id)-ordered frame.
_ORACLES["user_first_last_events"] = """
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_event,
           nth_value(event_type, 2) OVER w AS second_event,
           last_value(event_type) OVER w AS last_event,
           CAST(count(*) OVER w AS BIGINT) AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

# operators/dedup.py::component_best_representative — quality-argmax
# per near-dup component (components + scorer oracles as subqueries,
# the dup_cluster_size_hist wrapping idiom).
_ORACLES["component_best_representative"] = f"""
    WITH comp AS (SELECT * FROM ({_ORACLES["near_dup_components"]})),
    q AS (SELECT doc_id, quality_score FROM ({_ORACLES["quality_classifier_scores"]})),
    member AS (
        SELECT comp.component_id, comp.doc_id,
               coalesce(q.quality_score, CAST(0.0 AS DOUBLE)) AS quality_score
        FROM comp LEFT JOIN q USING (doc_id)
    ),
    ranked AS (
        SELECT component_id, doc_id, quality_score,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY quality_score DESC, doc_id ASC) AS rn
        FROM member
    )
    SELECT component_id, doc_id, quality_score FROM ranked WHERE rn = 1
"""

# operators/mixing.py::source_token_js_divergence — JS over 512 hashed
# buckets, source vs rest, densified grid (chi2's convention).
_ORACLES["source_token_js_divergence"] = r"""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'), x -> x <> '')) AS tok
        FROM documents
    ),
    sb AS (
        SELECT source,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 512 AS b,
               CAST(count(*) AS DOUBLE) AS c_sb
        FROM tok GROUP BY 1, 2
    ),
    per_b AS (SELECT b, sum(c_sb) AS c_b FROM sb GROUP BY b),
    per_s AS (SELECT source, sum(c_sb) AS c_s FROM sb GROUP BY source),
    tot AS (SELECT sum(c_b) AS c_tot FROM per_b),
    dense AS (
        SELECT g.source, g.c_s, g.c_tot - g.c_s AS c_rest,
               coalesce(sb.c_sb, CAST(0.0 AS DOUBLE)) AS p_cnt,
               g.c_b - coalesce(sb.c_sb, CAST(0.0 AS DOUBLE)) AS r_cnt
        FROM (SELECT s.source, s.c_s, p.b, p.c_b, t.c_tot
              FROM per_s s CROSS JOIN per_b p CROSS JOIN tot t) g
        LEFT JOIN sb ON g.source = sb.source AND g.b = sb.b
    )
    SELECT source, CAST(any_value(c_s) AS BIGINT) AS n_tokens,
           round((sum(CASE WHEN p_cnt > 0
                      THEN (p_cnt/c_s) * ln((p_cnt/c_s)
                           / (((p_cnt/c_s) + (r_cnt/c_rest)) / 2))
                      ELSE 0.0 END)
                + sum(CASE WHEN r_cnt > 0
                      THEN (r_cnt/c_rest) * ln((r_cnt/c_rest)
                           / (((p_cnt/c_s) + (r_cnt/c_rest)) / 2))
                      ELSE 0.0 END)) / 2, 6) AS js_divergence
    FROM dense GROUP BY source
"""


def _cluster_sample_oracle() -> str:
    # operators/similarity.py::cluster_balanced_sample — same fitted
    # chain as kmeans_clusters; per-cluster md5-keyed draw of 25.
    chain, final = _kmeans_oracle()
    return f"""{chain},
    keyed AS (
        SELECT cluster, vec_id,
               CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000000 AS k
        FROM a{final}
    ),
    ranked AS (
        SELECT cluster, vec_id,
               CAST(row_number() OVER (PARTITION BY cluster ORDER BY k, vec_id) AS BIGINT) AS rk
        FROM keyed
    )
    SELECT cluster, vec_id, rk FROM ranked WHERE rk <= 25
    """


_ORACLES["cluster_balanced_sample"] = _cluster_sample_oracle()

# streaming/events_stream.py::streaming_distinct_users — on finite
# input the drained dedup+count chain equals the batch COUNT DISTINCT.
_ORACLES["streaming_distinct_users"] = """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
"""

# operators/dedup.py::hot_shingles_report — top-25 document-frequency
# shingles with the cap verdict (the blocklist audit).
_ORACLES["hot_shingles_report"] = f"""
    WITH {_SHINGLES_CTE}
    SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq,
           count(*) > 256 AS capped
    FROM shn GROUP BY shingle
    ORDER BY doc_freq DESC, shingle ASC
    LIMIT 25
"""


def _equidepth_oracle(n_bins: int = 10) -> str:
    fracs = ", ".join(f"CAST({i / n_bins!r} AS DOUBLE)" for i in range(1, n_bins))
    return f"""
    WITH bounds AS (SELECT quantile_cont(value, [{fracs}]) AS bs FROM events),
    binned AS (
        SELECT len(list_filter(b.bs, x -> e.value > x)) AS bin, b.bs
        FROM events e CROSS JOIN bounds b
    )
    SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_rows,
           round(CASE WHEN bin > 0 THEN any_value(bs)[bin] END, 6) AS lo,
           round(CASE WHEN bin < len(any_value(bs)) THEN any_value(bs)[bin + 1] END, 6) AS hi
    FROM binned GROUP BY bin
"""


# operators/analytics.py::value_equidepth_bins — exact interpolated
# boundary array + in-list bin assignment (value == boundary → lower).
_ORACLES["value_equidepth_bins"] = _equidepth_oracle()


def _mmr_oracle(k: int = 10) -> str:
    # operators/similarity.py::mmr_diverse_topk — the k greedy steps
    # unrolled (each argmax depends on all prior picks). allcos and the
    # running selections are AS MATERIALIZED: every step references
    # them repeatedly and DuckDB's default inlining would re-derive the
    # 16M-row dim join once per reference (the kcore fd-exhaustion
    # lesson). Cosines/rel round to 6 before every comparison, as the
    # engine does.
    from mapreduce_golang_spark.operators.similarity import EMBEDDING_DIM, MMR_LAMBDA

    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    steps = []
    for i in range(2, k + 1):
        steps.append(
            f"""p{i} AS (
        SELECT r.vec_id, r.rel, max(ac.cosine) AS msim
        FROM rels r
        JOIN allcos ac ON ac.va = r.vec_id
        JOIN sel{i - 1} s ON ac.vb = s.vec_id
        WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        GROUP BY r.vec_id, r.rel
    ),
    s{i} AS (
        SELECT {i} AS rank, vec_id, rel,
               CAST({lam!r} AS DOUBLE) * rel - CAST({om!r} AS DOUBLE) * msim AS mmr
        FROM p{i} ORDER BY mmr DESC, vec_id ASC LIMIT 1
    ),
    sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i})"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH lf AS MATERIALIZED (
        SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, unnest(generate_series(1, {EMBEDDING_DIM})) AS t(i)
    ),
    nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM lf GROUP BY vec_id),
    cent AS (SELECT dim, avg(v) AS cv FROM lf GROUP BY dim),
    cnrm AS (SELECT sqrt(sum(cv * cv)) AS cnrm FROM cent),
    rels AS MATERIALIZED (
        SELECT lf.vec_id,
               round(sum(lf.v * c.cv) / (any_value(n.nrm) * any_value(cn.cnrm)), 6) AS rel
        FROM lf JOIN cent c USING (dim)
        JOIN nrm n ON lf.vec_id = n.vec_id
        CROSS JOIN cnrm cn
        GROUP BY lf.vec_id
    ),
    allcos AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               round(sum(a.v * b.v) / (any_value(na.nrm) * any_value(nb.nrm)), 6) AS cosine
        FROM lf a JOIN lf b USING (dim)
        JOIN nrm na ON a.vec_id = na.vec_id
        JOIN nrm nb ON b.vec_id = nb.vec_id
        WHERE a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id
    ),
    sel1 AS MATERIALIZED (
        SELECT 1 AS rank, vec_id, rel, rel AS mmr
        FROM rels ORDER BY rel DESC, vec_id ASC LIMIT 1
    ),
    {chained}
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel AS relevance,
           round(mmr, 6) AS mmr_score
    FROM sel{k}
"""


_ORACLES["mmr_diverse_topk"] = _mmr_oracle()

# operators/text_analysis.py::rake_keywords — RAKE at corpus grain:
# stopword-free runs within sentences, degree/freq word scores,
# phrase = sum of member scores; ranking on the ROUND-6 score.
_ORACLES["rake_keywords"] = rf"""
    WITH sents AS (
        SELECT doc_id, generate_subscripts(ss, 1) AS sent_idx, unnest(ss) AS sentence
        FROM (SELECT doc_id,
                     list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                                 x -> trim(x)), x -> x <> '') AS ss
              FROM documents)
    ),
    tokr AS (
        SELECT doc_id, sent_idx, generate_subscripts(tk, 1) AS pos, unnest(tk) AS tok
        FROM (SELECT doc_id, sent_idx,
                     list_filter(regexp_split_to_array(lower(sentence), '[^\p{{L}}]+'),
                                 x -> x <> '') AS tk
              FROM sents)
    ),
    runs AS (
        SELECT doc_id, sent_idx, pos, tok, is_stop,
               sum(is_stop) OVER (PARTITION BY doc_id, sent_idx ORDER BY pos) AS run_id
        FROM (SELECT *, CASE WHEN tok IN ({_stopword_list()}) THEN 1 ELSE 0 END AS is_stop
              FROM tokr)
    ),
    nonstop AS (SELECT * FROM runs WHERE is_stop = 0),
    phr AS (
        SELECT doc_id, sent_idx, run_id,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               count(*) AS plen
        FROM nonstop GROUP BY 1, 2, 3
    ),
    mem AS (
        SELECT p.doc_id, p.sent_idx, p.run_id, p.phrase, p.plen, n.tok
        FROM phr p JOIN nonstop n USING (doc_id, sent_idx, run_id)
    ),
    ws AS (SELECT tok, CAST(sum(plen) AS DOUBLE) / count(*) AS wscore FROM mem GROUP BY tok),
    inst AS (
        SELECT doc_id, sent_idx, run_id, phrase, sum(wscore) AS iscore
        FROM mem JOIN ws USING (tok) GROUP BY 1, 2, 3, 4
    )
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           round(avg(iscore), 6) AS rake_score
    FROM inst GROUP BY phrase
    ORDER BY rake_score DESC, phrase ASC
    LIMIT 25
"""

# operators/text_analysis.py::char_script_profile — average per-doc
# ASCII-letter/digit/whitespace/other fractions per source.
_ORACLES["char_script_profile"] = r"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text)
                 ELSE 0.0 END), 6) AS latin_frac,
           round(avg(CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
                 ELSE 0.0 END), 6) AS digit_frac,
           round(avg(CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[^\s]', '', 'g')) AS DOUBLE) / length(text)
                 ELSE 0.0 END), 6) AS space_frac,
           round(avg(CASE WHEN length(text) > 0
                 THEN CAST(length(text)
                      - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                      - length(regexp_replace(text, '[^0-9]', '', 'g'))
                      - length(regexp_replace(text, '[^\s]', '', 'g')) AS DOUBLE) / length(text)
                 ELSE 0.0 END), 6) AS other_frac
    FROM documents GROUP BY source
"""

# operators/windows.py::markov_prediction_accuracy — argmax row of the
# transition matrix per prev type (ties → smallest next type).
_ORACLES["markov_prediction_accuracy"] = """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    ranked AS (
        SELECT prev_type, next_type, n,
               row_number() OVER (PARTITION BY prev_type ORDER BY n DESC, next_type ASC) AS rn,
               sum(n) OVER (PARTITION BY prev_type) AS tot,
               max(n) OVER (PARTITION BY prev_type) AS mx
        FROM pairs
    )
    SELECT prev_type, CAST(tot AS BIGINT) AS n_transitions,
           next_type AS predicted_next,
           round(CAST(mx AS DOUBLE) / tot, 6) AS accuracy
    FROM ranked WHERE rn = 1
"""

# operators/analytics.py::orders_monthly_growth — month agg + MoM lag
# on the tiny monthly series; decimal totals keep the ratio exact.
_ORACLES["orders_monthly_growth"] = """
    WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tp
        FROM orders GROUP BY 1
    )
    SELECT month, n_orders,
           round(CAST(tp AS DOUBLE), 2) AS total_price,
           round(CAST(tp - lag(tp) OVER (ORDER BY month) AS DOUBLE)
                 / CAST(lag(tp) OVER (ORDER BY month) AS DOUBLE) * 100.0, 6) AS mom_growth_pct
    FROM monthly
"""

# operators/analytics.py::user_value_pareto — Lorenz shares at the
# exact p90/p99 per-user-total thresholds (boundary user → top bucket).
_ORACLES["user_value_pareto"] = """
    WITH pu AS (SELECT user_id, sum(value) AS v FROM events GROUP BY user_id),
    cuts AS (SELECT quantile_cont(v, CAST(0.9 AS DOUBLE)) AS p90,
                    quantile_cont(v, CAST(0.99 AS DOUBLE)) AS p99
             FROM pu)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(sum(v), 2) AS total_value,
           round(sum(CASE WHEN v >= p90 THEN v ELSE 0.0 END) / sum(v), 6) AS top10_share,
           round(sum(CASE WHEN v >= p99 THEN v ELSE 0.0 END) / sum(v), 6) AS top1_share
    FROM pu CROSS JOIN cuts
"""

# operators/analytics.py::part_brand_hhi — Σ share² of brands per type.
_ORACLES["part_brand_hhi"] = """
    WITH tb AS (SELECT p_type, p_brand, count(*) AS n FROM part GROUP BY 1, 2)
    SELECT p_type,
           CAST(sum(n) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_brands,
           round(CAST(sum(n * n) AS DOUBLE) / (sum(n) * sum(n)), 6) AS hhi
    FROM tb GROUP BY p_type
"""

# operators/windows.py::session_duration_histogram — sessionize's
# oracle reused verbatim as the session table, then the floor-bin agg.
_ORACLES["session_duration_histogram"] = f"""
    WITH sess AS ({_ORACLES["sessionize"]})
    SELECT CAST(floor(duration_secs / 600) AS BIGINT) AS bin,
           CAST(floor(duration_secs / 600) * 10 AS BIGINT) AS bin_lo_minutes,
           CAST(count(*) AS BIGINT) AS n_sessions,
           round(avg(n_events), 6) AS avg_events
    FROM sess GROUP BY 1, 2
"""

def _bpe_merges_oracle() -> str:
    # operators/text_analysis.py::bpe_learn_merges — the training loop
    # unrolled: each round's pair count, 1-row argmax, and the
    # left-to-right non-overlapping replace (BPE's own application
    # order; replace() semantics identical in both engines).
    from mapreduce_golang_spark.operators.text_analysis import BPE_MERGE_ROUNDS

    steps = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        steps.append(
            f"""p{r} AS (
        SELECT sy[i] || ' ' || sy[i + 1] AS pair, wc
        FROM (SELECT string_split(trim(w), ' ') AS sy, wc FROM w{r - 1}),
             unnest(range(1, len(sy))) AS t(i)
        WHERE len(sy) >= 2
    ),
    best{r} AS MATERIALIZED (
        SELECT {r} AS merge_rank, pair, CAST(sum(wc) AS BIGINT) AS n
        FROM p{r} GROUP BY pair
        ORDER BY n DESC, pair ASC LIMIT 1
    ),
    w{r} AS MATERIALIZED (
        SELECT replace(w, ' ' || (SELECT pair FROM best{r}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM best{r}) || ' ') AS w,
               wc
        FROM w{r - 1}
    )"""
        )
    chained = ",\n    ".join(steps)
    finals = " UNION ALL ".join(
        f"SELECT CAST(merge_rank AS BIGINT) AS merge_rank, pair, n FROM best{r}"
        for r in range(1, BPE_MERGE_ROUNDS + 1)
    )
    return rf"""
    WITH wf AS (
        SELECT tok, count(*) AS wc
        FROM (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                   x -> x <> '')) AS tok
            FROM documents
        )
        GROUP BY tok
    ),
    w0 AS MATERIALIZED (
        SELECT ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS w, wc
        FROM wf WHERE length(tok) >= 2
    ),
    {chained}
    {finals}
"""


_ORACLES["bpe_learn_merges"] = _bpe_merges_oracle()


def _semdedup_oracle() -> str:
    # operators/similarity.py::semdedup_survivors — the fitted chain at
    # semdedup_auto_k's corpus-derived k (auto_k=True; equals the shared
    # KMEANS_K fit at n<=500, grows with the corpus);
    # in-cluster pairwise round-6 cosines, drop the higher id of any
    # pair at >= 0.95.
    chain, final = _kmeans_oracle(auto_k=True)
    return f"""{chain},
    asg AS (SELECT vec_id, cluster FROM a{final}),
    nrm2 AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM lf GROUP BY vec_id),
    cpairs AS (
        SELECT x.vec_id AS va, y.vec_id AS vb
        FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    ),
    ccos AS (
        SELECT p.va, p.vb,
               round(sum(a.v * b.v) / (any_value(na.nrm) * any_value(nb.nrm)), 6) AS c
        FROM cpairs p
        JOIN lf a ON a.vec_id = p.va
        JOIN lf b ON b.vec_id = p.vb AND b.dim = a.dim
        JOIN nrm2 na ON na.vec_id = p.va
        JOIN nrm2 nb ON nb.vec_id = p.vb
        GROUP BY p.va, p.vb
    ),
    sdropped AS (SELECT DISTINCT vb FROM ccos WHERE c >= CAST(0.95 AS DOUBLE))
    SELECT vec_id, cluster FROM asg
    WHERE vec_id NOT IN (SELECT vb FROM sdropped)
    """


_ORACLES["semdedup_survivors"] = _semdedup_oracle()


def _semdedup_hier_oracle() -> str:
    # operators/similarity.py::semdedup_hier_survivors — the two-level
    # (IVF-style) fit reproduced in SQL: coarse Lloyd's at k1 = ceil(
    # sqrt(auto_k)) over the corpus, then an independent Lloyd's at
    # k2 = ceil(auto_k / k1) INSIDE each coarse cell (seeds = lowest
    # vec_ids per cell), final cluster = cell * k2 + sub, then the
    # standard within-cluster drop at >= 0.95. Every tie-break and
    # rounding grain matches the Spark operator exactly.
    from mapreduce_golang_spark.operators.similarity import (
        EMBEDDING_DIM,
        KMEANS_K,
        KMEANS_UPDATES,
        SEMDEDUP_MAX_K,
        SEMDEDUP_ROWS_PER_CLUSTER,
    )

    u = KMEANS_UPDATES
    steps = []
    # coarse chain: assigns cd/ca 1..u+1, refreshes cc 1..u
    for i in range(1, u + 2):
        steps.append(
            f"""cd{i} AS (
        SELECT lf.vec_id, c.cell,
               round(sum((lf.v - c.cv) * (lf.v - c.cv)), 6) AS dist
        FROM lf JOIN cc{i - 1} c USING (dim) GROUP BY lf.vec_id, c.cell
    ),
    ca{i} AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
            FROM cd{i}) WHERE rk = 1
    )"""
        )
        if i <= u:
            steps.append(
                f"""cc{i} AS (
        SELECT a.cell, lf.dim, avg(lf.v) AS cv
        FROM lf JOIN ca{i} a USING (vec_id) GROUP BY a.cell, lf.dim
    )"""
            )
    cf = u + 1
    # fine chain: per-cell seeds from the FINAL coarse assignment
    steps.append(
        f"""fseeds AS (
        SELECT vec_id, cell, frk - 1 AS sub FROM (
            SELECT vec_id, cell,
                   CAST(row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS BIGINT) AS frk
            FROM ca{cf}
        ) WHERE frk <= (SELECT kk2 FROM kh)
    ),
    fc0 AS (SELECT s.cell, s.sub, lf.dim, lf.v AS cv FROM lf JOIN fseeds s USING (vec_id))"""
    )
    for i in range(1, u + 2):
        steps.append(
            f"""fd{i} AS (
        SELECT lf.vec_id, a.cell, c.sub,
               round(sum((lf.v - c.cv) * (lf.v - c.cv)), 6) AS dist
        FROM lf
        JOIN ca{cf} a USING (vec_id)
        JOIN fc{i - 1} c ON c.cell = a.cell AND c.dim = lf.dim
        GROUP BY lf.vec_id, a.cell, c.sub
    ),
    fa{i} AS (
        SELECT vec_id, cell, sub FROM (
            SELECT vec_id, cell, sub,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, sub) AS rk
            FROM fd{i}) WHERE rk = 1
    )"""
        )
        if i <= u:
            steps.append(
                f"""fc{i} AS (
        SELECT a.cell, a.sub, lf.dim, avg(lf.v) AS cv
        FROM lf JOIN fa{i} a USING (vec_id) GROUP BY a.cell, a.sub, lf.dim
    )"""
            )
    chained = ",\n    ".join(steps)
    return f"""
    WITH lf AS (
        SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, unnest(generate_series(1, {EMBEDDING_DIM})) AS t(i)
    ),
    kp AS (
        SELECT greatest({KMEANS_K}, least({SEMDEDUP_MAX_K},
               CAST(ceil(count(*) / {SEMDEDUP_ROWS_PER_CLUSTER}.0) AS BIGINT))) AS kk
        FROM embeddings
    ),
    kh AS (
        SELECT kk, CAST(ceil(sqrt(kk)) AS BIGINT) AS kk1,
               CAST(ceil(kk / CAST(ceil(sqrt(kk)) AS BIGINT)) AS BIGINT) AS kk2
        FROM kp
    ),
    cseeds AS (
        SELECT vec_id, srk - 1 AS cell FROM (
            SELECT vec_id,
                   CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS srk
            FROM (SELECT DISTINCT vec_id FROM embeddings)
        ) WHERE srk <= (SELECT kk1 FROM kh)
    ),
    cc0 AS (SELECT s.cell, lf.dim, lf.v AS cv FROM lf JOIN cseeds s USING (vec_id)),
    {chained},
    asg AS (
        SELECT vec_id,
               CAST(cell * (SELECT kk2 FROM kh) + sub AS BIGINT) AS cluster
        FROM fa{cf}
    ),
    nrm2 AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM lf GROUP BY vec_id),
    cpairs AS (
        SELECT x.vec_id AS va, y.vec_id AS vb
        FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    ),
    ccos AS (
        SELECT p.va, p.vb,
               round(sum(a.v * b.v) / (any_value(na.nrm) * any_value(nb.nrm)), 6) AS c
        FROM cpairs p
        JOIN lf a ON a.vec_id = p.va
        JOIN lf b ON b.vec_id = p.vb AND b.dim = a.dim
        JOIN nrm2 na ON na.vec_id = p.va
        JOIN nrm2 nb ON nb.vec_id = p.vb
        GROUP BY p.va, p.vb
    ),
    sdropped AS (SELECT DISTINCT vb FROM ccos WHERE c >= CAST(0.95 AS DOUBLE))
    SELECT vec_id, cluster FROM asg
    WHERE vec_id NOT IN (SELECT vb FROM sdropped)
    """


_ORACLES["semdedup_hier_survivors"] = _semdedup_hier_oracle()

# operators/similarity.py::embedding_stats_arrow — the mapInArrow
# kernel's SQL twin: per-vector dim/L2/mean from the unnested values.
# operators/similarity.py::label_centroids_arrow — per-label per-dim
# mean of the vector population (the applyInArrow kernel's SQL twin);
# + 0.0 canonicalizes -0.0 like every signed rounded float here.
from mapreduce_golang_spark.operators.similarity import EMBEDDING_DIM as _EMBEDDING_DIM

_SHINGLE_TOKS = r"""
    toks AS (
        SELECT doc_id, source,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) AS pos
        FROM documents
    ),
    sh0 AS (
        SELECT doc_id, source,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
"""

# operators/dedup.py::source_shingle_overlap — per-source DISTINCT
# 3-shingle inventories, inverted-index self-join, containment both ways
_ORACLES["source_shingle_overlap"] = f"""
    WITH {_SHINGLE_TOKS},
    shn AS (SELECT DISTINCT source, shingle FROM sh0 WHERE shingle IS NOT NULL),
    sizes AS (SELECT source, count(*) AS n_sh FROM shn GROUP BY source),
    common AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard,
           round(CAST(n_common AS DOUBLE) / sa.n_sh, 6) AS containment_a_in_b,
           round(CAST(n_common AS DOUBLE) / sb.n_sh, 6) AS containment_b_in_a
    FROM common
    JOIN sizes sa ON source_a = sa.source
    JOIN sizes sb ON source_b = sb.source
"""

# operators/text_analysis.py::trigram_novelty_curve — first-decile-of-
# appearance per distinct shingle; both engines bucket via IEEE double
# divide + floor on identical integer operands
_ORACLES["trigram_novelty_curve"] = f"""
    WITH {_SHINGLE_TOKS},
    shn AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE shingle IS NOT NULL),
    firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM shn GROUP BY shingle),
    nd AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
    pb AS (
        SELECT CAST(least(9, CAST(floor(first_doc * 10 / n_docs) AS BIGINT)) AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_new_shingles
        FROM firsts, nd
        GROUP BY 1
    )
    SELECT decile, n_new_shingles,
           CAST(sum(n_new_shingles) OVER (ORDER BY decile) AS BIGINT) AS cum_new_shingles,
           round(CAST(n_new_shingles AS DOUBLE) / sum(n_new_shingles) OVER (), 6) AS new_share
    FROM pb
"""

_ORACLES["label_centroids_arrow"] = f"""
    SELECT CAST(label AS BIGINT) AS label,
           CAST(i - 1 AS BIGINT) AS dim_idx,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) + 0.0 AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM embeddings, unnest(generate_series(1, {_EMBEDDING_DIM})) AS t(i)
    GROUP BY label, i
"""

_ORACLES["embedding_stats_arrow"] = """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), 6) AS l2_norm,
           round(avg(CAST(v AS DOUBLE)), 6) AS mean_val
    FROM (SELECT vec_id, embedding, unnest(embedding) AS v FROM embeddings)
    GROUP BY vec_id, embedding
"""

# operators/corpus.py::dataset_card_report — one-pass corpus card.
_ORACLES["dataset_card_report"] = r"""
    WITH per_doc AS (
        SELECT doc_id, source, lang,
               CAST(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                        x -> x <> '')) AS BIGINT) AS n_tok,
               CAST(length(text) AS BIGINT) AS n_chr,
               md5(lower(trim(text))) AS h
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chr) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
           round(CASE WHEN count(*) > 0
                 THEN 1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*)
                 ELSE 0.0 END, 6) AS dup_frac,
           round(CASE WHEN count(*) > 0
                 THEN CAST(sum(n_tok) AS DOUBLE) / count(*)
                 ELSE 0.0 END, 6) AS avg_doc_tokens
    FROM per_doc
"""

_ORACLES["hourly_value_ohlc"] = """
    -- operators/windows.py::hourly_value_ohlc — min_by/max_by on the
    -- (ts, event_id) struct expressed as asc/desc row_number picks
    WITH e AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value
        FROM events
    ), r AS (
        SELECT e.*,
               row_number() OVER (PARTITION BY event_type, hour
                                  ORDER BY ts ASC, event_id ASC) AS rn_a,
               row_number() OVER (PARTITION BY event_type, hour
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM e
    )
    SELECT event_type, hour,
           round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM r GROUP BY 1, 2
"""

_ORACLES["monthly_metric_unpivot"] = """
    -- operators/analytics.py::monthly_metric_unpivot — DuckDB UNPIVOT
    -- twin of DataFrame.unpivot (melt)
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS revenue,
               CAST(count(*) AS DOUBLE) AS n_orders,
               CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
        FROM orders GROUP BY 1
    )
    SELECT month, metric, value
    FROM m UNPIVOT (value FOR metric IN (revenue, n_orders, n_customers))
"""

_ORACLES["part_name_near_matches"] = r"""
    -- operators/dedup.py::part_name_near_matches — distinct-first
    -- blocking join on the head noun, Levenshtein verify
    WITH names AS (
        SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts,
               regexp_extract(p_name, '(\S+)$', 1) AS blk
        FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 4
"""

_ORACLES["ngram_diversity_by_source"] = r"""
    -- operators/text_analysis.py::ngram_diversity_by_source —
    -- unigram/trigram type-token ratios per source
    WITH toks AS (
        SELECT source,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                           x -> x <> '') AS toks
        FROM documents
    ), uni AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT tok) AS BIGINT) AS n_unique_tokens
        FROM (SELECT source, unnest(toks) AS tok FROM toks) GROUP BY source
    ), tri AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(count(DISTINCT tri) AS BIGINT) AS n_unique_trigrams
        FROM (
            SELECT source, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tri
            FROM toks, unnest(range(1, len(toks) - 1)) AS t(i)
            WHERE len(toks) >= 3
        ) GROUP BY source
    )
    SELECT u.source, u.n_tokens, u.n_unique_tokens,
           round(CAST(u.n_unique_tokens AS DOUBLE) / u.n_tokens, 6) AS ttr1,
           CAST(coalesce(t.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST(coalesce(t.n_unique_trigrams, 0) AS BIGINT) AS n_unique_trigrams,
           round(CASE WHEN coalesce(t.n_trigrams, 0) > 0
                 THEN CAST(t.n_unique_trigrams AS DOUBLE) / t.n_trigrams
                 ELSE 0.0 END, 6) AS ttr3
    FROM uni u LEFT JOIN tri t ON u.source = t.source
"""

def _bpe_encode_oracle() -> str:
    # operators/text_analysis.py::bpe_encode_stats — the same unrolled
    # training loop as bpe_learn_merges, but the word CTEs carry tok
    # (and include 1-char tokens, which contribute no pairs, so the
    # learned merges are identical), then the final segmentation joins
    # the per-(source, tok) occurrence counts.
    from mapreduce_golang_spark.operators.text_analysis import BPE_MERGE_ROUNDS

    steps = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        steps.append(
            f"""p{r} AS (
        SELECT sy[i] || ' ' || sy[i + 1] AS pair, wc
        FROM (SELECT string_split(trim(w), ' ') AS sy, wc FROM w{r - 1}),
             unnest(range(1, len(sy))) AS t(i)
        WHERE len(sy) >= 2
    ),
    best{r} AS MATERIALIZED (
        SELECT pair FROM p{r} GROUP BY pair
        ORDER BY CAST(sum(wc) AS BIGINT) DESC, pair ASC LIMIT 1
    ),
    w{r} AS MATERIALIZED (
        SELECT tok,
               CASE WHEN (SELECT count(*) FROM best{r}) = 0 THEN w
                    ELSE replace(w, ' ' || (SELECT pair FROM best{r}) || ' ',
                                 ' ' || (SELECT replace(pair, ' ', '') FROM best{r}) || ' ')
               END AS w,
               wc
        FROM w{r - 1}
    )"""
        )
    chained = ",\n    ".join(steps)
    return rf"""
    WITH u AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                      x -> x <> '')) AS tok
        FROM documents
    ),
    occ AS MATERIALIZED (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM u GROUP BY source, tok
    ),
    w0 AS MATERIALIZED (
        SELECT tok,
               ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS w,
               CAST(sum(cnt) AS BIGINT) AS wc
        FROM occ GROUP BY tok
    ),
    {chained},
    enc AS (
        SELECT tok, CAST(len(string_split(trim(w), ' ')) AS BIGINT) AS n_sym
        FROM w{BPE_MERGE_ROUNDS}
    )
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * n_sym) AS BIGINT) AS n_symbols,
           CAST(sum(cnt * length(tok)) AS BIGINT) AS n_chars,
           round(CAST(sum(cnt * n_sym) AS DOUBLE) / sum(cnt), 6) AS symbols_per_token,
           round(CAST(sum(cnt * n_sym) AS DOUBLE) / sum(cnt * length(tok)), 6)
               AS compression_ratio
    FROM occ JOIN enc USING (tok)
    GROUP BY source
"""


_ORACLES["bpe_encode_stats"] = _bpe_encode_oracle()

_ORACLES["quality_dup_calibration"] = f"""
    -- operators/text_analysis.py::quality_dup_calibration —
    -- fixed-width score bins vs exact-dup labels
    WITH tq AS ({_ORACLES["text_quality"]}),
    dh AS (
        SELECT doc_id, md5(lower(trim(text))) AS h FROM documents
    ),
    sizes AS (
        SELECT h, CAST(count(*) AS BIGINT) AS grp FROM dh GROUP BY h
    ),
    b AS (
        SELECT floor(tq.quality_score / 0.1) * 0.1 AS bin_lo,
               CASE WHEN s.grp > 1 THEN 1 ELSE 0 END AS is_dup,
               CAST(tq.quality_score AS DECIMAL(10,6)) AS q
        FROM tq JOIN dh USING (doc_id) JOIN sizes s USING (h)
    )
    SELECT round(bin_lo, 6) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
           round(CAST(sum(is_dup) AS DOUBLE) / count(*), 6) AS dup_frac,
           round(CAST(sum(q) / count(*) AS DOUBLE), 6) AS avg_quality
    FROM b GROUP BY bin_lo
"""

_ORACLES["normalized_dedup_gain"] = r"""
    -- operators/dedup.py::normalized_dedup_gain — raw vs normalized
    -- exact-dup mass per source, one aggregation pass
    WITH per AS (
        SELECT source,
               md5(text) AS h_raw,
               md5(trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g'))) AS h_norm
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT h_raw) AS BIGINT) AS n_uniq_raw,
           CAST(count(DISTINCT h_norm) AS BIGINT) AS n_uniq_norm,
           round(1.0 - CAST(count(DISTINCT h_raw) AS DOUBLE) / count(*), 6) AS raw_dup_frac,
           round(1.0 - CAST(count(DISTINCT h_norm) AS DOUBLE) / count(*), 6) AS norm_dup_frac,
           round(CAST(count(DISTINCT h_raw) - count(DISTINCT h_norm) AS DOUBLE) / count(*), 6)
               AS gain_frac
    FROM per GROUP BY source
"""

_ORACLES["jl_projection_qa"] = """
    -- operators/similarity.py::jl_projection_qa — deterministic
    -- Achlioptas sign projection, distance-ratio stats over the
    -- hash-thinned sample
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id % 7 = 0
    ),
    pv AS (
        SELECT vec_id, e,
               list_transform(range(1, 9), j ->
                   list_sum(list_transform(range(1, len(e) + 1), i ->
                       e[i] * (CASE CAST(floor((i * 2654435761 + j * 40503) / 256) AS BIGINT) % 6
                               WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END)
                       * sqrt(3.0 / 8)))) AS p
        FROM v
    ),
    pr AS (
        SELECT sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i ->
                   (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])))) AS d_orig,
               sqrt(list_sum(list_transform(range(1, 9), j ->
                   (a.p[j] - b.p[j]) * (a.p[j] - b.p[j])))) AS d_proj
        FROM pv a JOIN pv b ON a.vec_id < b.vec_id
    ),
    r AS (
        SELECT round(d_proj / d_orig, 6) AS ratio FROM pr WHERE d_orig > 1e-12
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(CAST(ratio AS DECIMAL(12,6))) / count(*) AS DOUBLE), 6) AS avg_ratio,
           round(min(ratio), 6) AS min_ratio,
           round(max(ratio), 6) AS max_ratio
    FROM r
"""

_ORACLES["multi_touch_attribution"] = """
    -- operators/analytics.py::multi_touch_attribution — linear credit
    -- split across the 24h pre-purchase touches
    WITH purch AS (
        SELECT user_id, ts AS p_ts, event_id AS p_id, value
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT user_id, ts AS t_ts, event_type
        FROM events WHERE event_type <> 'purchase'
    ),
    j AS (
        SELECT t.event_type, p.p_id, p.value
        FROM purch p JOIN touch t ON p.user_id = t.user_id
         AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 24 HOUR
    ),
    c AS (
        SELECT event_type,
               CAST(round(value / (count(*) OVER (PARTITION BY p_id)), 6)
                    AS DECIMAL(18,6)) AS credit
        FROM j
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(credit) AS DOUBLE), 6) AS total_credit
    FROM c GROUP BY event_type
"""

_ORACLES["rolling_median_value"] = """
    -- operators/windows.py::rolling_median_value — exact median over
    -- the trailing ROWS frame, total (ts, event_id) ordering
    SELECT user_id, event_id, value,
           round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 10 PRECEDING AND CURRENT ROW), 6) AS roll_median
    FROM events
"""

_ORACLES["order_basket_rules"] = """
    -- operators/analytics.py::order_basket_rules — market-basket
    -- support/confidence/lift, top-25 by rounded lift
    WITH items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
    ),
    n_o AS (
        SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items
    ),
    singles AS MATERIALIZED (
        SELECT pkey, CAST(count(*) AS BIGINT) AS n_single FROM items GROUP BY pkey
    ),
    pairs AS (
        SELECT a.pkey AS part_a, b.pkey AS part_b, CAST(count(*) AS BIGINT) AS n_both
        FROM items a JOIN items b ON a.okey = b.okey AND a.pkey < b.pkey
        GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    e AS (
        SELECT part_a, part_b, n_both,
               sa.n_single AS n_a, sb.n_single AS n_b,
               round(CAST(n_both AS DOUBLE) / n_orders, 6) AS support,
               round(CAST(n_both AS DOUBLE) / sa.n_single, 6) AS confidence,
               round(CAST(n_both * n_orders AS DOUBLE) / (sa.n_single * sb.n_single), 6)
                   AS lift
        FROM pairs
        JOIN singles sa ON pairs.part_a = sa.pkey
        JOIN singles sb ON pairs.part_b = sb.pkey, n_o
    )
    SELECT * FROM e ORDER BY lift DESC, part_a, part_b LIMIT 25
"""

_ORACLES["k_anonymity_audit"] = """
    -- operators/analytics.py::k_anonymity_audit — equivalence classes
    -- of the (segment, nation, $1000 balance band) QI below k=5
    SELECT c_mktsegment, c_nationkey,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
           CAST(count(*) AS BIGINT) AS group_size
    FROM customer GROUP BY 1, 2, 3 HAVING count(*) < 5
"""

_ORACLES["benford_price_audit"] = """
    -- operators/analytics.py::benford_price_audit — leading digit via
    -- the DECIMAL(18,2) rendering (no double→string sci-notation trap)
    WITH d AS (
        SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                    AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1.0
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d)
    SELECT digit, CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE) / n_total, 6) AS obs_frac,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_frac,
           round(pow(CAST(count(*) AS DOUBLE) / n_total - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit), 6) AS chi2_term
    FROM d, t GROUP BY digit, n_total
"""

_ORACLES["streaming_hourly_ohlc"] = """
    -- streaming/events_stream.py::streaming_hourly_ohlc — tumbling
    -- 1-hour windows equal the batch OHLC on finite input
    WITH e AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, ts, event_id, value
        FROM events
    ), r AS (
        SELECT e.*,
               row_number() OVER (PARTITION BY event_type, hr
                                  ORDER BY ts ASC, event_id ASC) AS rn_a,
               row_number() OVER (PARTITION BY event_type, hr
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM e
    )
    SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM r GROUP BY 1, 2
"""

_ORACLES["rrf_hybrid_ranking"] = rf"""
    -- operators/text_analysis.py::rrf_hybrid_ranking — RRF fusion of
    -- the BM25 top-100 pool with the quality-prior ranking
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'), x -> x <> '') AS toks
        FROM documents
    ),
    pd AS (
        SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
               CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf_0,
               CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf_1,
               CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_2
        FROM t
    ),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
               sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
               sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
               sum(CASE WHEN tf_2 > 0 THEN 1.0 ELSE 0.0 END) AS df_2
        FROM pd
    ),
    sc AS (
        SELECT doc_id,
               round(
                 ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2
                     / (tf_0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
               + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2
                     / (tf_1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
               + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2
                     / (tf_2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
        FROM pd CROSS JOIN st
    ),
    cand AS (
        SELECT doc_id, bm25_rank FROM (
            SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
            FROM sc
        ) WHERE bm25_rank <= 100
    ),
    tq AS ({_ORACLES["text_quality"]}),
    qr AS (
        SELECT c.doc_id, c.bm25_rank,
               row_number() OVER (ORDER BY tq.quality_score DESC, c.doc_id) AS quality_rank
        FROM cand c JOIN tq ON c.doc_id = tq.doc_id
    ),
    f AS (
        SELECT doc_id, bm25_rank, quality_rank,
               round(1.0 / (60 + bm25_rank) + 1.0 / (60 + quality_rank), 6) AS rrf_score
        FROM qr
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id,
           CAST(bm25_rank AS BIGINT) AS bm25_rank,
           CAST(quality_rank AS BIGINT) AS quality_rank, rrf_score
    FROM (SELECT f.*, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank FROM f)
    WHERE rank <= 20
"""

_ORACLES["value_psi_drift"] = """
    -- operators/analytics.py::value_psi_drift — first-vs-second-half
    -- PSI over equi-width value bins, Laplace-smoothed shares
    WITH st AS (
        SELECT (min(epoch_us(ts) / 1000000.0) + max(epoch_us(ts) / 1000000.0)) / 2.0 AS mid,
               min(value) AS vmin, max(value) AS vmax
        FROM events
    ),
    b AS (
        SELECT least(greatest(CAST(floor((value - vmin) / ((vmax - vmin) / 10.0)) AS BIGINT), 0), 9) AS bin,
               CASE WHEN epoch_us(ts) / 1000000.0 <= mid THEN 1 ELSE 0 END AS is_ref
        FROM events, st
    ),
    g AS (
        SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
               CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
        FROM b GROUP BY bin
    )
    SELECT bin, n_ref, n_cur,
           round((n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * 10), 6) AS p_ref,
           round((n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * 10), 6) AS p_cur,
           round(((n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * 10)
                  - (n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * 10))
                 * ln(((n_ref + 0.5) / (sum(n_ref) OVER () + 0.5 * 10))
                      / ((n_cur + 0.5) / (sum(n_cur) OVER () + 0.5 * 10))), 6) AS psi_term
    FROM g
"""

_ORACLES["debounced_event_stats"] = """
    -- operators/windows.py::debounced_event_stats — throttle-style
    -- debounce: kept when the previous same-(user,type) raw event is
    -- > 60 s older
    WITH k AS (
        SELECT event_type,
               CASE WHEN lag(epoch_us(ts) / 1000000.0) OVER w IS NULL
                         OR epoch_us(ts) / 1000000.0
                            - lag(epoch_us(ts) / 1000000.0) OVER w > 60
                    THEN 1 ELSE 0 END AS kept
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           round(1.0 - CAST(sum(kept) AS DOUBLE) / count(*), 6) AS drop_frac
    FROM k GROUP BY event_type
"""

_ORACLES["event_rate_spikes"] = """
    -- operators/windows.py::event_rate_spikes — hourly-count z-score
    -- vs the trailing 24 observed hours (current excluded)
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    zs AS (
        SELECT event_type, hour, n_events,
               avg(n_events) OVER w AS mu,
               stddev_samp(CAST(n_events AS DOUBLE)) OVER w AS sd
        FROM h
        WINDOW w AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, n_events, round((n_events - mu) / sd, 6) AS z_score
    FROM zs WHERE sd > 0 AND round((n_events - mu) / sd, 6) >= 3.0
"""

_ORACLES["nation_share_shift"] = """
    -- operators/joins.py::nation_share_shift — yearly revenue share
    -- per nation plus YoY share delta (first years excluded)
    WITH rev AS (
        SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT n_name, o_year,
               round(CAST(rev AS DOUBLE), 2) AS revenue,
               round(CAST(rev AS DOUBLE)
                     / CAST(sum(rev) OVER (PARTITION BY o_year) AS DOUBLE), 6) AS share
        FROM rev
    ),
    d AS (
        SELECT s.*, lag(share) OVER (PARTITION BY n_name ORDER BY o_year) AS prev_share
        FROM s
    )
    SELECT n_name, o_year, revenue, share,
           round(share - prev_share, 6) AS share_shift
    FROM d WHERE prev_share IS NOT NULL
"""

_ORACLES["order_ship_latency"] = """
    -- operators/joins.py::order_ship_latency — order-to-first-ship
    -- latency percentiles per priority (agg lineitem BEFORE the join)
    WITH fs AS (
        SELECT l_orderkey AS okey, min(l_shipdate) AS ship_ts
        FROM lineitem GROUP BY 1
    ),
    lat AS (
        SELECT o.o_orderpriority,
               (epoch_us(fs.ship_ts) - epoch_us(o.o_orderdate)) / 86400000000.0 AS lat_days
        FROM orders o JOIN fs ON o.o_orderkey = fs.okey
    )
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           round(quantile_cont(lat_days, 0.5), 6) AS p50,
           round(quantile_cont(lat_days, 0.9), 6) AS p90,
           round(quantile_cont(lat_days, 0.99), 6) AS p99
    FROM lat GROUP BY 1
"""

_ORACLES["bootstrap_mean_ci"] = """
    -- operators/analytics.py::bootstrap_mean_ci — deterministic
    -- Poissonized bootstrap, CI from exact replicate-mean percentiles
    WITH rep AS (
        SELECT event_type, bi, value,
               CASE CAST(floor((event_id * 2654435761 + bi * 40503) / 256) AS BIGINT) % 4
                    WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 1 END AS w
        FROM events, unnest(range(1, 33)) AS t(bi)
    ),
    m AS (
        SELECT event_type,
               round(CAST(sum(w * CAST(value AS DECIMAL(18,6))) AS DOUBLE) / sum(w), 6) AS m
        FROM rep GROUP BY event_type, bi HAVING sum(w) > 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_boot,
           round(CAST(sum(CAST(m AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6) AS boot_mean,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM m GROUP BY event_type
"""

_ORACLES["part_price_size_skyline"] = """
    -- operators/analytics.py::part_price_size_skyline — 2-D Pareto
    -- frontier via the sorted running-max trick over DISTINCT points
    WITH pts AS (
        SELECT p_retailprice, p_size, CAST(count(*) AS BIGINT) AS n_parts
        FROM part GROUP BY 1, 2
    ),
    rm AS (
        SELECT pts.*,
               max(p_size) OVER (ORDER BY p_retailprice ASC, p_size DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
        FROM pts
    )
    SELECT p_retailprice, p_size, n_parts
    FROM rm WHERE run_max IS NULL OR p_size > run_max
"""

_ORACLES["curriculum_phases"] = f"""
    -- operators/corpus.py::curriculum_phases — quality quartile
    -- phases via exact percentile cuts (1-row broadcast pattern)
    WITH tq AS ({_ORACLES["text_quality"]}),
    cuts AS (
        SELECT quantile_cont(quality_score, 0.25) AS c1,
               quantile_cont(quality_score, 0.5) AS c2,
               quantile_cont(quality_score, 0.75) AS c3
        FROM tq
    ),
    p AS (
        SELECT CAST(1 + (CASE WHEN quality_score > c1 THEN 1 ELSE 0 END)
                      + (CASE WHEN quality_score > c2 THEN 1 ELSE 0 END)
                      + (CASE WHEN quality_score > c3 THEN 1 ELSE 0 END) AS BIGINT) AS phase,
               n_tokens,
               CAST(quality_score AS DECIMAL(10,6)) AS q
        FROM tq, cuts
    )
    SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS avg_quality
    FROM p GROUP BY phase
"""

_ORACLES["source_stopword_similarity"] = rf"""
    -- operators/text_analysis.py::source_stopword_similarity —
    -- function-word profile cosine via the stopword inverted index
    WITH c AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT source,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                          x -> x <> '')) AS tok
            FROM documents
        ) WHERE tok IN ({_stopword_list()})
        GROUP BY source, tok
    ),
    t AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tot FROM c GROUP BY source),
    f AS (
        SELECT c.source, c.tok,
               CAST(round(CAST(c.n AS DOUBLE) / t.n_tot, 6) AS DECIMAL(12,6)) AS f
        FROM c JOIN t ON c.source = t.source
    ),
    nm AS (SELECT source, sqrt(CAST(sum(f * f) AS DOUBLE)) AS nrm FROM f GROUP BY source),
    d AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(sum(a.f * b.f) AS DOUBLE) AS dot
        FROM f a JOIN f b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine_sim
    FROM d
    JOIN nm na ON d.source_a = na.source
    JOIN nm nb ON d.source_b = nb.source
"""

_ORACLES["km_gap_survival"] = """
    -- operators/windows.py::km_gap_survival — right-censored KM over
    -- per-user inter-event gap minutes
    WITH h AS (SELECT max(epoch_us(ts) / 1000000.0) AS h FROM events),
    g AS (
        SELECT CAST(floor((coalesce(nxt, h.h) - tsd) / 60.0) AS BIGINT) AS gap_min,
               CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS censored
        FROM (
            SELECT user_id, epoch_us(ts) / 1000000.0 AS tsd,
                   lead(epoch_us(ts) / 1000000.0)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM events
        ), h
    ),
    b AS (
        SELECT gap_min, CAST(sum(1 - censored) AS BIGINT) AS n_deaths,
               CAST(sum(censored) AS BIGINT) AS n_censored
        FROM g GROUP BY gap_min
    ),
    r AS (
        SELECT b.*,
               CAST(sum(n_deaths + n_censored) OVER ()
                    - coalesce(sum(n_deaths + n_censored)
                               OVER (ORDER BY gap_min
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_at_risk
        FROM b
    )
    SELECT gap_min, n_at_risk, n_deaths, n_censored,
           round(exp(sum(CASE WHEN n_deaths = n_at_risk THEN -1e9
                         ELSE ln(1.0 - CAST(n_deaths AS DOUBLE) / n_at_risk) END)
                     OVER (ORDER BY gap_min)), 6) AS survival
    FROM r
"""

_ORACLES["ab_conversion_ztest"] = """
    -- operators/analytics.py::ab_conversion_ztest — parity-arm
    -- two-proportion pooled z-test per segment (conv = ≥14 purchases)
    WITH u AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS conv
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
               u.user_id % 2 AS arm, u.conv
        FROM u LEFT JOIN customer c ON u.user_id = c.c_custkey
    ),
    p AS (
        SELECT segment,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS x_a,
               sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x_b
        FROM s GROUP BY segment
    ),
    z AS (
        SELECT segment, n_a, n_b,
               round(CAST(x_a AS DOUBLE) / n_a, 6) AS conv_a,
               round(CAST(x_b AS DOUBLE) / n_b, 6) AS conv_b,
               round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                     / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
        FROM p WHERE n_a > 0 AND n_b > 0 AND x_a + x_b > 0
              AND x_a + x_b < n_a + n_b
    )
    SELECT segment, n_a, n_b, conv_a, conv_b, z_score,
           CASE WHEN abs(z_score) >= 1.96 THEN 1 ELSE 0 END AS significant
    FROM z
"""

def _bpe_roundtrip_oracle() -> str:
    # operators/text_analysis.py::bpe_roundtrip_audit — the encode
    # chain (tok carried, exhaustion-guarded) plus the lossless check
    from mapreduce_golang_spark.operators.text_analysis import BPE_MERGE_ROUNDS

    steps = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        steps.append(
            f"""p{r} AS (
        SELECT sy[i] || ' ' || sy[i + 1] AS pair, wc
        FROM (SELECT string_split(trim(w), ' ') AS sy, wc FROM w{r - 1}),
             unnest(range(1, len(sy))) AS t(i)
        WHERE len(sy) >= 2
    ),
    best{r} AS MATERIALIZED (
        SELECT pair FROM p{r} GROUP BY pair
        ORDER BY CAST(sum(wc) AS BIGINT) DESC, pair ASC LIMIT 1
    ),
    w{r} AS MATERIALIZED (
        SELECT tok,
               CASE WHEN (SELECT count(*) FROM best{r}) = 0 THEN w
                    ELSE replace(w, ' ' || (SELECT pair FROM best{r}) || ' ',
                                 ' ' || (SELECT replace(pair, ' ', '') FROM best{r}) || ' ')
               END AS w,
               wc
        FROM w{r - 1}
    )"""
        )
    chained = ",\n    ".join(steps)
    return rf"""
    WITH wf AS (
        SELECT tok, count(*) AS wc
        FROM (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}]+'),
                   x -> x <> '')) AS tok
            FROM documents
        )
        GROUP BY tok
    ),
    w0 AS MATERIALIZED (
        SELECT tok, ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS w, wc
        FROM wf
    ),
    {chained},
    audited AS MATERIALIZED (
        SELECT tok, string_split(trim(w), ' ') AS syms
        FROM w{BPE_MERGE_ROUNDS}
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(CASE WHEN array_to_string(syms, '') = tok THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_roundtrip_ok,
               CAST(sum(CASE WHEN len(syms) = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_single_symbol
        FROM audited
    ),
    v AS (
        SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_vocab_symbols
        FROM (SELECT unnest(syms) AS s FROM audited)
    )
    SELECT c.*, v.* FROM c, v
"""


_ORACLES["bpe_roundtrip_audit"] = _bpe_roundtrip_oracle()

_ORACLES["value_hour_regression"] = """
    -- operators/analytics.py::value_hour_regression — closed-form OLS
    -- from exact decimal/integer sums
    WITH xy AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
               CAST(value AS DECIMAL(18,6)) AS y
        FROM events
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(y * y) AS DOUBLE) AS syy
        FROM xy GROUP BY event_type
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
               + 0.0 AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
"""


def _qq_drift_oracle() -> str:
    qcols = ",\n               ".join(
        f"round(quantile_cont(value, {i / 10.0}) FILTER (is_ref), 6) AS r{i},\n"
        f"               round(quantile_cont(value, {i / 10.0}) FILTER (NOT is_ref), 6) AS c{i}"
        for i in range(1, 10)
    )
    rows = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS decile, r{i} AS q_ref, c{i} AS q_cur FROM a"
        for i in range(1, 10)
    )
    return f"""
    -- operators/analytics.py::value_qq_drift — per-decile Q-Q table
    -- between stream halves (both halves' deciles in ONE aggregate)
    WITH st AS (
        SELECT (min(epoch_us(ts) / 1000000.0) + max(epoch_us(ts) / 1000000.0)) / 2.0 AS mid
        FROM events
    ),
    h AS (
        SELECT value, epoch_us(ts) / 1000000.0 <= mid AS is_ref FROM events, st
    ),
    a AS (
        SELECT {qcols}
        FROM h
    )
    SELECT decile, q_ref, q_cur, round(q_cur - q_ref, 6) AS gap
    FROM ({rows})
"""


_ORACLES["value_qq_drift"] = _qq_drift_oracle()

_ORACLES["kwic_snippets"] = """
    -- operators/text_analysis.py::kwic_snippets — ±30-char concordance
    -- around the first 'spark' hit, first 20 docs
    SELECT doc_id,
           CAST(strpos(lower(text), 'spark') AS BIGINT) AS pos,
           substring(text,
                     CAST(greatest(1, strpos(lower(text), 'spark') - 30) AS INT),
                     65) AS snippet
    FROM documents
    WHERE strpos(lower(text), 'spark') > 0
    ORDER BY doc_id LIMIT 20
"""

_ORACLES["template_opening_report"] = r"""
    -- operators/text_analysis.py::template_opening_report — shared
    -- 2-token openers covering >= 3 docs (fixture-calibrated defaults)
    WITH o AS (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 2 THEN array_to_string(toks[1:2], ' ') END AS opening
        FROM (
            SELECT doc_id, source,
                   list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                               x -> x <> '') AS toks
            FROM documents
        )
    )
    SELECT opening, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM o WHERE opening IS NOT NULL
    GROUP BY opening HAVING count(*) >= 3
"""

_ORACLES["part_abc_classification"] = """
    -- operators/analytics.py::part_abc_classification — cumulative
    -- revenue-share cuts over the part dimension (decimal cum-sums)
    WITH pp AS (
        SELECT l_partkey AS pkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        FROM lineitem GROUP BY 1
    ),
    c AS (
        SELECT rev,
               CASE WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, pkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                         / CAST(sum(rev) OVER () AS DOUBLE) <= 0.80 THEN 'A'
                    WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, pkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                         / CAST(sum(rev) OVER () AS DOUBLE) <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM pp
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           round(CAST(sum(rev) AS DOUBLE), 2) AS total_revenue,
           round(CAST(sum(rev) AS DOUBLE) / CAST(sum(sum(rev)) OVER () AS DOUBLE), 6)
               AS revenue_share
    FROM c GROUP BY abc_class
"""

_ORACLES["type_hourly_correlation"] = """
    -- operators/analytics.py::type_hourly_correlation — Pearson r of
    -- hourly count series per type pair (observed hours, inner join)
    WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_hours,
           round(corr(a.n, b.n), 6) + 0.0 AS pearson_r
    FROM h a JOIN h b ON a.hour = b.hour AND a.event_type < b.event_type
    GROUP BY 1, 2
"""

_ORACLES["try_arithmetic_functions"] = """
    -- __spark_entry__.py::_try_functions — try_* NULL-on-error
    -- semantics expressed as explicit CASE guards; overflow arm fires
    -- only on the ~0.1% l_orderkey %% 997 = 0 slice (see docstring)
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE round(l_extendedprice / l_discount, 6) END AS price_per_disc,
           CASE WHEN l_orderkey % 997 <> 0 THEN CAST(l_orderkey AS DOUBLE)
                WHEN l_orderkey = 0 THEN CAST(9223372036854775807 AS DOUBLE)
                ELSE NULL END AS add_overflow,
           CASE WHEN l_orderkey % 997 <> 0 THEN CAST(l_orderkey AS DOUBLE)
                WHEN l_orderkey = 0 THEN 0.0
                WHEN l_orderkey = 1 THEN CAST(9223372036854775807 AS DOUBLE)
                ELSE NULL END AS mul_overflow
    FROM lineitem
"""

_ORACLES["posexplode_tokens"] = r"""
    -- __spark_entry__.py::_posexplode_tokens — aligned ordinality via
    -- generate_subscripts (0-based like posexplode)
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
           unnest(toks) AS tok
    FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                           x -> x <> '') AS toks
        FROM documents WHERE doc_id < 50
    )
"""

_ORACLES["map_functions_pack"] = """
    -- __spark_entry__.py::_map_functions — the map interrogations as
    -- plain conditional aggregates
    WITH per AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_types,
           CAST(max(CASE WHEN event_type = 'click' THEN n END) AS DOUBLE) AS n_clicks
    FROM per GROUP BY user_id
"""


def _transpose_oracle() -> str:
    types = ["click", "error", "purchase", "signup", "view"]
    n_row = ", ".join(
        f"CAST(count(*) FILTER (event_type = '{t}') AS DOUBLE) AS {t}" for t in types
    )
    tot = lambda t: f"CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (event_type = '{t}') AS DOUBLE)"
    t_row = ", ".join(f"round({tot(t)}, 2) AS {t}" for t in types)
    a_row = ", ".join(
        f"round({tot(t)} / count(*) FILTER (event_type = '{t}'), 6) AS {t}" for t in types
    )
    return f"""
    -- __spark_entry__.py::_metric_transpose — DataFrame.transpose's
    -- output reconstructed as three conditional-aggregate arms
    SELECT 'n_events' AS key, {n_row} FROM events
    UNION ALL
    SELECT 'total_value' AS key, {t_row} FROM events
    UNION ALL
    SELECT 'avg_value' AS key, {a_row} FROM events
"""


_ORACLES["event_metric_transpose"] = _transpose_oracle()

_ORACLES["source_bigram_cross_entropy"] = r"""
    -- operators/text_analysis.py::source_bigram_cross_entropy —
    -- add-one bigram LM per source, scored cross-source
    WITH tok AS (
        SELECT source,
               list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                           x -> x <> '') AS toks
        FROM documents
    ),
    b AS (
        SELECT source, toks[i] AS w1, toks[i + 1] AS w2, count(*) AS n
        FROM (
            SELECT source, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM tok WHERE len(toks) >= 2
        )
        GROUP BY 1, 2, 3
    ),
    ctx AS (SELECT source, w1, sum(n) AS c1 FROM b GROUP BY 1, 2),
    vocab AS (
        SELECT source, count(DISTINCT tok) AS v
        FROM (SELECT source, unnest(toks) AS tok FROM tok)
        GROUP BY 1
    ),
    srcs AS (SELECT DISTINCT source AS lm_source FROM documents),
    grid AS (
        SELECT e.source AS eval_source, e.w1, e.w2, e.n AS n_e, s.lm_source
        FROM b e CROSS JOIN srcs s
    )
    SELECT g.lm_source, g.eval_source,
           CAST(sum(g.n_e) AS BIGINT) AS n_bigrams,
           round(-sum(g.n_e * ln(
               CAST(coalesce(bl.n, 0) + 1 AS DOUBLE)
               / CAST(coalesce(c.c1, 0) + v.v AS DOUBLE)
           )) / sum(g.n_e), 6) AS cross_entropy
    FROM grid g
    LEFT JOIN b bl ON bl.source = g.lm_source AND bl.w1 = g.w1 AND bl.w2 = g.w2
    LEFT JOIN ctx c ON c.source = g.lm_source AND c.w1 = g.w1
    JOIN vocab v ON v.source = g.lm_source
    GROUP BY 1, 2
"""

_ORACLES["l_diversity_audit"] = """
    -- operators/analytics.py::l_diversity_audit — homogeneity risk
    -- over the k-anonymity QI with order priority as sensitive attr
    SELECT c_mktsegment, c_nationkey,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY 1, 2, 3
    HAVING count(DISTINCT o_orderpriority) < 3
"""

_ORACLES["mann_whitney_u"] = """
    -- operators/analytics.py::mann_whitney_u — midranks from the
    -- per-distinct-value tie table, tie-corrected variance
    WITH per_v AS (
        SELECT value,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS na_v,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nb_v
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY 1
    ),
    ranked AS (
        SELECT na_v, nb_v,
               CAST(coalesce(sum(na_v + nb_v) OVER (
                   ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS DOUBLE)
                 + (CAST(na_v + nb_v AS DOUBLE) + 1.0) / 2.0 AS avg_rank,
               CAST((na_v + nb_v) * (na_v + nb_v) * (na_v + nb_v)
                    - (na_v + nb_v) AS DOUBLE) AS tie_term
        FROM per_v
    ),
    agg AS (
        SELECT CAST(sum(na_v) AS DOUBLE) AS n1,
               CAST(sum(nb_v) AS DOUBLE) AS n2,
               sum(na_v * avg_rank) AS r1,
               sum(tie_term) AS ties
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           round(r1 - n1 * (n1 + 1.0) / 2.0, 6) AS u_stat,
           CASE WHEN n1 * n2 / 12.0 * ((n1 + n2 + 1.0)
                     - ties / ((n1 + n2) * (n1 + n2 - 1.0))) > 0
                THEN round((r1 - n1 * (n1 + 1.0) / 2.0 - n1 * n2 / 2.0)
                           / sqrt(n1 * n2 / 12.0
                                  * ((n1 + n2 + 1.0)
                                     - ties / ((n1 + n2) * (n1 + n2 - 1.0)))), 6)
           END AS z_score
    FROM agg
"""

_ORACLES["user_journey_signatures"] = """
    -- operators/windows.py::user_journey_signatures — LISTAGG-style
    -- ordered path prefix, top-20 with text tiebreak
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    sig AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS signature
        FROM ranked WHERE rn <= 8 GROUP BY user_id
    )
    SELECT signature, CAST(count(*) AS BIGINT) AS n_users
    FROM sig GROUP BY 1
    ORDER BY n_users DESC, signature
    LIMIT 20
"""

_ORACLES["hourly_acf"] = """
    -- operators/windows.py::hourly_acf — dense-spine sample ACF as
    -- an explicit lag equi-join
    WITH hours AS (SELECT date_trunc('hour', ts) AS hour FROM events),
    bounds AS (SELECT min(hour) AS mn, max(hour) AS mx FROM hours),
    spine AS (
        SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    counts AS (SELECT hour, count(*) AS n FROM hours GROUP BY 1),
    series AS (
        SELECT CAST(floor(epoch(s.hour) / 3600) AS BIGINT) AS h,
               CAST(coalesce(c.n, 0) AS DOUBLE) AS n
        FROM spine s LEFT JOIN counts c USING (hour)
    ),
    lags AS (SELECT CAST(unnest([1, 2, 3, 6, 12, 24]) AS INTEGER) AS lag_hours)
    SELECT l.lag_hours,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(a.n, b.n), 6) + 0.0 AS acf
    FROM lags l
    JOIN series a ON true
    JOIN series b ON a.h = b.h + l.lag_hours
    GROUP BY 1
"""

_ORACLES["type_crosscorr_leadlag"] = """
    -- operators/windows.py::type_crosscorr_leadlag — zero-filled
    -- lead-lag correlation, corr(a[t], b[t+lag])
    WITH bounds AS (
        SELECT min(date_trunc('hour', ts)) AS mn,
               max(date_trunc('hour', ts)) AS mx
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    counts AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        FROM events WHERE event_type IN ('click', 'error')
        GROUP BY 1, 2
    ),
    sa AS (
        SELECT CAST(floor(epoch(s.hour) / 3600) AS BIGINT) AS h,
               CAST(coalesce(c.n, 0) AS DOUBLE) AS na
        FROM spine s
        LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = 'click'
    ),
    sb AS (
        SELECT CAST(floor(epoch(s.hour) / 3600) AS BIGINT) AS h,
               CAST(coalesce(c.n, 0) AS DOUBLE) AS nb
        FROM spine s
        LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = 'error'
    ),
    lags AS (SELECT CAST(unnest(generate_series(-6, 6)) AS INTEGER) AS lag_hours)
    SELECT l.lag_hours,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(a.na, b.nb), 6) + 0.0 AS xcorr
    FROM lags l
    JOIN sa a ON true
    JOIN sb b ON a.h + l.lag_hours = b.h
    GROUP BY 1
"""

_ORACLES["user_active_day_streaks"] = """
    -- operators/windows.py::user_active_day_streaks — gaps-and-islands
    WITH days AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS day_num
        FROM events
    ),
    isl AS (
        SELECT user_id,
               day_num - row_number() OVER (
                   PARTITION BY user_id ORDER BY day_num) AS island
        FROM days
    ),
    st AS (
        SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
        FROM isl GROUP BY 1, 2
    ),
    best AS (SELECT user_id, max(len) AS streak_days FROM st GROUP BY 1)
    SELECT streak_days, CAST(count(*) AS BIGINT) AS n_users
    FROM best GROUP BY 1
"""

_ORACLES["max_concurrent_sessions"] = """
    -- operators/windows.py::max_concurrent_sessions — sweep line over
    -- sessionized intervals; END sorts before START at equal ts
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) / 1000000.0
                         - lag(epoch_us(ts) / 1000000.0) OVER w > 1800.0
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM marked
    ),
    sessions AS (
        SELECT user_id, sess_no, min(ts) AS t_start, max(ts) AS t_end
        FROM numbered GROUP BY 1, 2
    ),
    sweep AS (
        SELECT t_start AS t, 1 AS delta, user_id, sess_no FROM sessions
        UNION ALL
        SELECT t_end AS t, -1 AS delta, user_id, sess_no FROM sessions
    ),
    running AS (
        SELECT t, delta,
               sum(delta) OVER (
                   ORDER BY t, delta, user_id, sess_no
                   ROWS UNBOUNDED PRECEDING) AS cur
        FROM sweep
    )
    SELECT strftime(date_trunc('day', t), '%Y-%m-%d') AS day,
           CAST(max(cur) AS BIGINT) AS max_concurrent
    FROM running WHERE delta = 1
    GROUP BY 1
"""

# --- wave 23 oracles -------------------------------------------------------

_ORACLES["spearman_time_value"] = """
    -- operators/analytics.py::spearman_time_value — midranks on both
    -- axes (rank + tie-count), Pearson corr of ranks per group
    WITH ranked AS (
        SELECT event_type,
               rank() OVER (PARTITION BY event_type ORDER BY epoch_us(ts))
                 + (count(*) OVER (PARTITION BY event_type, epoch_us(ts)) - 1) / 2.0 AS r_ts,
               rank() OVER (PARTITION BY event_type ORDER BY value)
                 + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS r_v
        FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(corr(r_ts, r_v), 6) + 0.0 AS rho
    FROM ranked GROUP BY event_type
    ORDER BY event_type
"""

_ORACLES["kendall_tau_daily"] = """
    -- operators/analytics.py::kendall_tau_daily — tau-b over the
    -- calendar-bounded day-pair grid, decimal-sum stabilized daily mean
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS x,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS y
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT b.x - a.x AS dx, b.y - a.y AS dy
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    agg AS (
        SELECT CAST(count(*) AS DOUBLE) AS n0,
               CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS c,
               CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS d,
               CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS tx,
               CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS ty
        FROM pairs
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           round(CASE WHEN sqrt((n0 - tx) * (n0 - ty)) > 0
                      THEN (c - d) / sqrt((n0 - tx) * (n0 - ty)) END, 6) + 0.0 AS tau_b
    FROM agg
"""

_ORACLES["theil_sen_daily_trend"] = """
    -- operators/analytics.py::theil_sen_daily_trend — median pairwise
    -- slope per group, median-of-residuals intercept
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS DOUBLE) AS d,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    slopes AS (
        SELECT a.event_type, (b.cnt - a.cnt) / (b.d - a.d) AS slope
        FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
    ),
    sen AS (
        SELECT event_type, quantile_cont(slope, 0.5) AS sen_slope
        FROM slopes GROUP BY event_type
    )
    SELECT daily.event_type, CAST(count(*) AS BIGINT) AS n_days,
           round(any_value(sen.sen_slope), 6) + 0.0 AS sen_slope,
           round(quantile_cont(cnt - sen.sen_slope * d, 0.5), 6) + 0.0 AS intercept
    FROM daily JOIN sen ON daily.event_type = sen.event_type
    GROUP BY daily.event_type ORDER BY daily.event_type
"""

_ORACLES["kruskal_wallis_value"] = """
    -- operators/analytics.py::kruskal_wallis_value — k-group midrank
    -- sums from the per-distinct-value tie table, tie-corrected H
    WITH per_vg AS (
        SELECT value, event_type, CAST(count(*) AS BIGINT) AS n_vg
        FROM events GROUP BY 1, 2
    ),
    per_v AS (SELECT value, sum(n_vg) AS t FROM per_vg GROUP BY 1),
    ranked_v AS (
        SELECT value,
               CAST(coalesce(sum(t) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
                 + (CAST(t AS DOUBLE) + 1.0) / 2.0 AS avg_rank,
               CAST(t * t * t - t AS DOUBLE) AS tie_term
        FROM per_v
    ),
    by_group AS (
        SELECT g.event_type,
               CAST(sum(g.n_vg) AS DOUBLE) AS n_g,
               sum(g.n_vg * r.avg_rank) AS r_g
        FROM per_vg g JOIN ranked_v r ON g.value = r.value
        GROUP BY 1
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k_groups, sum(n_g) AS n,
               sum(r_g * r_g / n_g) AS rr,
               (SELECT sum(tie_term) FROM ranked_v) AS tie_sum
        FROM by_group
    )
    SELECT k_groups, CAST(n AS BIGINT) AS n_total,
           round(12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1.0), 6) + 0.0 AS h_stat,
           round(CASE WHEN 1.0 - tie_sum / (n * n * n - n) > 0
                      THEN (12.0 / (n * (n + 1.0)) * rr - 3.0 * (n + 1.0))
                           / (1.0 - tie_sum / (n * n * n - n)) END, 6) + 0.0 AS h_corrected
    FROM agg
"""

# operators/windows.py::_dense_hourly_counts — the shared dense hour x
# event_type grid (zero-filled) the seasonal/changepoint oracles run on
_DENSE_HOURS_CTE = """
    bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    etypes AS (SELECT DISTINCT event_type FROM events),
    hcounts AS (
        SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type, s.hour,
               CAST(extract(hour FROM s.hour) AS INTEGER) AS hod,
               CAST(coalesce(c.cnt, 0) AS DOUBLE) AS cnt
        FROM spine s CROSS JOIN etypes t
        LEFT JOIN hcounts c ON c.hour = s.hour AND c.event_type = t.event_type
    )
"""

_ORACLES["cusum_hourly_changepoint"] = f"""
    -- operators/windows.py::cusum_hourly_changepoint — peak |CUSUM| of
    -- standardized dense hourly counts, 6dp-rounded before the argmax
    WITH {_DENSE_HOURS_CTE},
    z AS (
        SELECT event_type, hour,
               CASE WHEN stddev_pop(cnt) OVER (PARTITION BY event_type) > 0
                    THEN (cnt - avg(cnt) OVER (PARTITION BY event_type))
                         / stddev_pop(cnt) OVER (PARTITION BY event_type)
                    ELSE 0.0 END AS zv
        FROM dense
    ),
    cusum AS (
        SELECT event_type, hour,
               round(sum(zv) OVER (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0 AS s6
        FROM z
    ),
    ranked AS (
        SELECT event_type, hour, s6,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(s6) DESC, hour ASC) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_hours
        FROM cusum
    )
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
           strftime(hour, '%Y-%m-%d %H:%M:%S') AS peak_hour,
           s6 AS peak_cusum
    FROM ranked WHERE rn = 1 ORDER BY event_type
"""

_ORACLES["hourly_seasonality_profile"] = f"""
    -- operators/windows.py::hourly_seasonality_profile — hour-of-day
    -- means and multiplicative seasonal index over the dense grid
    WITH {_DENSE_HOURS_CTE},
    prof AS (
        SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n_hours,
               sum(cnt) AS sum_cnt
        FROM dense GROUP BY 1, 2
    )
    SELECT event_type, hod, n_hours,
           round(sum_cnt / n_hours, 6) AS mean_cnt,
           round(CASE WHEN sum(sum_cnt) OVER (PARTITION BY event_type)
                           / sum(n_hours) OVER (PARTITION BY event_type) > 0
                      THEN (sum_cnt / n_hours)
                           / (sum(sum_cnt) OVER (PARTITION BY event_type)
                              / sum(n_hours) OVER (PARTITION BY event_type))
                      ELSE 0.0 END, 6) AS seasonal_index
    FROM prof ORDER BY event_type, hod
"""

_ORACLES["seasonal_adjusted_anomalies"] = f"""
    -- operators/windows.py::seasonal_adjusted_anomalies — z vs own
    -- (type, hour-of-day) moments on the dense grid, |z| >= 3
    WITH {_DENSE_HOURS_CTE},
    scored AS (
        SELECT event_type, hour, hod, cnt,
               CASE WHEN stddev_pop(cnt) OVER (PARTITION BY event_type, hod) > 0
                    THEN (cnt - avg(cnt) OVER (PARTITION BY event_type, hod))
                         / stddev_pop(cnt) OVER (PARTITION BY event_type, hod)
                    END AS z
        FROM dense
    )
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, hod,
           CAST(cnt AS BIGINT) AS cnt, z
    FROM (
        SELECT event_type, hour, hod, cnt, round(z, 6) + 0.0 AS z
        FROM scored
    )
    -- threshold on the 6dp-ROUNDED z (matches the Spark side): a
    -- raw-z cut lets boundary rows flip membership on engine ulps
    WHERE abs(z) >= 3.0
    ORDER BY event_type, hour
"""

_ORACLES["seasonal_naive_backtest"] = f"""
    -- operators/windows.py::seasonal_naive_backtest — lag-1 vs lag-24
    -- one-step errors on the dense grid, paired eval window
    WITH {_DENSE_HOURS_CTE},
    scored AS (
        SELECT event_type, cnt,
               lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY hour) AS f_naive,
               lag(cnt, 24) OVER (PARTITION BY event_type ORDER BY hour) AS f_seasonal
        FROM dense
    ),
    agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
               avg(abs(cnt - f_naive)) AS mae_n,
               sqrt(avg((cnt - f_naive) * (cnt - f_naive))) AS rmse_n,
               avg(abs(cnt - f_seasonal)) AS mae_s,
               sqrt(avg((cnt - f_seasonal) * (cnt - f_seasonal))) AS rmse_s
        FROM scored WHERE f_seasonal IS NOT NULL
        GROUP BY 1
    )
    SELECT event_type, n_eval,
           round(mae_n, 6) AS mae_naive, round(rmse_n, 6) AS rmse_naive,
           round(mae_s, 6) AS mae_seasonal, round(rmse_s, 6) AS rmse_seasonal,
           round(CASE WHEN mae_n > 0 THEN 1.0 - mae_s / mae_n END, 6) + 0.0 AS skill
    FROM agg ORDER BY event_type
"""

_ORACLES["duplicate_shingle_fraction"] = f"""
    -- operators/text_analysis.py::duplicate_shingle_fraction — per-doc
    -- fraction of distinct 3-shingles with corpus doc-frequency >= 2
    WITH {_SHINGLES_CTE},
    docfreq AS (SELECT shingle, count(*) AS df FROM shn GROUP BY 1),
    per_doc AS (
        SELECT s.doc_id,
               CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) AS dup_frac
        FROM shn s JOIN docfreq f ON s.shingle = f.shingle
        GROUP BY 1
    )
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(p.dup_frac), 6) AS mean_dup_frac,
           round(max(p.dup_frac), 6) AS max_dup_frac,
           CAST(sum(CASE WHEN p.dup_frac > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY 1 ORDER BY 1
"""

_ORACLES["truncation_loss_report"] = r"""
    -- operators/text_analysis.py::truncation_loss_report — corpus token
    -- survival at each candidate context length
    WITH per_doc AS (
        SELECT CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'),
                    x -> x <> '')) AS BIGINT) AS n_tok
        FROM documents
    ),
    grid AS (
        SELECT n_tok, context_len
        FROM per_doc, (VALUES (CAST(128 AS INTEGER)), (CAST(512 AS INTEGER)),
                              (CAST(2048 AS INTEGER))) AS ls(context_len)
    )
    SELECT context_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tok > context_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(least(n_tok, CAST(context_len AS BIGINT))) AS BIGINT) AS kept_tokens,
           round(CASE WHEN sum(n_tok) > 0
                      THEN 1.0 - CAST(sum(least(n_tok, CAST(context_len AS BIGINT))) AS DOUBLE)
                           / CAST(sum(n_tok) AS DOUBLE)
                      ELSE 0.0 END, 6) AS loss_frac
    FROM grid GROUP BY 1 ORDER BY 1
"""

_ORACLES["token_fertility_by_source"] = r"""
    -- operators/text_analysis.py::token_fertility_by_source — chars and
    -- UTF-8 bytes per letters-only token, one hash agg on source
    WITH per_doc AS (
        SELECT source,
               CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}]+'),
                        x -> x <> '')) AS BIGINT) AS n_tok,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents
    ),
    agg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes
        FROM per_doc GROUP BY 1
    )
    SELECT source, n_docs, total_tokens, total_chars, total_bytes,
           round(CASE WHEN total_tokens > 0
                      THEN CAST(total_chars AS DOUBLE) / total_tokens
                      ELSE 0.0 END, 6) AS chars_per_token,
           round(CASE WHEN total_tokens > 0
                      THEN CAST(total_bytes AS DOUBLE) / total_tokens
                      ELSE 0.0 END, 6) AS bytes_per_token,
           round(CAST(total_tokens AS DOUBLE) / n_docs, 6) AS tokens_per_doc
    FROM agg ORDER BY source
"""

# --- wave 24 oracles -------------------------------------------------------

_ORACLES["lineitem_column_profile"] = """
    -- operators/analytics.py::lineitem_column_profile — Deequ-style
    -- column stats; exact decimal sums for the means (bit-stable)
    SELECT 'l_quantity' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           round(CAST(min(l_quantity) AS DOUBLE), 6) AS min_val,
           round(CAST(max(l_quantity) AS DOUBLE), 6) AS max_val,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / count(l_quantity), 6) AS mean_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           round(CAST(min(l_extendedprice) AS DOUBLE), 6),
           round(CAST(max(l_extendedprice) AS DOUBLE), 6),
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / count(l_extendedprice), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           round(CAST(min(l_discount) AS DOUBLE), 6),
           round(CAST(max(l_discount) AS DOUBLE), 6),
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                 / count(l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT l_tax) AS BIGINT),
           round(CAST(min(l_tax) AS DOUBLE), 6),
           round(CAST(max(l_tax) AS DOUBLE), 6),
           round(CAST(sum(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE)
                 / count(l_tax), 6)
    FROM lineitem
"""

_ORACLES["orders_constraint_audit"] = """
    -- operators/analytics.py::orders_constraint_audit — one left join
    -- on custkey (FK check) + one agg folds every rule; 4-row unpivot
    WITH j AS (
        SELECT o.*, c.c_custkey AS ck
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    w AS (
        SELECT CAST(count(*) AS BIGINT) AS n_checked,
               CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_positive_total,
               CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
                   AS BIGINT) AS v_status_domain,
               CAST(sum(CASE WHEN o_orderdate NOT BETWEEN TIMESTAMP '1995-01-01'
                                  AND TIMESTAMP '2000-12-31' THEN 1 ELSE 0 END)
                   AS BIGINT) AS v_date_range,
               CAST(sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS v_customer_fk
        FROM j
    )
    SELECT 'positive_total' AS rule, n_checked, v_positive_total AS n_violations,
           round(CAST(v_positive_total AS DOUBLE) / n_checked, 6) AS violation_rate
    FROM w
    UNION ALL
    SELECT 'status_domain', n_checked, v_status_domain,
           round(CAST(v_status_domain AS DOUBLE) / n_checked, 6) FROM w
    UNION ALL
    SELECT 'date_range', n_checked, v_date_range,
           round(CAST(v_date_range AS DOUBLE) / n_checked, 6) FROM w
    UNION ALL
    SELECT 'customer_fk', n_checked, v_customer_fk,
           round(CAST(v_customer_fk AS DOUBLE) / n_checked, 6) FROM w
"""

_ORACLES["embedding_isotropy_report"] = """
    -- operators/similarity.py::embedding_isotropy_report — mean pairwise
    -- cosine via the closed form (||sum of unit vecs||^2 - n)/(n(n-1));
    -- shuffle ~ labels x dim, never pairs
    WITH base AS (
        SELECT CAST(label AS BIGINT) AS label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    nz AS (SELECT label, e, nrm, len(e) AS dim FROM base WHERE nrm > 0),
    unitx AS (
        SELECT label,
               unnest(list_transform(e, x -> x / nrm)) AS uv,
               generate_subscripts(e, 1) AS dim_idx
        FROM nz
    ),
    per_dim AS (
        SELECT label, dim_idx, sum(uv) AS s FROM unitx GROUP BY 1, 2
    ),
    sums AS (SELECT label, sum(s * s) AS snormsq FROM per_dim GROUP BY 1),
    stats AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(max(dim) AS BIGINT) AS dim,
               round(avg(nrm), 6) AS avg_norm
        FROM nz GROUP BY 1
    )
    SELECT t.label, t.n_vectors, t.dim, t.avg_norm,
           round(CASE WHEN t.n_vectors > 1
                      THEN (s.snormsq - t.n_vectors)
                           / (t.n_vectors * (t.n_vectors - 1.0)) END, 6)
               + 0.0 AS avg_pairwise_cosine
    FROM stats t JOIN sums s ON t.label = s.label
"""

_ORACLES["embedding_norm_deciles"] = """
    -- operators/similarity.py::embedding_norm_deciles — ntile over
    -- (norm, vec_id); vec_id tiebreak keeps the assignment deterministic
    WITH nrm AS (
        SELECT vec_id AS vid,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    d AS (
        SELECT nrm, CAST(ntile(10) OVER (ORDER BY nrm, vid) AS INTEGER) AS decile
        FROM nrm
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_vectors,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm,
           round(avg(nrm), 6) AS avg_norm
    FROM d GROUP BY 1 ORDER BY 1
"""

_ORACLES["heaps_law_fit"] = r"""
    -- operators/text_analysis.py::heaps_law_fit — log-log OLS over the
    -- per-source cumulative (tokens, types) growth curve
    WITH words AS (
        SELECT source, doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                      x -> x <> '')) AS word
        FROM documents
    ),
    per_doc AS (
        SELECT source, doc_id, CAST(count(*) AS BIGINT) AS toks
        FROM words GROUP BY 1, 2
    ),
    firsts AS (
        SELECT source, word, min(doc_id) AS doc_id FROM words GROUP BY 1, 2
    ),
    news AS (
        SELECT source, doc_id, CAST(count(*) AS BIGINT) AS news
        FROM firsts GROUP BY 1, 2
    ),
    curve AS (
        SELECT p.source,
               sum(p.toks) OVER (PARTITION BY p.source ORDER BY p.doc_id) AS cum_toks,
               sum(coalesce(n.news, 0)) OVER (PARTITION BY p.source ORDER BY p.doc_id)
                   AS cum_types
        FROM per_doc p
        LEFT JOIN news n ON p.source = n.source AND p.doc_id = n.doc_id
    ),
    pts AS (
        SELECT source, ln(CAST(cum_toks AS DOUBLE)) AS x,
               ln(CAST(cum_types AS DOUBLE)) AS y
        FROM curve WHERE cum_toks > 0 AND cum_types > 0
    ),
    s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_points,
               CAST(count(*) AS DOUBLE) AS n,
               sum(x) AS sx, sum(x * x) AS sxx,
               sum(y) AS sy, sum(x * y) AS sxy, sum(y * y) AS syy
        FROM pts GROUP BY 1
    )
    SELECT source, n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS beta,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
               + 0.0 AS ln_k,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s WHERE n * sxx - sx * sx > 1e-9 AND n * syy - sy * sy > 1e-9
"""

# --- wave 25 oracles -------------------------------------------------------

_ORACLES["prefix_filter_jaccard_pairs"] = f"""
    -- operators/dedup.py::prefix_filter_jaccard_pairs — PPJoin-style
    -- prefix filtering at tau = 4/5; integer prefix length
    -- n - ceil(4n/5) + 1 (float 0.8*n would mis-ceil)
    WITH {_SHINGLES_CTE},
    freq AS (SELECT shingle, count(*) AS df_ FROM shn GROUP BY shingle),
    ranked AS (
        SELECT s.doc_id, s.shingle, z.n_sh,
               row_number() OVER (PARTITION BY s.doc_id
                                  ORDER BY f.df_, s.shingle) AS rk
        FROM shn s
        JOIN freq f ON s.shingle = f.shingle
        JOIN sizes z ON s.doc_id = z.doc_id
    ),
    prefix AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rk <= n_sh - ((4 * n_sh + 4) // 5) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM prefix a
        JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN shn x ON x.doc_id = c.doc_a
        JOIN shn y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
               AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
"""

_ORACLES["interarrival_stats"] = """
    -- operators/windows.py::interarrival_stats — integer-microsecond
    -- gaps (epoch_us == Spark's unix_micros), exact decimal sums in
    -- the variance closed form
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY event_type ORDER BY epoch_us(ts), event_id
               ) AS g
        FROM events
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(CAST(g AS DECIMAL(28,0))) AS DOUBLE) AS sg,
               CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
                    AS DOUBLE) AS sgg,
               CAST(max(g) AS DOUBLE) AS max_us,
               quantile_cont(g, 0.5) AS p50_us
        FROM gaps WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           round(sg / n_gaps / 1e6, 6) AS mean_gap_s,
           round(p50_us / 1e6, 6) AS p50_gap_s,
           round(max_us / 1e6, 6) AS max_gap_s,
           round(CASE WHEN sg > 0 THEN
                     sqrt(greatest((n_gaps * sgg - sg * sg)
                                   / (CAST(n_gaps AS DOUBLE) * n_gaps), 0.0))
                     / (sg / n_gaps) END, 6) + 0.0 AS cv_gap
    FROM s WHERE n_gaps > 0
"""

_ORACLES["hourly_fano_burstiness"] = """
    -- operators/windows.py::hourly_fano_burstiness — var/mean of the
    -- DENSE hourly series; integer sums are exact in doubles
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(
            (SELECT lo FROM bounds), (SELECT hi FROM bounds),
            INTERVAL 1 HOUR)) AS hour
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    counts AS (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM events GROUP BY 1, 2
    ),
    dense AS (
        SELECT t.event_type, s.hour, coalesce(c.cnt, 0.0) AS cnt
        FROM spine s CROSS JOIN types t
        LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               sum(cnt) AS sc, sum(cnt * cnt) AS scc
        FROM dense GROUP BY event_type
    )
    SELECT event_type, n_hours,
           round(sc / n_hours, 6) AS mean_cnt,
           round((n_hours * scc - sc * sc) / (n_hours * sc), 6) AS fano
    FROM s WHERE sc > 0
"""

_ORACLES["decile_shingle_drift"] = f"""
    -- operators/text_analysis.py::decile_shingle_drift — adjacent
    -- ingestion-decile shingle-inventory overlap; 1-row max-doc bound
    WITH {_SHINGLES_CTE},
    bound AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
    inv AS (
        SELECT DISTINCT
               CAST(least(9, floor(s.doc_id * 10 / b.n_docs)) AS BIGINT) AS decile,
               s.shingle
        FROM shn s CROSS JOIN bound b
    ),
    szs AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_sh FROM inv GROUP BY 1),
    common AS (
        SELECT a.decile AS decile_from, CAST(count(*) AS BIGINT) AS n_common
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND b.decile = a.decile + 1
        GROUP BY 1
    )
    SELECT f.decile AS decile_from, f.decile + 1 AS decile_to,
           f.n_sh AS n_from, t.n_sh AS n_to,
           coalesce(c.n_common, 0) AS n_common,
           round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
                 / (f.n_sh + t.n_sh - coalesce(c.n_common, 0)), 6) AS jaccard,
           round(CAST(coalesce(c.n_common, 0) AS DOUBLE) / f.n_sh, 6)
               AS containment_fwd,
           round(CAST(coalesce(c.n_common, 0) AS DOUBLE) / t.n_sh, 6)
               AS containment_bwd
    FROM szs f
    JOIN szs t ON t.decile = f.decile + 1
    LEFT JOIN common c ON c.decile_from = f.decile
"""

_ORACLES["cramers_v_order_attrs"] = """
    -- operators/analytics.py::cramers_v_order_attrs — chi² over the
    -- FULL r×c grid (empty cells contribute their expected count)
    WITH cell AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p,
               CAST(count(*) AS DOUBLE) AS obs
        FROM orders GROUP BY 1, 2
    ),
    row_m AS (SELECT s, sum(obs) AS row_n FROM cell GROUP BY 1),
    col_m AS (SELECT p, sum(obs) AS col_n FROM cell GROUP BY 1),
    tot AS (
        SELECT sum(obs) AS n,
               CAST(count(DISTINCT s) AS DOUBLE) AS r_d,
               CAST(count(DISTINCT p) AS DOUBLE) AS c_d
        FROM cell
    ),
    grid AS (
        SELECT rm.s, cm.p, rm.row_n, cm.col_n
        FROM row_m rm CROSS JOIN col_m cm
    ),
    f AS (
        SELECT any_value(t.n) AS n_d, any_value(t.r_d) AS r_d,
               any_value(t.c_d) AS c_d,
               sum(pow(coalesce(c2.obs, 0.0) - g.row_n * g.col_n / t.n, 2)
                   / (g.row_n * g.col_n / t.n)) AS chi2_raw
        FROM grid g
        LEFT JOIN cell c2 ON c2.s = g.s AND c2.p = g.p
        CROSS JOIN tot t
    )
    SELECT CAST(n_d AS BIGINT) AS n, CAST(r_d AS BIGINT) AS r,
           CAST(c_d AS BIGINT) AS c,
           CAST((r_d - 1) * (c_d - 1) AS BIGINT) AS dof,
           round(chi2_raw, 6) + 0.0 AS chi2,
           round(sqrt(chi2_raw / (n_d * least(r_d - 1, c_d - 1))), 6) + 0.0
               AS cramers_v
    FROM f
"""

_ORACLES["mutual_information_source_lang"] = """
    -- operators/text_analysis.py::mutual_information_source_lang —
    -- joint (source,lang) cells + marginal folds, entropies in nats
    WITH joint AS (
        SELECT source, lang, CAST(count(*) AS DOUBLE) AS nij
        FROM documents GROUP BY 1, 2
    ),
    sm AS (SELECT source, sum(nij) AS ni FROM joint GROUP BY 1),
    lm AS (SELECT lang, sum(nij) AS nj FROM joint GROUP BY 1),
    tot AS (SELECT sum(nij) AS n FROM joint),
    f AS (
        SELECT any_value(t.n) AS n_d,
               CAST(count(DISTINCT j.source) AS BIGINT) AS n_sources,
               CAST(count(DISTINCT j.lang) AS BIGINT) AS n_langs,
               sum((j.nij / t.n) * ln(j.nij * t.n / (s.ni * l.nj))) AS mi_raw,
               sum((j.nij / t.n) * ln(t.n / s.ni)) AS hs_raw,
               sum((j.nij / t.n) * ln(t.n / l.nj)) AS hl_raw
        FROM joint j
        JOIN sm s USING (source)
        JOIN lm l USING (lang)
        CROSS JOIN tot t
    )
    SELECT CAST(n_d AS BIGINT) AS n_docs, n_sources, n_langs,
           round(hs_raw, 6) + 0.0 AS h_source,
           round(hl_raw, 6) + 0.0 AS h_lang,
           round(mi_raw, 6) + 0.0 AS mi_nats,
           round(CASE WHEN hs_raw > 1e-12 AND hl_raw > 1e-12
                      THEN mi_raw / sqrt(hs_raw * hl_raw)
                      ELSE 0.0 END, 6) + 0.0 AS nmi
    FROM f
"""

_ORACLES["cohens_kappa_langid"] = """
    -- operators/text_analysis.py::cohens_kappa_langid — two
    -- deterministic raters (letters-token ' the ' hit; a-z+space
    -- char profile ≥95%, integer-rational comparison), 2×2 kappa
    WITH flagged AS (
        SELECT CASE WHEN position(
                   ' the ' IN ' ' || regexp_replace(lower(text), '[^a-z]+', ' ', 'g') || ' '
               ) > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS a,
               CASE WHEN length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) * 20
                        >= length(text) * 19
               THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS b
        FROM documents
    ),
    f AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, sum(a) AS na, sum(b) AS nb,
               sum(a * b) AS n_both
        FROM flagged
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(na / n, 6) AS p_a,
           round(nb / n, 6) AS p_b,
           round((n_both + (n - na - nb + n_both)) / n, 6) AS po,
           round((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n), 6) AS pe,
           round(CASE WHEN (na / n) * (nb / n) + (1 - na / n) * (1 - nb / n)
                           < 1.0 - 1e-12
                      THEN ((n_both + (n - na - nb + n_both)) / n
                            - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n)))
                           / (1.0 - ((na / n) * (nb / n)
                                     + (1 - na / n) * (1 - nb / n)))
                      ELSE 0.0 END, 6) + 0.0 AS kappa
    FROM f
"""

_ORACLES["theil_u_event_transitions"] = """
    -- operators/windows.py::theil_u_event_transitions — per-user lag
    -- stream (ties on event_id), n_types²-bounded pair table, U in nats
    WITH seq AS (
        SELECT event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_t
        FROM events
    ),
    pair AS (
        SELECT prev_t, event_type AS next_t, CAST(count(*) AS DOUBLE) AS nij
        FROM seq WHERE prev_t IS NOT NULL GROUP BY 1, 2
    ),
    pm AS (SELECT prev_t, sum(nij) AS ni FROM pair GROUP BY 1),
    nm AS (SELECT next_t, sum(nij) AS nj FROM pair GROUP BY 1),
    tot AS (SELECT sum(nij) AS n FROM pair),
    f AS (
        SELECT any_value(t.n) AS n_d,
               sum((p.nij / t.n) * ln(t.n / nm.nj)) AS h_next_raw,
               sum((p.nij / t.n) * ln(pm.ni / p.nij)) AS h_cond_raw
        FROM pair p
        JOIN pm USING (prev_t)
        JOIN nm USING (next_t)
        CROSS JOIN tot t
    )
    SELECT CAST(n_d AS BIGINT) AS n_transitions,
           round(h_next_raw, 6) + 0.0 AS h_next,
           round(h_cond_raw, 6) + 0.0 AS h_cond,
           round(CASE WHEN h_next_raw > 1e-12
                      THEN (h_next_raw - h_cond_raw) / h_next_raw
                      ELSE 0.0 END, 6) + 0.0 AS theil_u
    FROM f
"""

_ORACLES["embedding_sign_bucket_purity"] = """
    -- operators/similarity.py::embedding_sign_bucket_purity — 2-bit
    -- sign quadrant of dims 1-2, majority label per bucket (ties to
    -- the smaller label id)
    WITH cell AS (
        SELECT CAST((CASE WHEN embedding[1] > 0 THEN 2 ELSE 0 END)
                  + (CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END)
               AS INTEGER) AS bucket,
               label, CAST(count(*) AS BIGINT) AS n
        FROM embeddings
        WHERE label IS NOT NULL AND len(embedding) >= 2
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT bucket, label, n,
               sum(n) OVER (PARTITION BY bucket) AS n_vecs,
               count(*) OVER (PARTITION BY bucket) AS n_labels,
               row_number() OVER (
                   PARTITION BY bucket ORDER BY n DESC, label ASC
               ) AS rk
        FROM cell
    )
    SELECT bucket, CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(n_labels AS BIGINT) AS n_labels,
           label AS top_label,
           round(CAST(n AS DOUBLE) / n_vecs, 6) AS top_share
    FROM ranked WHERE rk = 1 ORDER BY bucket
"""

_ORACLES["value_distribution_distances"] = """
    -- operators/analytics.py::value_distribution_distances — shared
    -- 256-bin grid; KS / W1 / CvM / energy per unordered type pair
    WITH ev AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    bounds AS (SELECT min(value) AS v_min, max(value) AS v_max FROM ev),
    binned AS (
        SELECT event_type,
               CASE WHEN b.v_max > b.v_min
                    THEN least(255, CAST(floor(
                        (value - b.v_min) / (b.v_max - b.v_min) * 256
                    ) AS BIGINT))
                    ELSE 0 END AS bin,
               CAST(count(*) AS DOUBLE) AS cnt
        FROM ev CROSS JOIN bounds b
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT unnest(generate_series(0, 255)) AS bin,
               (b.v_max - b.v_min) / 256 AS width
        FROM bounds b
    ),
    types AS (SELECT event_type, sum(cnt) AS n_t FROM binned GROUP BY 1),
    grid AS (
        SELECT t.event_type, s.bin, s.width, t.n_t,
               coalesce(c.cnt, 0.0) AS cnt
        FROM types t
        CROSS JOIN spine s
        LEFT JOIN binned c ON c.event_type = t.event_type AND c.bin = s.bin
    ),
    cdf AS (
        SELECT event_type, bin, width, n_t,
               sum(cnt) OVER (
                   PARTITION BY event_type ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) / n_t AS cdf,
               cnt / n_t AS pmf
        FROM grid
    ),
    pair AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.n_t AS n_a, b.n_t AS n_b, a.width AS width,
               a.cdf AS fa, b.cdf AS fb, a.pmf AS pa, b.pmf AS pb
        FROM cdf a
        JOIN cdf b ON a.bin = b.bin AND a.event_type < b.event_type
    )
    SELECT type_a, type_b,
           CAST(any_value(n_a) AS BIGINT) AS n_a,
           CAST(any_value(n_b) AS BIGINT) AS n_b,
           round(max(abs(fa - fb)), 6) + 0.0 AS ks,
           round(sum(abs(fa - fb) * width), 6) + 0.0 AS w1,
           round(sum((fa - fb) * (fa - fb) * (pa + pb) / 2.0), 6) + 0.0 AS cvm,
           round(sum((2.0 * (fa + fb - 2.0 * fa * fb)
                      - 2.0 * fa * (1.0 - fa)
                      - 2.0 * fb * (1.0 - fb)) * width), 6) + 0.0 AS energy
    FROM pair
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

_ORACLES["join_key_skew_advisory"] = """
    -- operators/analytics.py::join_key_skew_advisory — one fold over
    -- the per-key count table; hot key via max(struct), ties to the
    -- smaller key
    WITH counts AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ),
    f AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               sum(cnt) / count(*) AS mean_raw,
               quantile_cont(CAST(cnt AS DOUBLE), 0.5) AS p50_raw,
               quantile_cont(CAST(cnt AS DOUBLE), 0.99) AS p99_raw,
               CAST(max(cnt) AS BIGINT) AS max_rows,
               max(struct_pack(c := cnt, nk := -l_partkey)) AS m
        FROM counts
    )
    SELECT n_rows, n_keys,
           round(mean_raw, 6) AS mean_rows,
           round(p50_raw, 6) AS p50_rows,
           round(p99_raw, 6) AS p99_rows,
           max_rows,
           CAST(-(m.nk) AS BIGINT) AS hot_key,
           round(max_rows / mean_raw, 6) AS skew_ratio,
           CAST(ceil(max_rows / greatest(p99_raw, 1.0)) AS BIGINT) AS salt_factor
    FROM f
"""

_ORACLES["shuffle_partition_balance"] = """
    -- operators/analytics.py::shuffle_partition_balance — integer
    -- mixer (exact in both engines), n_parts-bounded histogram
    WITH per AS (
        SELECT CAST((l_orderkey * 40503 + 997) % 2654435761 % 32 AS INTEGER)
                   AS partition_id,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1
    )
    SELECT partition_id, n_rows,
           round(CAST(n_rows AS DOUBLE) / sum(n_rows) OVER (), 6) AS share,
           round(CAST(n_rows AS DOUBLE) / avg(n_rows) OVER (), 6) AS dev_ratio
    FROM per ORDER BY partition_id
"""

_ORACLES["broadcast_planning_report"] = """
    -- operators/analytics.py::broadcast_planning_report — measured
    -- bytes: 8 per non-string column + strlen+4 per string (DuckDB
    -- strlen = bytes = Spark octet_length); 10 MiB threshold
    WITH u AS (
        SELECT 'region' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(8 + coalesce(strlen(r_name), 0) + 4) AS BIGINT)
                   AS est_bytes
        FROM region
        UNION ALL
        SELECT 'nation', CAST(count(*) AS BIGINT),
               CAST(sum(8 + 8 + coalesce(strlen(n_name), 0) + 4) AS BIGINT)
        FROM nation
        UNION ALL
        SELECT 'supplier', CAST(count(*) AS BIGINT),
               CAST(sum(8 + 8 + 8 + coalesce(strlen(s_name), 0) + 4) AS BIGINT)
        FROM supplier
        UNION ALL
        SELECT 'customer', CAST(count(*) AS BIGINT),
               CAST(sum(8 + 8 + 8
                        + coalesce(strlen(c_name), 0) + 4
                        + coalesce(strlen(c_mktsegment), 0) + 4) AS BIGINT)
        FROM customer
    )
    SELECT table_name, n_rows, est_bytes,
           round(CAST(est_bytes AS DOUBLE) / (1024.0 * 1024.0), 6) AS est_mb,
           CAST(est_bytes <= 10485760 AS INTEGER) AS broadcastable
    FROM u ORDER BY table_name
"""

_ORACLES["flesch_reading_ease_by_source"] = """
    -- operators/text_analysis.py::flesch_reading_ease_by_source —
    -- sentences=[.!?]+ runs, words=[a-z]+ tokens, syllables=[aeiouy]+
    -- runs; corpus-total form per source
    WITH per_doc AS (
        SELECT source,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE) AS w,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS DOUBLE) AS s,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS DOUBLE) AS y
        FROM documents
    ),
    agg AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               sum(w) AS tw, sum(s) AS ts, sum(y) AS ty
        FROM per_doc WHERE w > 0 GROUP BY 1
    )
    SELECT source, n_docs,
           round(tw / ts, 6) AS words_per_sentence,
           round(ty / tw, 6) AS syllables_per_word,
           round(206.835 - 1.015 * (tw / ts) - 84.6 * (ty / tw), 6) + 0.0
               AS flesch
    FROM agg ORDER BY source
"""

_ORACLES["brand_price_elasticity"] = """
    -- operators/analytics.py::brand_price_elasticity — per-part qty
    -- FIRST (join moves part-count rows), then per-brand 5-moment OLS
    WITH per_part AS (
        -- decimal-exact qty sum (ln() amplifies double-sum ulps)
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_quantity > 0 GROUP BY 1
    ),
    pts AS (
        -- 6-dp quantized log points: engine ln() ulp differences get
        -- amplified ~1e6× by the OLS on low-variance brands
        SELECT p.p_brand, round(ln(p.p_retailprice), 6) AS x,
               round(ln(pp.qty), 6) AS y
        FROM per_part pp
        JOIN part p ON pp.l_partkey = p.p_partkey
        WHERE p.p_retailprice > 0
    ),
    m AS (
        -- decimal(24,12) term sums: exact, order-independent (the
        -- intercept is O(100); double-sum ulp noise shows at 6 dp)
        SELECT p_brand, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(24,12))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(24,12))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * x AS DECIMAL(24,12))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(24,12))) AS DOUBLE) AS syy,
               CAST(sum(CAST(x * y AS DECIMAL(24,12))) AS DOUBLE) AS sxy
        FROM pts GROUP BY 1
    )
    SELECT p_brand, CAST(n AS BIGINT) AS n_parts,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) + 0.0
               AS elasticity,
           round((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx) / n, 6)
               + 0.0 AS intercept,
           round(CASE WHEN (syy - sy * sy / n) > 1e-9
                      THEN (sxy - sx * sy / n) * (sxy - sx * sy / n)
                           / ((sxx - sx * sx / n) * (syy - sy * sy / n))
                      ELSE 0.0 END, 6) + 0.0 AS r2
    FROM m WHERE (sxx - sx * sx / n) > 1e-9
    ORDER BY p_brand
"""

_ORACLES["discount_quantity_response"] = """
    -- operators/analytics.py::discount_quantity_response — bounded
    -- 2-dp discount-level key, one hash agg + tiny window
    WITH lvl AS (
        SELECT round(l_discount, 2) AS discount_level, l_quantity,
               l_extendedprice / l_quantity AS unit_price
        FROM lineitem WHERE l_quantity > 0
    ),
    agg AS (
        SELECT discount_level, CAST(count(*) AS BIGINT) AS n_items,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(unit_price), 6) AS avg_unit_price
        FROM lvl GROUP BY 1
    )
    SELECT discount_level, n_items, avg_qty, avg_unit_price,
           round(CAST(n_items AS DOUBLE) / sum(n_items) OVER (), 6)
               AS share_of_rows
    FROM agg ORDER BY discount_level
"""

_ORACLES["nation_revenue_inequality"] = """
    -- operators/analytics.py::nation_revenue_inequality — Gini (rank
    -- form), Theil T within, Atkinson ε=1 per nation; decimal-exact
    -- revenue, μ = tot/n by construction
    WITH rev0 AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
    ),
    rev AS (SELECT * FROM rev0 WHERE x > 0),
    keyed AS (
        SELECT n.n_name, r.o_custkey, r.x
        FROM rev r
        JOIN customer c ON r.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    ranked AS (
        SELECT n_name, x,
               CAST(row_number() OVER (
                   PARTITION BY n_name ORDER BY x, o_custkey
               ) AS DOUBLE) AS i
        FROM keyed
    ),
    per_nation AS (
        SELECT n_name, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS tot,
               sum(i * x) AS ix, sum(ln(x)) AS slnx
        FROM ranked GROUP BY 1
    ),
    pn AS (SELECT *, tot / n AS mu FROM per_nation),
    tt AS (
        SELECT k.n_name AS t_name, sum(k.x * ln(k.x / p.mu)) AS xlnx
        FROM keyed k JOIN pn p ON k.n_name = p.n_name GROUP BY 1
    )
    SELECT p.n_name, CAST(p.n AS BIGINT) AS n_cust,
           round(p.tot, 2) AS total_rev,
           round(p.tot / sum(p.tot) OVER (), 6) AS rev_share,
           round(2.0 * p.ix / (p.n * p.tot) - (p.n + 1.0) / p.n, 6) + 0.0
               AS gini,
           round(t.xlnx / p.tot, 6) + 0.0 AS theil_within,
           round(1.0 - exp(p.slnx / p.n) / p.mu, 6) + 0.0 AS atkinson
    FROM pn p JOIN tt t ON p.n_name = t.t_name
    ORDER BY p.n_name
"""

_ORACLES["nelson_aalen_hazard"] = """
    -- operators/windows.py::nelson_aalen_hazard — same censored gap
    -- stream as km_gap_survival; H(t)=Σ d/n, −ln(KM) cross-check
    -- NULLed (inner AND outer) at a bucket where d == n (ln 0)
    WITH horizon AS (SELECT max(epoch_us(ts) / 1000000.0) AS h FROM events),
    gaps AS (
        SELECT CAST(floor((coalesce(nxt, hz.h) - tsd) / 60.0) AS BIGINT)
                   AS gap_min,
               CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS censored
        FROM (
            SELECT user_id, epoch_us(ts) / 1000000.0 AS tsd,
                   lead(epoch_us(ts) / 1000000.0) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS nxt
            FROM events
        ) g CROSS JOIN horizon hz
    ),
    buckets AS (
        SELECT gap_min,
               CAST(sum(1 - censored) AS BIGINT) AS n_deaths,
               CAST(sum(censored) AS BIGINT) AS n_censored
        FROM gaps GROUP BY 1
    ),
    risked AS (
        SELECT gap_min, n_deaths,
               CAST(sum(n_deaths + n_censored) OVER ()
                    - coalesce(sum(n_deaths + n_censored) OVER (
                          ORDER BY gap_min
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0) AS BIGINT) AS n_at_risk
        FROM buckets
    )
    SELECT gap_min, n_at_risk, n_deaths,
           round(sum(CAST(n_deaths AS DOUBLE) / n_at_risk) OVER (
               ORDER BY gap_min
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 6) AS na_cum_hazard,
           CASE WHEN n_deaths = n_at_risk THEN NULL
                ELSE round(-sum(
                    CASE WHEN n_deaths = n_at_risk THEN NULL
                         ELSE ln(1.0 - CAST(n_deaths AS DOUBLE) / n_at_risk)
                    END
                ) OVER (
                    ORDER BY gap_min
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ), 6)
           END AS km_neg_log_surv
    FROM risked
    ORDER BY gap_min
"""

_ORACLES["tfidf_cosine_pairs"] = r"""
    -- operators/text_analysis.py::tfidf_cosine_pairs — rational idf
    -- (n_docs/df), postings capped at df ≤ 256, norms over the SAME
    -- capped vectors; cosine ≥ 0.3
    WITH words AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'),
                                  x -> x <> '')) AS word
        FROM documents
    ),
    tf AS (
        SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
        FROM words GROUP BY 1, 2
    ),
    docfreq AS (
        SELECT word, CAST(count(*) AS DOUBLE) AS df_w FROM tf GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    postings AS (
        SELECT tf.word, tf.doc_id, tf.tf * n.n_docs / d.df_w AS w
        FROM tf
        JOIN docfreq d ON tf.word = d.word AND d.df_w <= 256
        CROSS JOIN n
    ),
    norms AS (
        SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM postings GROUP BY 1
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_common_terms,
               sum(a.w * b.w) AS dot
        FROM postings a
        JOIN postings b ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b, d.n_common_terms,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= 0.3
    ORDER BY d.doc_a, d.doc_b
"""

_ORACLES["median_order_stat_ci"] = """
    -- operators/analytics.py::median_order_stat_ci — binomial-rank
    -- (z=1.96) distribution-free CI; ranks tie-break on event_id
    WITH ev AS (
        SELECT event_type, value, event_id FROM events
        WHERE value IS NOT NULL
    ),
    counts AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n FROM ev GROUP BY 1
    ),
    bounds AS (
        SELECT event_type, n,
               greatest(1, CAST(floor((n - 1.96 * sqrt(n)) / 2.0) AS BIGINT))
                   AS lo_rank,
               least(CAST(n AS BIGINT),
                     CAST(ceil((n + 1.96 * sqrt(n)) / 2.0) AS BIGINT) + 1)
                   AS hi_rank
        FROM counts
    ),
    ranked AS (
        SELECT e.event_type, e.value, b.n, b.lo_rank, b.hi_rank,
               CAST(row_number() OVER (
                   PARTITION BY e.event_type ORDER BY e.value, e.event_id
               ) AS BIGINT) AS rk
        FROM ev e JOIN bounds b ON e.event_type = b.event_type
    )
    SELECT event_type, CAST(any_value(n) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 6) AS median,
           round(max(CASE WHEN rk = lo_rank THEN value END), 6) AS ci_lo,
           round(max(CASE WHEN rk = hi_rank THEN value END), 6) AS ci_hi
    FROM ranked GROUP BY 1 ORDER BY 1
"""

_ORACLES["partition_layout_advisory"] = """
    -- operators/analytics.py::partition_layout_advisory — measured
    -- integer byte sums (exact), 128 MiB file target, 16 MiB floor
    WITH base AS (
        SELECT event_type AS k1, CAST(ts AS DATE) AS k2,
               CAST(32 + coalesce(strlen(event_type), 0) + 4
                       + coalesce(strlen(props), 0) + 4 AS BIGINT) AS b
        FROM events
    ),
    u AS (
        SELECT 'event_type' AS candidate,
               CAST(count(DISTINCT k1) AS BIGINT) AS n_values,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(b) AS BIGINT) AS total_bytes
        FROM base
        UNION ALL
        SELECT 'event_date',
               CAST(count(DISTINCT k2) AS BIGINT),
               CAST(count(*) AS BIGINT),
               CAST(sum(b) AS BIGINT)
        FROM base
    )
    SELECT candidate, n_values,
           CAST(floor(CAST(n_rows AS DOUBLE) / n_values) AS BIGINT)
               AS rows_per_value,
           round(CAST(total_bytes AS DOUBLE) / n_values / (1024.0 * 1024.0), 6)
               AS est_mb_per_value,
           greatest(1, CAST(ceil(CAST(total_bytes AS DOUBLE) / n_values
                                 / (1024.0 * 1024.0) / 128.0) AS BIGINT))
               AS files_per_value,
           CASE WHEN n_values < 4 THEN 'TOO_COARSE'
                WHEN CAST(total_bytes AS DOUBLE) / n_values
                     / (1024.0 * 1024.0) < 16.0 THEN 'TOO_GRANULAR'
                ELSE 'OK' END AS verdict
    FROM u WHERE n_values > 0 ORDER BY candidate
"""

_ORACLES["changepoint_segmented_trend"] = f"""
    -- operators/windows.py::changepoint_segmented_trend — CUSUM-peak
    -- break (identical pick to cusum_hourly_changepoint), then exact
    -- integer-moment OLS on each side and the fitted boundary shift
    WITH {{dense_cte}},
    z AS (
        SELECT event_type, hour, CAST(cnt AS DOUBLE) AS c,
               CASE WHEN stddev_pop(cnt) OVER (PARTITION BY event_type) > 0
                    THEN (cnt - avg(cnt) OVER (PARTITION BY event_type))
                         / stddev_pop(cnt) OVER (PARTITION BY event_type)
                    ELSE 0.0 END AS zv
        FROM dense
    ),
    cur AS (
        SELECT event_type, hour, c,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY hour
               ) AS DOUBLE) AS t,
               round(sum(zv) OVER (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     6) + 0.0 AS s6
        FROM z
    ),
    brk AS (
        SELECT event_type AS b_type, t AS tb,
               strftime(hour, '%Y-%m-%d %H:%M:%S') AS break_hour
        FROM (
            SELECT event_type, hour, t,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY abs(s6) DESC, hour ASC) AS rn
            FROM cur
        ) WHERE rn = 1
    ),
    m AS (
        SELECT cur.event_type,
               CASE WHEN cur.t <= b.tb THEN 1 ELSE 0 END AS pre,
               CAST(count(*) AS DOUBLE) AS n,
               sum(cur.t) AS st, sum(cur.c) AS sc,
               sum(cur.t * cur.t) AS stt, sum(cur.t * cur.c) AS stc
        FROM cur JOIN brk b ON cur.event_type = b.b_type
        GROUP BY 1, 2
    ),
    fitted AS (
        SELECT event_type, pre, n,
               CASE WHEN (stt - st * st / n) > 1e-9
                    THEN (stc - st * sc / n) / (stt - st * st / n)
               END AS b,
               (sc - (CASE WHEN (stt - st * st / n) > 1e-9
                           THEN (stc - st * sc / n) / (stt - st * st / n)
                      END) * st) / n AS a
        FROM m
    ),
    piv AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS n_hours,
               max(CASE WHEN pre = 1 THEN b END) AS b_pre,
               max(CASE WHEN pre = 1 THEN a END) AS a_pre,
               max(CASE WHEN pre = 0 THEN b END) AS b_post,
               max(CASE WHEN pre = 0 THEN a END) AS a_post
        FROM fitted GROUP BY 1
    )
    SELECT p.event_type, p.n_hours, b.break_hour,
           CAST(b.tb AS BIGINT) AS t_break,
           round(p.b_pre, 6) + 0.0 AS slope_pre,
           round(p.b_post, 6) + 0.0 AS slope_post,
           round((p.a_post + p.b_post * (b.tb + 0.5))
                 - (p.a_pre + p.b_pre * (b.tb + 0.5)), 6) + 0.0 AS level_shift
    FROM piv p JOIN brk b ON p.event_type = b.b_type
    ORDER BY p.event_type
""".format(dense_cte=_DENSE_HOURS_CTE)

_ORACLES["basket_triple_itemsets"] = """
    -- operators/analytics.py::basket_triple_itemsets — the oracle
    -- verifies with the plain 3-way basket join: Apriori pruning on
    -- the Spark side is LOSSLESS for equal min-supports (every
    -- sub-pair of a support-s triple has support ≥ s), so the sets
    -- must agree exactly
    WITH items AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS n_orders FROM items),
    singles AS (
        SELECT pkey, CAST(count(*) AS DOUBLE) AS n_1 FROM items GROUP BY 1
    ),
    tri AS (
        SELECT a.pkey AS pa, b.pkey AS pb, c.pkey AS pc,
               CAST(count(*) AS BIGINT) AS n_all3
        FROM items a
        JOIN items b ON a.okey = b.okey AND a.pkey < b.pkey
        JOIN items c ON a.okey = c.okey AND b.pkey < c.pkey
        GROUP BY 1, 2, 3
        HAVING count(*) >= 2
    )
    SELECT t.pa AS part_a, t.pb AS part_b, t.pc AS part_c, t.n_all3,
           round(t.n_all3 / n.n_orders, 6) AS support,
           round((t.n_all3 / n.n_orders)
                 / ((sa.n_1 / n.n_orders) * (sb.n_1 / n.n_orders)
                    * (sc.n_1 / n.n_orders)), 6) AS lift
    FROM tri t
    JOIN singles sa ON sa.pkey = t.pa
    JOIN singles sb ON sb.pkey = t.pb
    JOIN singles sc ON sc.pkey = t.pc
    CROSS JOIN n
    ORDER BY 1, 2, 3
"""

_ORACLES["weekly_psi_series"] = """
    -- operators/analytics.py::weekly_psi_series — baseline-week decile
    -- bins, 0.5-count smoothing, PSI vs week 0 (which reads exactly 0)
    WITH ev AS (
        SELECT date_trunc('week', ts) AS wk, value
        FROM events WHERE value IS NOT NULL
    ),
    bw AS (SELECT min(wk) AS w0 FROM ev),
    edges AS (
        SELECT quantile_cont(value, 0.1) AS e1, quantile_cont(value, 0.2) AS e2,
               quantile_cont(value, 0.3) AS e3, quantile_cont(value, 0.4) AS e4,
               quantile_cont(value, 0.5) AS e5, quantile_cont(value, 0.6) AS e6,
               quantile_cont(value, 0.7) AS e7, quantile_cont(value, 0.8) AS e8,
               quantile_cont(value, 0.9) AS e9
        FROM ev, bw WHERE ev.wk = bw.w0
    ),
    binned AS (
        SELECT wk,
               CAST(value > e1 AS INT) + CAST(value > e2 AS INT)
             + CAST(value > e3 AS INT) + CAST(value > e4 AS INT)
             + CAST(value > e5 AS INT) + CAST(value > e6 AS INT)
             + CAST(value > e7 AS INT) + CAST(value > e8 AS INT)
             + CAST(value > e9 AS INT) AS bin
        FROM ev CROSS JOIN edges
    ),
    cell AS (
        SELECT wk, bin, CAST(count(*) AS DOUBLE) AS cnt
        FROM binned GROUP BY 1, 2
    ),
    wt AS (SELECT wk, sum(cnt) AS n_wk FROM cell GROUP BY 1),
    spine AS (
        SELECT wt.wk, wt.n_wk, s.bin
        FROM wt CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) s
    ),
    dense AS (
        SELECT sp.wk, sp.bin, sp.n_wk,
               greatest(coalesce(c.cnt, 0.0), 0.5) / sp.n_wk AS p
        FROM spine sp LEFT JOIN cell c ON c.wk = sp.wk AND c.bin = sp.bin
    ),
    base AS (SELECT d.bin, d.p AS p0 FROM dense d, bw WHERE d.wk = bw.w0)
    SELECT strftime(d.wk, '%Y-%m-%d') AS week_start,
           CAST(any_value(d.n_wk) AS BIGINT) AS n,
           round(sum((d.p - b.p0) * ln(d.p / b.p0)), 6) + 0.0 AS psi
    FROM dense d JOIN base b ON b.bin = d.bin
    GROUP BY 1 ORDER BY 1
"""

_ORACLES["neyman_allocation"] = """
    -- operators/analytics.py::neyman_allocation — n_h ∝ N_h·S_h with a
    -- 10k budget, vs the proportional split
    WITH s AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n_h,
               coalesce(stddev_pop(value), 0.0) AS s_h
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT sum(n_h * s_h) AS sw, sum(n_h) AS sn FROM s)
    SELECT event_type, CAST(n_h AS BIGINT) AS n_h,
           round(s_h, 6) AS stddev_value,
           round(CASE WHEN t.sw > 0 THEN n_h * s_h / t.sw ELSE 0.0 END, 6)
               AS neyman_share,
           CAST(round(CASE WHEN t.sw > 0 THEN 10000 * n_h * s_h / t.sw
                           ELSE 0.0 END, 0) AS BIGINT) AS neyman_n,
           CAST(round(10000 * n_h / t.sn, 0) AS BIGINT) AS proportional_n
    FROM s CROSS JOIN t ORDER BY 1
"""

_ORACLES["order_reconciliation_audit"] = """
    -- operators/analytics.py::order_reconciliation_audit — header vs
    -- recomputed line totals (cents-rounded per line, decimal-exact
    -- sum); the reconciled CASE yields 0 (not NULL) for non-matching
    -- rows to mirror Spark's boolean cast
    WITH per_order AS (
        SELECT l_orderkey,
               CAST(sum(CAST(round(
                   l_extendedprice * (1 - l_discount) * (1 + l_tax), 2
               ) AS DECIMAL(18,2))) AS DOUBLE) AS calc
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT o.o_orderstatus, p.calc,
               round(abs(o.o_totalprice - p.calc), 2) AS d
        FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(calc) AS BIGINT) AS n_with_lines,
           CAST(sum(CASE WHEN calc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan,
           CAST(sum(CASE WHEN d <= 0.01 THEN 1
                         WHEN d IS NOT NULL THEN 0 END) AS BIGINT)
               AS n_reconciled,
           round(sum(CASE WHEN d <= 0.01 THEN 1
                          WHEN d IS NOT NULL THEN 0 END)
                 / CAST(count(calc) AS DOUBLE), 6) AS reconcile_rate,
           round(quantile_cont(d, 0.5), 6) AS p50_abs_diff,
           round(max(d), 2) AS max_abs_diff
    FROM j GROUP BY 1 ORDER BY 1
"""

# streaming/events_stream.py::streaming_near_dup_docs — on finite
# availableNow input, dropDuplicatesWithinWatermark keyed on the full
# 12-minhash signature equals a batch distinct-signature count per
# source (the dedup key includes source, so counts are deterministic
# regardless of which copy survives). Round-9 signature: ONE md5 per
# shingle, 28-bit hex→int (CAST('0x'||substr(md5,1,7) AS BIGINT) ≡
# Spark conv(...,16,10)), then seed s = (Aₛ·h + Bₛ) mod P with
# Aₛ = 2654435761 + 2s, Bₛ = 104729·s + 12345, P = 4294967291 — the
# MINHASH_MIX_* contract in streaming/events_stream.py.
_ORACLES["streaming_near_dup_docs"] = f"""
    WITH {_SHINGLES_CTE},
    seeds AS (SELECT unnest(range(12)) AS seed),
    hs AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS h
        FROM shn
    ),
    mh AS (
        SELECT doc_id, seed,
               min(((2654435761 + 2 * seed) * h + 104729 * seed + 12345)
                   % 4294967291) AS mh
        FROM hs CROSS JOIN seeds
        GROUP BY doc_id, seed
    ),
    sig AS (
        SELECT doc_id,
               string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
        FROM mh GROUP BY doc_id
    )
    SELECT d.source, CAST(count(DISTINCT s.sig) AS BIGINT) AS n_unique_docs
    FROM sig s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source
"""

# functions/udtf.py::NgramExplode via __spark_entry__::_polymorphic_trigrams
# — the dynamic-schema UDTF's rows are plain positional trigrams (NOT
# the distinct shingles of _SHINGLES_CTE), counted corpus-wide
_ORACLES["polymorphic_trigram_topk"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> '')) AS tok,
               generate_subscripts(list_filter(regexp_split_to_array(text, '[^\p{L}]+'), x -> x <> ''), 1) AS pos
        FROM documents
    ),
    tri AS (
        SELECT tok AS tok_1,
               lead(tok, 1) OVER w AS tok_2,
               lead(tok, 2) OVER w AS tok_3
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT tok_1, tok_2, tok_3, count(*) AS cnt
    FROM tri
    WHERE tok_3 IS NOT NULL
    GROUP BY tok_1, tok_2, tok_3
    ORDER BY cnt DESC, tok_1, tok_2, tok_3
    LIMIT 25
"""

# operators/merge.py::cdc_apply_changes via __spark_entry__::_cdc_state —
# winner per key = row_number over (seq DESC, op DESC); a winning 'D'
# removes the key, 'U'/'I' upserts last-writer-wins
_ORACLES["cdc_orders_state"] = """
    WITH target AS (
        SELECT o_orderkey, o_orderstatus,
               round(CAST(o_totalprice AS DOUBLE), 2) AS price
        FROM orders WHERE o_orderkey % 4 <> 0
    ),
    changes AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.05, 2)
                    AS DOUBLE) AS price,
               o_orderkey % 5 + 1 AS seq, 'U' AS op
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE),
               o_orderkey % 5 + 2, 'D'
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               round(CAST(o_totalprice AS DOUBLE), 2), 1, 'I'
        FROM orders WHERE o_orderkey % 4 = 0
    ),
    latest AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
        FROM changes
    )
    SELECT o_orderkey, o_orderstatus, price FROM target
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest WHERE rn = 1)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, price FROM latest
    WHERE rn = 1 AND op <> 'D'
"""

# operators/skew.py::salted_join via __spark_entry__::_salted_segment_value
# — the salted (user_id, salt) join is row-identical to the plain join
# for any salt assignment (the salt only relocates rows between
# reducers), so the oracle is the UNSALTED SQL join: the strongest
# possible check that salting never changes results
_ORACLES["salted_segment_value"] = """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 4)
               AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
"""

# functions/udtf.py::SessionizeEvents via _sessionize_table_udtf — the
# TABLE-argument UDTF reproduces windows.py::sessionize exactly (same
# gap rule, 1-based session_seq, same output grain), so it shares the
# sessionize oracle verbatim
_ORACLES["sessionize_table_udtf"] = _ORACLES["sessionize"]

# analytics.py::last_click_before_purchase_cogrouped — the cogrouped-map
# (two-input per-key applyInPandas) form reproduces the windowed as-of
# join exactly, so it shares last_click_before_purchase's oracle
_ORACLES["asof_cogrouped_clicks"] = _ORACLES["last_click_before_purchase"]

# corpus.py::observed_ingest_metrics — the Observation-API ride-along
# aggregates must equal a plain second-pass scan's ground truth
_ORACLES["observed_ingest_metrics"] = """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(count(CASE WHEN length(text) = 0 THEN 1 END) AS BIGINT)
               AS n_empty_text
    FROM documents
"""

# streaming/recovery.py::streaming_dedup_kill_recover — the checkpointed
# streaming dedup is STOPPED after 2 committed micro-batches (mid-drain
# of 8 duplicate-bearing chunk files) and RESUMED from the checkpoint;
# the recovered sink must equal batch DISTINCT over the same rows.
# Duplicates are injected so they straddle the stop point: equality
# proves state-store restore AND the file sink's exactly-once commit
# log. event_id is unique in the fixture, so DISTINCT here is the
# injected-duplicate collapse, nothing else.
_ORACLES["streaming_kill_recover_dedup"] = """
    SELECT DISTINCT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
"""

# streaming/cdc_stream.py::streaming_cdc_apply — the incremental
# (micro-batched, seq-DESCENDING delivery) APPLY CHANGES must equal the
# one-shot batch MERGE over the same change log, so it shares
# cdc_orders_state's oracle verbatim; equality proves carried-(seq,op)
# state + tombstones make piecewise application order-insensitive
_ORACLES["streaming_cdc_apply_changes"] = _ORACLES["cdc_orders_state"]

# streaming/introspection.py::state_store_audit — the state data source
# reads the drained dedup stream's checkpoint back as a DataFrame; its
# key set must equal batch DISTINCT event_id (event_id is unique in the
# fixture, so this is the full key inventory), proving the introspection
# surface reads the store completely and exactly
_ORACLES["state_store_audit"] = """
    SELECT DISTINCT event_id FROM events
"""

# operators/pandas_api.py::ps_orders_status_profile — the pandas-API-on-
# Spark compatibility layer must compute the same answer SQL semantics
# demand (count/sum/mean/max per status, floats rounded for the hash)
_ORACLES["ps_orders_status_profile"] = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS total_revenue,
           round(avg(CAST(o_totalprice AS DOUBLE)), 2) AS avg_price,
           round(max(CAST(o_totalprice AS DOUBLE)), 2) AS max_price
    FROM orders
    GROUP BY o_orderstatus
"""

# functions/sql_surface.py::sql_scripting_coverage_threshold — the
# procedural WHILE loop's fixpoint re-derived declaratively: the
# smallest power of two whose order-price coverage ≥ 0.9, with the
# coverage fraction evaluated at exactly that threshold
_ORACLES["sql_scripting_coverage_threshold"] = """
    WITH cand AS (
        SELECT power(2, g) AS thr FROM generate_series(1, 40) t(g)
    ),
    cov AS (
        SELECT thr,
               (SELECT avg(CASE WHEN CAST(o_totalprice AS DOUBLE) <= thr
                           THEN 1.0 ELSE 0.0 END) FROM orders) AS frac
        FROM cand
    )
    SELECT CAST(thr AS DOUBLE) AS threshold, round(frac, 6) AS covered_frac
    FROM cov WHERE frac >= 0.9
    ORDER BY thr LIMIT 1
"""

# functions/sql_surface.py::sql_udf_price_bands — SQL UDFs are inlined
# at analysis time; the oracle inlines the body by hand
_ORACLES["sql_udf_price_bands"] = """
    SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) < 50000 THEN 'low'
                WHEN CAST(o_totalprice AS DOUBLE) < 150000 THEN 'mid'
                ELSE 'high' END AS band,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS total_revenue
    FROM orders
    GROUP BY 1
"""

# functions/sql_surface.py::collated_type_counts — UTF8_LCASE grouping
# over deterministically case-scrambled part types ≡ lower()-keyed
# grouping on ASCII data
_ORACLES["collated_type_counts"] = """
    SELECT lower(CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                      ELSE lower(p_type) END) AS p_type_ci,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM part
    GROUP BY 1
"""

# streaming/schema_evolution.py::state_schema_evolution_counts —
# carried + fresh ≡ one-shot: the per-type total count survives the
# schema evolution (old state + evolved era), the new sum metric
# starts at the evolution point (era-2 rows only, pmod(event_id,4)>=2).
# round() runs in DECIMAL space on both engines (half-up/away-from-zero
# for decimals on both), and only the exact 2-dp decimal is cast to
# double — see schema_evolution.py (round-12 advice #1).
_ORACLES["state_schema_evolution_counts"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(round(coalesce(sum(CASE WHEN event_id % 4 >= 2
                                    THEN CAST(value AS DECIMAL(28,6)) END),
                               0), 2) AS DOUBLE) AS era2_value_sum
    FROM events
    GROUP BY event_type
"""

# streaming/fanout.py::foreach_batch_fanout — both fanout sinks (raw
# archive, per-batch aggregate), read back independently after an
# injected batch replay, must equal batch count(*) per type: a
# double-written batch in either sink breaks its column's hash
_ORACLES["foreach_batch_fanout"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(*) AS BIGINT) AS n_agg
    FROM events
    GROUP BY event_type
"""

# minhash_ml_crosscheck intentionally has NO oracle entry (rows-only):
# pyspark.ml.feature.MinHashLSH's seeded affine hash functions are
# JVM-internal and cannot be reproduced in ANSI SQL; the hand-rolled
# side of the comparison IS oracle-checked via minhash_lsh_pairs and
# minhash_estimate_error.


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
