"""Config A/B for the per-query fixed-cost tier (round-15 verdict #7).

The 0.5-1 s tier (83 queries, ~59 s of suite mass) and the <0.5 s tier
(147 queries, ~49 s) are dominated by per-query fixed cost: planning +
AQE job rounds + task scheduling at local[32]. This probe measures a
REPRESENTATIVE SUBSET of the registry under candidate session configs,
full-bench protocol (min-of-2 cold per query, derived caches cleared),
one Spark session per config (configs are session-constant in
production too).

Candidates:
  base     — the session defaults as shipped
  advisory — adaptive.advisoryPartitionSizeInBytes=64m +
             coalescePartitions.parallelismFirst=false (AQE coalesces
             tiny shuffles to FEWER reduce tasks instead of
             parallelism-first 1MB floors)
  shj      — join.preferSortMergeJoin=false (shuffled hash join where
             the build side fits, no sort on either side)
  maxpart  — files.maxPartitionBytes=512m (fewer, larger scan splits)

Usage: python scripts/ab_conf_fixedcost.py <config-name>
Run each config in its OWN process, alternating, several reps.
"""
from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# stratified subset: fixed-cost tier representatives + a few mid/heavy
# queries that must NOT regress (CPU-parallelism-dependent widen users,
# loop queries, joins)
SUBSET = [
    # <0.5 s fixed-cost tier
    "q1_pricing_summary", "top_k_words", "event_counts_pivot",
    "approx_distinct_users", "top_users_per_event_type", "file_counts",
    "users_purchase_not_error", "salted_event_counts", "wc",
    # 0.5-1 s tier
    "sessionize", "tfidf_top_terms", "hourly_value_ohlc",
    "ab_conversion_ztest", "dataset_card_report", "bm25_top_docs",
    "session_incident_overlap", "value_distribution_distances",
    # mid tier with real shuffles/joins
    "q3_shipping_priority", "q9_product_type_profit", "q21_suppliers_kept_waiting",
    "bucketed_join_revenue", "minhash_lsh_pairs", "eval_decontamination",
    # CPU-parallel widen users (must not regress)
    "simhash_pairs", "char_trigram_logprob", "ccnet_perplexity_buckets",
    # loop + streaming representatives (must not regress)
    "kcore_docs", "near_dup_components", "streaming_stream_join",
]

CONFIGS = {
    "base": {},
    "advisory": {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    },
    "shj": {
        "spark.sql.join.preferSortMergeJoin": "false",
    },
    "maxpart": {
        "spark.sql.files.maxPartitionBytes": "512m",
    },
}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in CONFIGS:
        sys.exit(f"usage: python scripts/ab_conf_fixedcost.py <{'|'.join(CONFIGS)}>")
    name = sys.argv[1]
    extra = CONFIGS[name]
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from mapreduce_golang_spark.session import get_spark, ensure_package_shipped

    builder = (
        SparkSession.builder.appName(f"conf-ab-{name}")
        .master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", os.environ["SPARK_GRAFT_CPUS"])
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_package_shipped(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()

    qs = entrymod.queries()
    timings = {}
    for q in SUBSET:
        fn = qs[q]
        runs = []
        for _ in range(2):
            entrymod.reset_derived_caches()
            gc.collect()
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[q] = round(min(runs), 3)
    print(json.dumps({"config": name, "total": round(sum(timings.values()), 3),
                      "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
