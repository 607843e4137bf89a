#!/usr/bin/env python
"""Benchmark harness — times every driver-contract query at the bench
scale factor and prints ONE JSON line:

    {"metric": "total_wall_sec", "value": N, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": 0.1, ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default: the CPUs this process may run on,
                        len(os.sched_getaffinity(0)) → master local[N]).

Each query is forced end-to-end with the noop sink (full execution,
no driver-side collect). A short warmup query absorbs JVM/codegen
startup so per-query numbers measure the plan, not the JIT.

Per-query timing is MIN-OF-2 (round-8 verdict #4): a single pass made
head-of-run queries pay JIT warm-up and shared-derivation attribution
(the materialize-once registries land on whichever consumer runs
first), producing 3-7× per-query swings between rounds that tracked
the rotation, not the code. Back-to-back double execution with the
min de-noises JIT/rotation effects. Derived caches (the
materialize-once localCheckpoint registries) are CLEARED before every
timed pass (round-9 verdict #3 / advice #1: without the clear, the
second pass of a derivation-lead query like ngram_jaccard_pairs reads
the session-lived checkpoint and the recorded "min" was a ~0.02 s
cache read, not the plan) — so the min now reports the plan's own
cost INCLUDING its derivation for every query.

TWO headline walls, both printed every round (round-10 verdict #3):

- ``total_wall_sec`` — sum of per-query ``min_of_2_cold`` minima.
  The PINNED per-query protocol from round 10 on (do not change it:
  round-over-round totals are only meaningful under one protocol).
  Conservative attribution: every consumer of a shared derivation
  (e.g. each of the ~9 near-dup pair-graph consumers) pays the full
  derivation in its own row, so families double-count vs production.
- ``suite_wall_sec`` — ONE extra single pass over the registry with
  derived caches cleared exactly once up front, so shared
  derivations amortize across their family within the pass. This is
  what a production run of the whole suite pays (one derivation per
  job, not per query); it is a whole-suite wall, not a per-query
  table.

A query that fails on ANY pass (either min-of-2 pass or the suite
pass) is a failure — excluded from timings/n_queries/total_wall_sec,
listed under failures with a pass marker. The post-clear pass 2 is
the colder run, so a reproducible cold-run breakage must not be
recorded as a green pass-1 timing, and a suite-only breakage must not
leave a green timing contradicting its failures entry.

The printed line must survive the driver's tail capture (observed:
BENCH_r01–r03 store only the last ~2000 chars of stdout and parse from
that, so an every-query dict made ``parsed: null`` in rounds 1-3).
The line therefore carries the total plus a fixed HEADLINE subset of
per-query timings and is kept under 1800 chars; the full per-query
timing table is written to ``BENCH_DETAIL.json`` at the repo root and
committed each round.

HOST-REGIME SELF-EVIDENCE (round-11 verdict #3): two driver passes in
a row ran 1.3-1.5× the committed pass and the co-tenancy attribution
had to be reconstructed after the fact each time (per-query medians +
steal-tick archaeology). The bench now carries its own evidence:

- ``spin_calib_s`` — [before, after] wall times of a FIXED pure-Python
  single-core spin loop (same iteration count every run). The loop's
  work is constant, so its wall time is a pure host-speed probe: a
  committed-run value of ~X and a driver-run value of ~1.4X is the
  contention, measured, with no per-query archaeology.
- ``steal_ticks`` / ``steal_frac`` — /proc/stat cpu steal-tick delta
  across the suite (and its fraction of total ticks): nonzero steal is
  direct hypervisor-level evidence of a co-tenant regime.

``wall_sec_all_passes`` includes the elapsed time of FAILED passes
(the pass-1 wall of a pass-2 failure, the partial wall of the failing
pass itself is unmeasured) — it reports wall actually spent in timed
passes, not just the green subset (round-11 advice #4).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spin_calib() -> float:
    """Fixed single-core spin — identical work every invocation, so the
    returned wall time is a host-speed probe, not a benchmark of
    anything in the repo. ~0.3-0.8 s on an idle core; scales up 1:1
    with co-tenant contention. See module docstring."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    if acc < 0:  # unreachable; keeps the loop from being elided
        raise AssertionError(acc)
    return round(time.perf_counter() - t0, 4)


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate cpu line of
    /proc/stat; None where unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu":
            return None
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    import __spark_entry__ as entrymod
    from mapreduce_golang_spark.session import get_spark

    spin_before = _spin_calib()
    ticks_before = _cpu_ticks()

    spark = get_spark(app_name="mapreduce-golang-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + codegen + parquet footer caches
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    wall_all = 0.0
    for name, fn in entrymod.queries().items():
        runs: list[float] = []
        try:
            for _ in range(2):  # min-of-2: see module docstring
                # cache clear happens OUTSIDE the timer: the timed run
                # then pays its own derivation cold, every pass
                entrymod.reset_derived_caches()
                gc.collect()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
        except Exception as e:  # record, keep benching the rest
            # A pass-2 failure is a FAILURE, not a flaky timing: the
            # post-clear pass is the colder run, so a reproducible
            # cold-run breakage must not hide behind its pass-1 wall
            # (round-10 advice #3). The pass marker keeps triage easy.
            # Completed passes still count toward wall_sec_all_passes
            # (round-11 advice #4: the field reports wall actually
            # spent, so a pass-1 elapsed must not vanish with the
            # demotion); only the failing pass's partial wall is lost.
            tag = "pass2: " if runs else ""
            failures[name] = f"{tag}{type(e).__name__}: {e}"[:200]
            wall_all += sum(runs)
            runs = []
        if runs:
            timings[name] = round(min(runs), 3)
            wall_all += sum(runs)

    # SUITE MODE (round-10 verdict #3): one additional single pass over
    # the whole registry with derived caches cleared exactly ONCE up
    # front — consumers of a shared derivation (the near-dup pair-graph
    # family, the corpus-selection family) amortize it within the pass,
    # which is what a production run pays. `total_wall_sec` (min-of-2
    # cold, the per-query table) stays the conservative per-query
    # attribution; `suite_wall_sec` is the amortized whole-suite wall.
    entrymod.reset_derived_caches()
    gc.collect()
    t_suite = time.perf_counter()
    n_suite = 0
    for name, fn in entrymod.queries().items():
        if name in failures:
            continue
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            n_suite += 1
        except Exception as e:
            # a suite-pass failure demotes the query entirely: its
            # min-of-2 timing leaves the table/total so n_queries,
            # total_wall_sec and failures never disagree about it
            failures.setdefault(
                name, f"suite: {type(e).__name__}: {e}"[:200]
            )
            timings.pop(name, None)
    suite_wall = round(time.perf_counter() - t_suite, 3)

    spin_after = _spin_calib()
    ticks_after = _cpu_ticks()
    host_regime: dict[str, object] = {"spin_calib_s": [spin_before, spin_after]}
    if ticks_before is not None and ticks_after is not None:
        steal_d = ticks_after[0] - ticks_before[0]
        total_d = max(1, ticks_after[1] - ticks_before[1])
        host_regime["steal_ticks"] = steal_d
        host_regime["steal_frac"] = round(steal_d / total_d, 5)

    sf_token = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_token)
    except ValueError:
        sf = sf_token

    detail = {
        "metric": "total_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "timing": "min_of_2_cold",  # PINNED protocol — see module docstring
        "suite_wall_sec": suite_wall,  # single amortized pass, see docstring
        "n_suite": n_suite,
        "wall_sec_all_passes": round(wall_all, 3),
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        **host_regime,  # spin_calib_s / steal_ticks / steal_frac
    }
    if failures:
        detail["failures"] = failures
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=2)

    headline = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q9_product_type_profit",
        "q18_large_orders",
        "q21_suppliers_kept_waiting",
        "wc",
        "mr_wc",
        "sessionize",
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "simhash_pairs",
        "embedding_cosine_pairs",
        "ann_ivf_topk",
        "near_dup_pipeline",
        "corpus_final_selection",
        "corpus_funnel_report",
        "incremental_dedup",
        "semantic_dedup_survivors",
        "streaming_stream_join",
        "tfidf_top_terms",
        "bucketed_join_revenue",
        "near_dup_reachability",
        "containment_pairs",
        "block_dedup_fraction",
        "bm25_top_docs",
        "ann_recall_report",
        "kcore_docs",
        "session_incident_overlap",
        # round-6 family representatives
        "dsir_importance_weights",
        "ccnet_perplexity_buckets",
        "leakage_safe_splits",
        "eval_decontamination",
        "mmr_diverse_topk",
        "kmeans_silhouette",
        # round-7: de-fanged try_* demo, Arrow-native kernel, the
        # lossless prefix-filter join and the checkpointed drift matrix
        "try_arithmetic_functions",
        "embedding_stats_arrow",
        "prefix_filter_jaccard_pairs",
        "value_distribution_distances",
        # round 9: applied salted join + hierarchical SemDeDup post-fix
        "salted_segment_value",
        "semdedup_hier_survivors",
        # round 10: reworked bucketed cogroup + kill-and-recover proof
        "asof_cogrouped_clicks",
        "streaming_kill_recover_dedup",
        # round 11: schema-evolution migration + multi-sink fanout
        "state_schema_evolution_counts",
        "foreach_batch_fanout",
        # round 13: the widen-gate representatives + the corpus-scaled
        # MinHashLSH leg
        "lineitem_column_profile",
        "char_trigram_logprob",
        "minhash_ml_crosscheck_scaled",
    ]
    result = dict(detail)
    result["queries"] = {n: timings[n] for n in headline if n in timings}
    result["detail_file"] = "BENCH_DETAIL.json"
    if failures:
        result["n_failures"] = len(failures)
        result.pop("failures", None)
    line = json.dumps(result)
    # hard guarantee: fit inside the driver's ~2000-char tail window
    while len(line) > 1800 and result["queries"]:
        result["queries"].popitem()
        line = json.dumps(result)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
