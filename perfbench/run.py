#!/usr/bin/env python3
"""The repository's benchmark: one workload per fresh process.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

A run, at ``local[<cores>]`` (the CPUs this process may use):

1. set-up, the cold start every process pays: imports
   ``__spark_entry__``, starts the session with ``get_spark()`` (which
   launches the JVM) and runs the warm-up scan;
2. check pass, untimed: collects every query of the workload and
   compares its order-insensitive rowset hash (``tests/oracle.py``)
   with ``expected.json``. It is also the warm-up of every query;
3. timed passes: a closed loop with one client, one query at a time,
   each forced with the ``noop`` sink, whole passes until ``--seconds``
   have elapsed and at least PASSES. The metrics cover the first PASSES
   passes only, so every run measures the same work however fast it
   goes. A query's latency is its fastest run over them, as in
   ``bench.py``'s min-of-2: ``wall_s`` sums these over the workload and
   ``query_p50_s`` is their median;
4. with ``--trace 1``, one more pass with the per-layer view on: a
   Spark event log, job groups, spans around ``load_table`` and the
   derived-cache registry, then one more untraced pass. The traced
   pass's wall time over the mean of its two untraced neighbours gives
   ``trace.overhead_frac``.

Derived caches are cleared at the start of every pass. The seed only
permutes the order of the queries within each pass (after the ones a
workload runs first); the sf0.1 fixtures are fixed. Every file Spark, the JVM and Python write goes under
``perfbench/.work``.

The last line of stdout is the result, ``{"correct", "attempted",
"failed", "metrics"}``; the line before it is a summary with every
metric, its unit and the host-regime evidence. The full report, with
every span and, when traced, the per-query layer table, is written to
``--out``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

RUN_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
MANIFEST = os.path.join(HERE, "fixtures", "sf0.1.sha256")
EXPECTED = os.path.join(HERE, "expected.json")
#: the metrics a run reports, with their units, are the ones listed here
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(HERE, ".work")
#: timed passes the metrics cover. The JIT keeps speeding passes up for
#: several passes after the check pass, so every run measures the same
#: ones; passes past these (when --seconds outlasts them) are not counted
PASSES = 3
#: a run that has not finished by then is killed, JVM included
DEADLINE_S = 170

from folds import (  # noqa: E402
    Windows,
    batch_p50_s,
    fold_event_log,
    fold_progress,
    min_samples_for_tail,
    tail_latency,
)
from workloads import WORKLOADS  # noqa: E402


def checkout_problem() -> str | None:
    """Why this directory cannot run the benchmark, or None."""
    for rel in ("BENCHMARK.json", "__spark_entry__.py", "bench.py", os.path.join("tests", "oracle.py")):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"missing {rel}: run from a full checkout of the repository"
    with open(MANIFEST) as f:
        for line in f:
            digest, name = line.split()
            path = os.path.join(FIXTURES, name)
            if not os.path.isfile(path):
                return f"missing fixture {name}"
            with open(path, "rb") as fx:
                if hashlib.sha256(fx.read()).hexdigest() != digest:
                    return f"fixture {name} differs from {os.path.basename(MANIFEST)}"
    return None


def cores() -> int:
    """CPUs this process may run on: ``nproc`` without OMP_NUM_THREADS."""
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every directory Spark, the JVM and Python write to at WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    os.chdir(WORK)


def rowset_hash(oracle_helper, pdf) -> str:
    cols, rows = oracle_helper._rowset(pdf)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def load_module(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rss_peak_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dur(span: dict) -> float:
    return span["end"] - span["start"]


class Tally:
    """Queries attempted and failed, with the first error of each."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.setdefault(name, why[:300])


def run_pass(tracer, spark, entrymod, order, index, tally, traced=False) -> dict:
    """One timed pass over ``order``; returns its span."""
    registry = entrymod.queries()
    sc = spark.sparkContext
    entrymod.reset_derived_caches()
    gc.collect()
    with tracer.span("pass", index=index, traced=traced) as pass_span:
        for name in order:
            label = f"p{index}:{name}"
            if traced:
                sc.setJobGroup(label, name)
            tally.attempted += 1
            with tracer.span("query", query=name, label=label) as q:
                try:
                    with tracer.span("build"):
                        df = registry[name](spark, FIXTURES)
                    with tracer.span("action"):
                        df.write.format("noop").mode("overwrite").save()
                    q["ok"] = True
                except Exception as e:  # noqa: BLE001 - a failing query is a result
                    q["ok"] = False
                    tally.fail(name, f"pass {index}: {type(e).__name__}: {e}")
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return pass_span


def _expire() -> None:
    """Past DEADLINE_S: kill the JVM (its Python workers follow) and exit."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        SparkContext._gateway.proc.kill()
    print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr, flush=True)
    os._exit(3)


def run_all(args) -> int:
    """Every workload, each in its own process; relays their output."""
    worst = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        print(f"== {name}", flush=True)
        worst = max(worst, subprocess.run(cmd).returncode)
    return worst


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="report file (default: .work/<workload>-trace<t>.json)")
    args = ap.parse_args(argv)

    problem = checkout_problem()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    workload = WORKLOADS[args.workload]
    with open(EXPECTED) as f:
        expected = json.load(f)
    missing = [q for q in workload.queries if q not in expected]
    if missing:
        print(f"perfbench: no expected hash for {missing}; run make_expected.py", file=sys.stderr)
        return 2
    out_path = os.path.abspath(args.out or os.path.join(WORK, f"{workload.name}-trace{args.trace}.json"))
    trace = bool(args.trace)

    prepare_env()
    watchdog = threading.Timer(DEADLINE_S, _expire)
    watchdog.daemon = True
    watchdog.start()
    sys.path.insert(0, ROOT)
    import bench  # host-regime probes: the same spin loop and /proc/stat reader as bench.py

    oracle_helper = load_module("perfbench_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    spin_before, ticks_before = bench._spin_calib(), bench._cpu_ticks()

    # 1. set-up; the entry import comes first so that it pays for pyspark
    t_import = time.perf_counter()
    import __spark_entry__ as entrymod
    from mapreduce_golang_spark.session import get_spark

    import_s = time.perf_counter() - t_import
    from instrument import ProgressRecorder, Tracer, drain_listener_bus, event_log, layer_hooks

    tracer = Tracer()
    with tracer.span("setup") as setup_span:
        with tracer.span("get_spark") as get_spark_span:
            spark = get_spark(app_name=f"perfbench-{workload.name}")
        with tracer.span("warmup") as warmup_span:
            spark.read.parquet(f"{FIXTURES}/lineitem.parquet").limit(1000).write.format(
                "noop"
            ).mode("overwrite").save()
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    recorder = ProgressRecorder()
    spark.streams.addListener(recorder)
    rng = random.Random(args.seed)
    tally = Tally()

    # 2. check pass
    with tracer.span("check"):
        registry = entrymod.queries()
        entrymod.reset_derived_caches()
        for name in workload.order(rng):
            tally.attempted += 1
            try:
                got = rowset_hash(oracle_helper, registry[name](spark, FIXTURES).toPandas())
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                tally.fail(name, f"check: {type(e).__name__}: {e}")
                continue
            if got != expected[name]["hash"]:
                tally.fail(name, f"check: rowset hash {got[:16]} != expected {expected[name]['hash'][:16]}")

    # 3. timed passes
    timed: list[dict] = []
    t_timed = tracer.now()
    while len(timed) < PASSES or tracer.now() - t_timed < args.seconds:
        order = workload.order(rng)
        timed.append(run_pass(tracer, spark, entrymod, order, len(timed), tally))
        if len(timed) == PASSES:
            # the same work in every run, however many passes follow
            rss_mb = {"python": rss_peak_mb("self"), "jvm": rss_peak_mb(jvm.pid)}

    # 4. traced pass
    traced = None
    eventlog_dir = os.path.join(WORK, "eventlog")
    if trace:
        order = workload.order(rng)
        with layer_hooks(entrymod, tracer), event_log(spark, eventlog_dir):
            traced = run_pass(tracer, spark, entrymod, order, len(timed), tally, traced=True)
        # an untraced pass on each side of the traced one, so that the
        # warm-up still going on between passes cancels in the ratio
        after = run_pass(tracer, spark, entrymod, order, len(timed) + 1, tally)

    spin_after, ticks_after = bench._spin_calib(), bench._cpu_ticks()
    drain_listener_bus(spark)
    spark.stop()
    SparkContext._gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    watchdog.cancel()

    steal_frac = None
    if ticks_before is not None and ticks_after is not None:
        steal_frac = (ticks_after[0] - ticks_before[0]) / max(1, ticks_after[1] - ticks_before[1])
    timed_queries = [
        q for p in timed[:PASSES] for q in tracer.children(p["id"]) if q["name"] == "query" and q["ok"]
    ]
    latencies = [dur(q) for q in timed_queries]
    fastest: dict[str, float] = {}
    for q in timed_queries:
        fastest[q["query"]] = min(dur(q), fastest.get(q["query"], float("inf")))
    wall_s = sum(fastest.values())
    query_p50_s = statistics.median(fastest.values())
    setup_s = import_s + dur(setup_span)

    summary = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "master": f"local[{cores()}]",
        "cores": cores(),
        "passes": len(timed),
        "passes_measured": PASSES,
        "query_samples": len(latencies),
        "error_rate": tally.failed / tally.attempted,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "query_p50_s": {"value": query_p50_s, "unit": "s"},
            "peak_rss_mb": {"value": sum(rss_mb.values()), "unit": "MB"},
        },
        "setup": {"import_s": import_s, "get_spark_s": dur(get_spark_span), "warmup_s": dur(warmup_span)},
        "peak_rss_mb_by_process": rss_mb,
        "host": {"spin_calib_s": [spin_before, spin_after], "steal_frac": steal_frac},
    }
    if len(latencies) >= min_samples_for_tail():
        tail, pct = tail_latency(latencies)
        summary["query_tail_s"] = {"value": tail, "unit": "s", "percentile": pct}
    else:
        summary["query_tail_s"] = {
            "value": None, "unit": "s",
            "why": f"{len(latencies)} samples; the tail needs {min_samples_for_tail()}",
        }
    timed_windows = Windows([(q["label"], *_window(tracer, q)) for q in timed_queries])
    streams = fold_progress(recorder.progress, timed_windows).values()
    triggers = [t for s in streams for t in s["trigger_ms"]]
    if triggers:
        summary["stream_batch_p50_s"] = {"value": batch_p50_s(triggers), "unit": "s"}
        summary["stream_rows_per_s"] = {
            "value": sum(s["input_rows"] for s in streams) / sum(triggers) * 1000, "unit": "rows/s"}
    if tally.errors:
        summary["errors"] = tally.errors

    report = {"summary": summary, "spans": tracer.spans}
    metrics = summary["metrics"]
    if trace:
        layers, per_query = per_layer_metrics(tracer, traced, eventlog_dir, recorder.progress)
        layers.update(
            {
                "session.import_s": import_s,
                "session.get_spark_s": dur(get_spark_span),
                "session.warmup_s": dur(warmup_span),
                "host.spin_calib_s": max(spin_before, spin_after),
                "host.steal_frac": steal_frac if steal_frac is not None else 0.0,
                "trace.overhead_frac": 2 * dur(traced) / (dur(timed[-1]) + dur(after)) - 1,
            }
        )
        report["per_query"] = per_query
        with open(BENCHMARK) as f:
            listed = json.load(f)["per_layer"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in listed}
        summary["per_layer"] = metrics
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    for d in ("tmp", "local", "warehouse", "eventlog"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    summary["run_s"] = time.perf_counter() - RUN_T0
    print(json.dumps(summary))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


def _window(tracer, span) -> tuple[int, int]:
    return tracer.epoch_ms(span["start"]), tracer.epoch_ms(span["end"])


def per_layer_metrics(tracer, pass_span, eventlog_dir, progress) -> tuple[dict, dict]:
    """Layer totals over the traced pass, and the per-query table
    behind them."""
    query_spans = [s for s in tracer.children(pass_span["id"]) if s["name"] == "query"]
    windows = Windows([(q["label"], *_window(tracer, q)) for q in query_spans])
    events = []
    for fname in sorted(os.listdir(eventlog_dir)):
        with open(os.path.join(eventlog_dir, fname)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    spark_by_label = fold_event_log(events, windows)
    stream_by_label = fold_progress(progress, windows)

    per_query = {}
    for q in query_spans:
        below = tracer.children(q["id"])
        caches = [s for s in below if s["name"].startswith("cache:")]
        cache_ids = {s["id"] for s in caches}
        # a miss's build time, counted once where cache builds nest
        outer_misses = [s for s in caches if not s["hit"] and s["parent"] not in cache_ids]
        loads = [s for s in below if s["name"].startswith("load_table:")]
        row = {
            "query": q["query"],
            "ok": q["ok"],
            "wall_s": dur(q),
            "build_s": sum(dur(s) for s in below if s["name"] == "build"),
            "action_s": sum(dur(s) for s in below if s["name"] == "action"),
            "cache_hits": sum(1 for s in caches if s["hit"]),
            "cache_misses": sum(1 for s in caches if not s["hit"]),
            "cache_build_s": sum(dur(s) for s in outer_misses),
            "load_table_calls": len(loads),
            "load_table_s": sum(dur(s) for s in loads),
            **spark_by_label.get(q["label"], {}),
        }
        if q["label"] in stream_by_label:
            row["stream"] = stream_by_label[q["label"]]
        per_query[q["label"]] = row

    rows = list(per_query.values())
    streams = [r["stream"] for r in rows if "stream" in r]
    triggers = [t for s in streams for t in s["trigger_ms"]]

    def total(key):
        return sum(r.get(key, 0) for r in rows)

    def stotal(key):
        return sum(s[key] for s in streams)

    layers = {
        "entry.build_s": total("build_s"),
        "entry.action_s": total("action_s"),
        "cache.hits": total("cache_hits"),
        "cache.misses": total("cache_misses"),
        "cache.build_s": total("cache_build_s"),
        "sources.load_table_calls": total("load_table_calls"),
        "sources.load_table_s": total("load_table_s"),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.driver_gap_s": total("driver_gap_ms") / 1e3,
        "exec.run_s": total("exec_run_ms") / 1e3,
        "exec.cpu_s": total("exec_cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1e3,
        "python.nodes": total("python_nodes"),
        "python.data_sent_bytes": total("python_sent_bytes"),
        "python.data_received_bytes": total("python_received_bytes"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "shuffle.spill_bytes": total("spill_bytes"),
        "streaming.batches": stotal("batches"),
        "streaming.input_rows": stotal("input_rows"),
        "streaming.batch_p50_s": batch_p50_s(triggers) if triggers else 0.0,
        "streaming.rows_per_s": stotal("input_rows") / sum(triggers) * 1000 if triggers else 0.0,
        "streaming.add_batch_s": stotal("add_batch_ms") / 1e3,
        "streaming.query_planning_s": stotal("query_planning_ms") / 1e3,
        "streaming.wal_commit_s": stotal("wal_commit_ms") / 1e3,
        "streaming.commit_offsets_s": stotal("commit_offsets_ms") / 1e3,
        "streaming.state_commit_s": stotal("state_commit_ms") / 1e3,
        "streaming.state_rows": stotal("state_rows"),
        "streaming.state_mem_bytes": stotal("state_mem_bytes"),
    }
    return layers, per_query


if __name__ == "__main__":
    sys.exit(main())
