#!/usr/bin/env python3
"""Per-query profile: where each query's time, jobs, bytes and rows went.

    python scripts/query_profile.py <query> [<query> ...]

Runs the named registered queries in one fresh session (``get_spark()``
at ``local[<cores>]``) over the fixtures in ``$SPARK_GRAFT_SF_DIR``
(default: perfbench's sha-checked copy of sf0.1), with the benchmark's
protocol and the benchmark's own code (perfbench/run.py,
perfbench/instrument.py; nothing is copied):

1. set-up: the session and perfbench's warm-up scan;
2. a check pass that collects every query and hashes its rowset
   (``rowset_hash``, the order-insensitive hash of tests/oracle.py);
3. ``PASSES`` timed passes (``run_pass``, each query forced with the
   noop sink); a query's wall is its fastest run;
4. one traced pass (``layer_hooks``, ``event_log``, job groups,
   ``ProgressRecorder``) folded into per-query layers by
   ``per_layer_metrics``.

Queries run in the order given, so a query that derives a shared table
(``ngram_jaccard_pairs`` for the pair graph) goes first, as perfbench's
workloads run it. Derived caches are cleared at the start of every pass.

A layer table goes to stderr. stdout gets one JSON line,
``{"sf_dir", "engine", "queries": {<name>: {...}}}``, where each query's
record is perfbench's per-query row of the traced pass (jobs, stages,
tasks, executor run/CPU/GC time, driver gap, shuffle read/write, spill
and Python bytes, derived-cache hits and misses, ``load_table`` calls,
build and action time, and for streaming queries a ``stream`` record
with the state rows and state memory their last batches left), with
``wall_s`` set to the fastest timed run and the rowset ``hash`` added.
Counts of jobs, stages and bytes do not depend on the host's speed;
walls do.

The engine (``__spark_entry__`` and ``mapreduce_golang_spark``) is
imported from ``PYTHONPATH`` when it holds one, else from this
checkout; scripts/ab.py uses that to profile another tree's engine
with this checkout's profile.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
DEFAULT_SF_DIR = os.path.join(PERFBENCH, "fixtures", "sf0.1")

#: table columns: (header, key in a profile row, scale)
COLUMNS = (
    ("wall_s", "wall_s", 1),
    ("jobs", "jobs", 1),
    ("stages", "stages", 1),
    ("tasks", "tasks", 1),
    ("run_s", "exec_run_ms", 1e-3),
    ("cpu_s", "exec_cpu_ns", 1e-9),
    ("gc_s", "gc_ms", 1e-3),
    ("gap_s", "driver_gap_ms", 1e-3),
    ("shufR_kB", "shuffle_read_bytes", 1e-3),
    ("shufW_kB", "shuffle_write_bytes", 1e-3),
    ("spill_kB", "spill_bytes", 1e-3),
    ("pyOut_kB", "python_sent_bytes", 1e-3),
    ("pyIn_kB", "python_received_bytes", 1e-3),
    ("hits", "cache_hits", 1),
    ("misses", "cache_misses", 1),
    ("loads", "load_table_calls", 1),
)


def perfbench():
    """perfbench/run.py as a module (its imports need perfbench/ on the
    path; last, so that its ``tests`` never shadows the repo's)."""
    if PERFBENCH not in sys.path:
        sys.path.append(PERFBENCH)
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(PERFBENCH, "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def profile(spark, entrymod, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Check, time and trace ``names`` on ``spark``; one profile row per query.

    Raises when a query fails. Every hook, listener and job group it
    attaches is gone when it returns.
    """
    pb = perfbench()
    from folds import EVENT_COUNTERS
    from instrument import ProgressRecorder, Tracer, event_log, layer_hooks

    # run_pass reads the fixture dir from this module global
    pb.FIXTURES = sf_dir
    oracle = pb.load_module("profile_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    tracer, tally = Tracer(), pb.Tally()
    recorder = ProgressRecorder()
    spark.streams.addListener(recorder)
    try:
        registry = entrymod.queries()
        entrymod.reset_derived_caches()
        hashes = {name: pb.rowset_hash(oracle, registry[name](spark, sf_dir).toPandas()) for name in names}
        timed = [pb.run_pass(tracer, spark, entrymod, names, i, tally) for i in range(pb.PASSES)]
        with tempfile.TemporaryDirectory(prefix="profile-eventlog-") as logdir:
            with layer_hooks(entrymod, tracer), event_log(spark, logdir):
                traced = pb.run_pass(tracer, spark, entrymod, names, pb.PASSES, tally, traced=True)
            _, layers = pb.per_layer_metrics(tracer, traced, logdir, recorder.progress)
    finally:
        spark.streams.removeListener(recorder)
    if tally.failed:
        raise RuntimeError(f"queries failed: {tally.errors}")

    fastest: dict[str, float] = {}
    for p in timed:
        for q in tracer.children(p["id"]):
            if q["name"] == "query":
                fastest[q["query"]] = min(pb.dur(q), fastest.get(q["query"], float("inf")))
    # perfbench's per-query row of the traced pass (its units: ms, ns,
    # bytes), with the timed passes' fastest wall and the rowset hash;
    # a query that ran no job has no Spark counters in the fold
    zero = dict.fromkeys((*EVENT_COUNTERS, "python_nodes", "driver_gap_ms"), 0)
    return {
        row["query"]: {**zero, **row, "wall_s": fastest[row["query"]], "hash": hashes[row["query"]]}
        for row in layers.values()
    }


def layer_table(rows: dict[str, dict]) -> str:
    width = max(len("query"), *(len(n) for n in rows))
    lines = ["query".ljust(width) + "".join(f"{h:>10}" for h, _, _ in COLUMNS)]
    for name, row in rows.items():
        cells = []
        for _, key, scale in COLUMNS:
            v = row[key] * scale
            cells.append(f"{v:>10.3f}" if isinstance(v, float) else f"{v:>10}")
        line = name.ljust(width) + "".join(cells)
        if "stream" in row:
            state = row["stream"]
            line += f"  state {state['state_rows']} rows, {state['state_mem_bytes'] / 1e3:.1f} kB"
        lines.append(line)
    return "\n".join(lines)


def main() -> int:
    names = list(dict.fromkeys(sys.argv[1:]))
    if not names or any(n.startswith("-") for n in names):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    # after PYTHONPATH, so that a tree named there supplies the engine
    sys.path.append(ROOT)
    import __spark_entry__ as entrymod

    unknown = [n for n in names if n not in entrymod.queries()]
    if unknown:
        print(f"profile: unknown queries {unknown}; scripts/run_query.py --list names them", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from mapreduce_golang_spark.session import get_spark

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).write.format("noop").mode(
            "overwrite"
        ).save()
        rows = profile(spark, entrymod, sf_dir, names)
    finally:
        spark.stop()
    print(layer_table(rows), file=sys.stderr)
    engine = os.path.dirname(os.path.abspath(entrymod.__file__))
    print(json.dumps({"sf_dir": sf_dir, "engine": engine, "queries": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
