#!/usr/bin/env python3
"""Regenerate ``expected.json``: the rowset hash every workload query
must produce over the committed sf0.1 fixtures.

    python3 perfbench/make_expected.py --sf001-dir <dir with the sf0.01 tables> [query ...]

With query names, only those entries are recomputed; the rest of the
file is kept.

For each query the DuckDB oracle (``oracle_sql()``) runs over the
fixtures with a time limit. When it finishes, its hash is the expected
one, and the Spark output must hash the same or the script fails. When
it does not finish, the Spark hash is pinned instead, and the query is
cross-checked against its oracle at sf0.01, where the oracle is fast;
that status is recorded beside the pinned hash.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

import run
from workloads import WORKLOADS

ORACLE_LIMIT_S = 60


def oracle_hash(oracle_helper, sql: str, sf_dir: str):
    """(hash, rows, seconds) of the DuckDB oracle, or None past the limit."""
    con = oracle_helper.duckdb_connect(sf_dir)
    con.execute("SET memory_limit='4GB'")
    result: dict = {}

    def work():
        try:
            result["pdf"] = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - reported to the caller
            result["error"] = e

    t0 = time.perf_counter()
    worker = threading.Thread(target=work, daemon=True)
    worker.start()
    worker.join(ORACLE_LIMIT_S)
    if worker.is_alive():
        con.interrupt()
        worker.join()
        con.close()
        return None
    con.close()
    if "error" in result:
        raise result["error"]
    pdf = result["pdf"]
    return run.rowset_hash(oracle_helper, pdf), len(pdf), time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf001-dir", required=True, help="sf0.01 tables for the pinned queries' cross-check")
    ap.add_argument("queries", nargs="*", help="recompute only these (default: every workload query)")
    args = ap.parse_args()
    sf001 = os.path.abspath(args.sf001_dir)

    problem = run.checkout_problem()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    run.prepare_env()
    sys.path.insert(0, run.ROOT)
    oracle_helper = run.load_module("perfbench_oracle", os.path.join(run.ROOT, "tests", "oracle.py"))
    import __spark_entry__ as entrymod
    from mapreduce_golang_spark.session import get_spark

    spark = get_spark(app_name="perfbench-expected")
    spark.sparkContext.setLogLevel("ERROR")
    registry, oracles = entrymod.queries(), entrymod.oracle_sql()

    def spark_hash(name, sf_dir):
        pdf = registry[name](spark, sf_dir).toPandas()
        return run.rowset_hash(oracle_helper, pdf), len(pdf)

    names = args.queries or sorted({q for w in WORKLOADS.values() for q in w.queries})
    expected, bad = {}, []
    if args.queries:
        with open(run.EXPECTED) as f:
            expected = json.load(f)
    for name in names:
        entrymod.reset_derived_caches()
        got, rows = spark_hash(name, run.FIXTURES)
        oracle = oracle_hash(oracle_helper, oracles[name], run.FIXTURES)
        if oracle is not None:
            entry = {"hash": oracle[0], "rows": oracle[1], "source": "oracle",
                     "oracle_s": round(oracle[2], 2)}
            if got != oracle[0]:
                bad.append(name)
        else:
            small = oracle_hash(oracle_helper, oracles[name], sf001)
            entrymod.reset_derived_caches()
            status = "timeout" if small is None else (
                "match" if spark_hash(name, sf001)[0] == small[0] else "mismatch")
            entry = {"hash": got, "rows": rows, "source": "pinned",
                     "oracle_sf0.1": f"not finished in {ORACLE_LIMIT_S} s",
                     "oracle_sf0.01": status}
            if status != "match":
                bad.append(name)
        expected[name] = entry
        print(name, json.dumps(entry), flush=True)
    spark.stop()
    if bad:
        print(f"Spark output does not match the oracle for: {bad}", file=sys.stderr)
        return 1
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
