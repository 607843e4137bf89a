#!/usr/bin/env python
"""Full-coverage replica of the driver's correctness gate.

The driver grades only the first 50 ``queries()`` entries per round
(observed: CORRECTNESS_r01/r02 both contain exactly the first 50
registrations while 70 / 96 queries were registered). This script runs
the SAME comparison — Spark result vs DuckDB oracle at sf0.01, row
count + sorted-column schema + order-insensitive canonical value
match — over EVERY registered query and writes ``CORRECTNESS_FULL.json``
at the repo root, so the complete surface has a committed hard artifact
every round regardless of the driver's window.
A float cell that is -0.0 on either side fails its query
(``negzero_cols``): a compare of rendered values sees "-0" and "0" as
different.

Mirrors the reference's sort-then-compare discipline
(/root/reference/src/main/test-mr.sh:90-91).

Run:  python scripts/correctness_gate.py [sf_dir]        # default sf0.01
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    import __spark_entry__ as entrymod
    from mapreduce_golang_spark.session import get_spark

    spark = get_spark(app_name="correctness-gate-full")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    results: dict[str, dict] = {}
    t_start = time.time()
    try:
        _run_all(spark, sf_dir, qs, oracles, results)
    finally:
        spark.stop()

    out = os.path.join(REPO, "CORRECTNESS_FULL.json")
    with open(out, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "n_queries": len(qs),
                "n_green": sum(1 for r in results.values() if _green(r)),
                "n_rows_only": sum(1 for r in results.values() if _rows_only(r)),
                "n_negzero": sum(1 for r in results.values() if r["negzero_cols"]),
                "wall_s": round(time.time() - t_start, 1),
                "queries": results,
            },
            f,
            indent=2,
        )
    print(f"wrote {out}")
    bad = [n for n, r in results.items() if not _green(r) and not _rows_only(r)]
    if bad:
        print("FAILING:", bad)
        return 1
    print("all green")
    return 0


def _green(row: dict) -> bool:
    # The driver gate requires column-name equality as well as value hash —
    # mirror both (ADVICE round 3).
    return bool(row["hash_match"] and row["schema_match"] and not row["negzero_cols"])


def _rows_only(row: dict) -> bool:
    return row["err"] == "no_oracle" and row["spark_rows"] is not None and not row["negzero_cols"]


def _run_all(spark, sf_dir, qs, oracles, results) -> None:
    from tests.oracle import compare_rowsets, negzero_columns, run_oracle

    for i, (name, fn) in enumerate(qs.items()):
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "negzero_cols": [],
            "err": None,
        }
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            row["spark_rows"] = len(spark_pdf)
            row["negzero_cols"] = [f"spark:{c}" for c in negzero_columns(spark_pdf)]
            sql = oracles.get(name)
            if sql is None:
                row["err"] = "no_oracle"
            else:
                oracle_pdf = run_oracle(sql, sf_dir)
                row["oracle_rows"] = len(oracle_pdf)
                row["negzero_cols"] += [f"oracle:{c}" for c in negzero_columns(oracle_pdf)]
                checks, _ = compare_rowsets(spark_pdf, oracle_pdf)
                row.update(checks)
        except Exception as exc:  # noqa: BLE001 — gate must record, not die
            row["err"] = f"{type(exc).__name__}: {exc}"[:300]
        results[name] = row
        ok = _green(row) or _rows_only(row)
        print(
            f"[{i + 1}/{len(qs)}] {name}: "
            f"{'OK' if ok else 'FAIL ' + str(row)} ({time.time() - t0:.1f}s)",
            flush=True,
        )


if __name__ == "__main__":
    raise SystemExit(main())
