#!/usr/bin/env python3
"""Do two traced runs count the same jobs, stages and tasks per query?

    python3 perfbench/repeat_check.py REPORT_A.json REPORT_B.json

Reads the per-query tables of two ``run.py --trace 1`` reports of one
workload, prints each query's (jobs, stages, tasks) in both, and exits
1 if any differ. Counts do not depend on the host, so a difference is
a change in the plans, not noise.
"""

from __future__ import annotations

import json
import sys

COUNTS = ("jobs", "stages", "tasks")


def counts_by_query(path: str) -> dict[str, tuple[int, ...]]:
    with open(path) as f:
        rows = json.load(f)["per_query"].values()
    return {r["query"]: tuple(r.get(k, 0) for k in COUNTS) for r in rows}


def main(a: str, b: str) -> int:
    ca, cb = counts_by_query(a), counts_by_query(b)
    same = ca == cb
    for q in sorted(ca.keys() | cb.keys()):
        mark = "" if ca.get(q) == cb.get(q) else "  DIFFERS"
        print(f"{q:32} {ca.get(q)} {cb.get(q)}{mark}")
    print(json.dumps({"counts": list(COUNTS), "repeat_exactly": same}))
    return 0 if same else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
