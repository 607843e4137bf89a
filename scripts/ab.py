#!/usr/bin/env python3
"""A/B of this checkout's engine against another commit's.

    python scripts/ab.py <base-ref> <query> [<query> ...]

Checks ``<base-ref>`` out in a temporary ``git worktree`` and runs
``PAIRS`` pairs of fresh scripts/query_profile.py processes over the same
queries, one per side, alternating which side runs first so that a
drift in the host's speed falls on both. Each side's process imports
the engine (``__spark_entry__.py`` and ``mapreduce_golang_spark``) from
its own tree; query_profile.py, perfbench and tests/oracle.py come from this
checkout for both, so one piece of code measures both sides. The
fixtures are ``$SPARK_GRAFT_SF_DIR``'s, as in query_profile.py.

Prints one JSON object. Per query and side: the wall of every run
(each a min over query_profile.py's timed passes), their min and median, and
the jobs and stages the traced passes counted (the distinct values
over the runs; one value when the count repeats). ``head_wins`` is the
number of pairs in which this checkout's wall was lower; a tie counts
for neither side. Exits 1 when a query's rowset hash differs between
the sides or between runs. The worktree is removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROFILE = os.path.join(ROOT, "scripts", "query_profile.py")
#: the fewest pairs a speed claim rests on
PAIRS = 10


def git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True, text=True).stdout.strip()


def run_profile(tree: str, names: list[str]) -> dict:
    """query_profile.py's JSON from one fresh process with ``tree``'s engine."""
    proc = subprocess.run(
        [sys.executable, PROFILE, *names],
        env={**os.environ, "PYTHONPATH": tree},
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise RuntimeError(f"query_profile.py with the engine of {tree} exited {proc.returncode}")
    out = json.loads(proc.stdout.splitlines()[-1])
    if os.path.realpath(out["engine"]) != os.path.realpath(tree):
        raise RuntimeError(f"query_profile.py imported the engine from {out['engine']}, not {tree}")
    return out


def side_summary(runs: list[dict], name: str) -> dict:
    rows = [r["queries"][name] for r in runs]
    walls = [r["wall_s"] for r in rows]
    return {
        "walls_s": walls,
        "min_s": min(walls),
        "median_s": statistics.median(walls),
        "jobs": sorted({r["jobs"] for r in rows}),
        "stages": sorted({r["stages"] for r in rows}),
        "hashes": sorted({r["hash"] for r in rows}),
    }


def main() -> int:
    if len(sys.argv) < 3 or any(a.startswith("-") for a in sys.argv[1:]):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    base_ref, names = sys.argv[1], list(dict.fromkeys(sys.argv[2:]))
    base_sha = git("rev-parse", "--verify", f"{base_ref}^{{commit}}")
    head = git("describe", "--always", "--dirty", "--abbrev=40")
    # a kill still runs the ``finally`` that removes the worktree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="ab-")
    trees = {"base": os.path.join(tmp, "base"), "head": ROOT}
    git("worktree", "add", "--detach", trees["base"], base_sha)
    runs: dict[str, list] = {"base": [], "head": []}
    try:
        for i in range(PAIRS):
            for side in ("base", "head") if i % 2 == 0 else ("head", "base"):
                runs[side].append(run_profile(trees[side], names))
                print(f"ab: pair {i + 1}/{PAIRS} {side} done", file=sys.stderr, flush=True)
    finally:
        git("worktree", "remove", "--force", trees["base"])
        shutil.rmtree(tmp, ignore_errors=True)

    report, mismatched = {}, []
    for name in names:
        sides = {side: side_summary(runs[side], name) for side in ("base", "head")}
        hashes = {h for s in sides.values() for h in s["hashes"]}
        if len(hashes) != 1:
            mismatched.append(name)
        wins = sum(
            h["queries"][name]["wall_s"] < b["queries"][name]["wall_s"]
            for b, h in zip(runs["base"], runs["head"])
        )
        report[name] = {**sides, "hash_equal": len(hashes) == 1, "head_wins": wins}
    print(json.dumps({
        "base": base_sha,
        "head": head,
        "pairs": PAIRS,
        "sf_dir": runs["head"][0]["sf_dir"],
        "queries": report,
    }, indent=1))
    if mismatched:
        print(f"ab: rowset hashes differ for {mismatched}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
