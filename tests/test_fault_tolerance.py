"""W7 `crash` analogue: the reference's crash test injects ~1/3 task
failures and requires final output to equal the no-crash golden
(/root/reference/src/main/test-mr.sh:270-317, crash.go:20-32). On
Spark, fault tolerance is task retry (spark.task.maxFailures): we
run a job whose map tasks ALWAYS die on their first attempt (marker
files track attempts) and assert the retried run's output equals the
healthy run. Needs its own SparkContext with maxFailures>1, so it
runs in a subprocess (one context per process).
"""

from __future__ import annotations

import json
import subprocess
import sys

_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from mapreduce_golang_spark.plans.mapreduce import run_job
from mapreduce_golang_spark.session import get_spark

# maxFailures=8: each map task holds ~4 docs and every doc's first
# processing dies, so a task can legitimately fail 4 times before it
# runs clean — mirroring repeated re-execution in the reference test.
# get_spark starts the JVM from the engine's class-data archive.
spark = get_spark(app_name="crash-test", master="local[2, 8]")
spark.sparkContext.setLogLevel("ERROR")

docs = [(f"f{i}", f"alpha beta f{i} gamma") for i in range(8)]

def crashy_map(name, contents):
    # die on the first attempt for each input file; succeed after —
    # the reference's maybeCrash with a deterministic trigger
    marker = os.path.join({marker_dir_placeholder!r}, name)
    if not os.path.exists(marker):
        open(marker, "w").close()
        raise RuntimeError("injected crash: first processing of " + name)
    return [(w, name) for w in contents.split()]

def reduce_sorted(key, values):
    return " ".join(sorted(values))

def crashy_reduce(key, values):
    # first reduction of each key dies too (reference crash.go injects
    # failures in BOTH map and reduce)
    marker = os.path.join({marker_dir_placeholder!r}, "r_" + key)
    if not os.path.exists(marker):
        open(marker, "w").close()
        raise RuntimeError("injected crash: first reduce of " + key)
    return " ".join(sorted(values))

crashy_src = run_job(spark, crashy_map, crashy_reduce, docs, n_reduce={n_reduce_placeholder})
crashed = sorted(map(tuple, crashy_src.collect()))

healthy = sorted(map(tuple, run_job(
    spark, lambda n, c: [(w, n) for w in c.split()], reduce_sorted, docs, n_reduce={n_reduce_placeholder}
).collect()))

print("RESULT " + json.dumps({"equal": crashed == healthy, "rows": len(crashed)}))
spark.stop()
"""


# Soak analogue of the reference's test-mr-many.sh (repeated whole-suite
# trials, /root/reference/src/main/test-mr-many.sh:15-22): three trials,
# each with a DIFFERENT reduce fan-out so retries replay against a
# different shuffle layout every time — more signal per trial than
# identical repeats, same flake-hunting intent.
import pytest


@pytest.mark.parametrize("n_reduce", [2, 3, 5])
def test_task_retry_recovers_crashing_maps(tmp_path, n_reduce):
    marker_dir = str(tmp_path / "markers")
    import os

    os.makedirs(marker_dir, exist_ok=True)
    script = (
        _SCRIPT.replace("{marker_dir_placeholder!r}", repr(marker_dir))
        .replace("{repo!r}", repr(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
        .replace("{n_reduce_placeholder}", str(n_reduce))
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    result_lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert result_lines, f"no result: stdout={proc.stdout[-1000:]} stderr={proc.stderr[-1000:]}"
    result = json.loads(result_lines[0][len("RESULT ") :])
    assert result["equal"] is True
    assert result["rows"] > 0
    # the markers prove first attempts actually died
    assert len(os.listdir(marker_dir)) > 0
