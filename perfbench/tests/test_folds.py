"""Tests for the benchmark's own folds, on tiny committed records.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from folds import (  # noqa: E402
    Windows,
    batch_p50_s,
    fold_event_log,
    fold_progress,
    min_samples_for_tail,
    tail_latency,
)

# Two queries: qa from 1.0 s to 2.0 s, qb from 3.0 s to 5.0 s (epoch ms).
WINDOWS = Windows([("p0:qa", 1000, 2000), ("p0:qb", 3000, 5000)])


def _records(name):
    with open(os.path.join(HERE, "fixtures", name)) as f:
        return [json.loads(line) for line in f]


def test_event_log_fold_by_job_group_and_window():
    got = fold_event_log(_records("eventlog.jsonl"), WINDOWS)
    assert set(got) == {"p0:qa", "p0:qb"}  # the set-up job is outside every window
    qa, qb = got["p0:qa"], got["p0:qb"]
    assert (qa["jobs"], qa["stages"], qa["tasks"]) == (2, 3, 4)
    assert qa["shuffle_write_bytes"] == 200
    assert qa["shuffle_read_bytes"] == 200  # remote + local
    assert qa["fetch_wait_ms"] == 5
    assert qa["spill_bytes"] == 10  # disk bytes spilled
    assert (qa["exec_run_ms"], qa["exec_cpu_ns"], qa["gc_ms"]) == (470, 360_000_000, 15)
    assert (qa["python_sent_bytes"], qa["python_received_bytes"], qa["python_nodes"]) == (320, 400, 1)
    # jobs 1100-1500 and 1600-1800 inside a 1000 ms window
    assert qa["driver_gap_ms"] == 400
    # micro-batch jobs run under their own group: placed by submission time
    assert (qb["jobs"], qb["stages"], qb["tasks"]) == (2, 2, 2)
    assert qb["shuffle_write_bytes"] == 0
    # overlapping jobs 3100-3400 and 3200-3600 count once: 500 ms busy of 2000
    assert qb["driver_gap_ms"] == 1500


def test_progress_fold():
    got = fold_progress(_records("progress.jsonl"), WINDOWS)
    assert set(got) == {"p0:qb"}  # run r0 started before every window
    qb = got["p0:qb"]
    assert qb["batches"] == 3
    assert qb["input_rows"] == 1250
    assert batch_p50_s(qb["trigger_ms"]) == 0.2
    assert qb["add_batch_ms"] == 640
    assert (qb["query_planning_ms"], qb["wal_commit_ms"], qb["commit_offsets_ms"]) == (15, 12, 9)
    assert qb["state_commit_ms"] == 43
    # state left by each run: r1's last batch (65 rows, 6920 bytes) plus r2's (none)
    assert (qb["state_rows"], qb["state_mem_bytes"]) == (65, 6920)


def test_windows_resolve_prefers_own_job_group():
    assert WINDOWS.resolve({"spark.jobGroup.id": "p0:qb"}, 1500) == "p0:qb"
    assert WINDOWS.resolve({"spark.jobGroup.id": "other"}, 1500) == "p0:qa"
    assert WINDOWS.resolve(None, 2500) is None


@pytest.mark.parametrize(
    "n, percentile, rank",
    [(20, 50.0, 10), (39, 50.0, 20), (40, 75.0, 30), (99, 75.0, 75), (100, 90.0, 90),
     (200, 95.0, 190), (1000, 99.0, 990), (10000, 99.9, 9990)],
)
def test_tail_leaves_ten_samples_beyond(n, percentile, rank):
    samples = [float(i) for i in range(n, 0, -1)]  # 1..n, unsorted
    value, pct = tail_latency(samples)
    assert (pct, value) == (percentile, float(rank))
    assert sum(1 for s in samples if s > value) >= 10


def test_tail_needs_twenty_samples():
    assert min_samples_for_tail() == 20
    with pytest.raises(ValueError):
        tail_latency([1.0] * 19)
