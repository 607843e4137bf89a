"""Pure folds from raw run records to the benchmark's metrics.

Nothing here imports Spark, so the tests in ``perfbench/tests`` can
check every rule on a few hand-written records:

- ``tail_latency``: the highest standard percentile that still leaves
  at least ten samples beyond it;
- ``fold_event_log``: a Spark event log (JSON lines) folded into
  per-query counters, each job, stage and task attributed to the
  query that was running when it was submitted;
- ``fold_progress``: ``StreamingQueryListener`` progress records
  folded into per-query streaming counters.

Queries are identified by *labels*; ``Windows`` maps a label to the
wall-clock interval (epoch milliseconds) in which the benchmark ran
it. The benchmark runs one query at a time, so the intervals are
disjoint and any event stamped inside one belongs to that query.
"""

from __future__ import annotations

import bisect
import statistics
from collections import defaultdict
from datetime import datetime, timezone

#: Tail percentiles tried from the highest down, in per-mille so the
#: nearest-rank index is computed in exact integer arithmetic.
TAIL_PER_MILLE = (999, 990, 950, 900, 750, 500)
MIN_BEYOND = 10


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile of TAIL_PER_MILLE
    that leaves at least MIN_BEYOND samples strictly beyond its
    nearest-rank position."""
    n = len(samples)
    ordered = sorted(samples)
    for pm in TAIL_PER_MILLE:
        rank = _nearest_rank(pm, n)
        if n - rank >= MIN_BEYOND:
            return ordered[rank - 1], pm / 10
    raise ValueError(f"{n} samples leave fewer than {MIN_BEYOND} beyond the median")


def _nearest_rank(per_mille: int, n: int) -> int:
    return -(-per_mille * n // 1000)  # ceil(per_mille * n / 1000)


def min_samples_for_tail() -> int:
    """Smallest sample count for which ``tail_latency`` is defined."""
    n = 1
    while n - _nearest_rank(TAIL_PER_MILLE[-1], n) < MIN_BEYOND:
        n += 1
    return n


class Windows:
    """Disjoint, labelled wall-clock intervals in epoch milliseconds."""

    def __init__(self, spans: list[tuple[str, int, int]]):
        self._spans = sorted(spans, key=lambda s: s[1])
        self._starts = [s[1] for s in self._spans]
        self.labels = {s[0] for s in self._spans}
        self.bounds = {s[0]: (s[1], s[2]) for s in self._spans}

    def at(self, t_ms: int) -> str | None:
        i = bisect.bisect_right(self._starts, t_ms) - 1
        if i >= 0:
            label, start, end = self._spans[i]
            if start <= t_ms <= end:
                return label
        return None

    def resolve(self, props: dict | None, t_ms: int) -> str | None:
        """The label a job or stage belongs to: its job group when the
        benchmark set it, else the window its submission falls in
        (streaming micro-batches run under their own job group)."""
        group = (props or {}).get("spark.jobGroup.id")
        if group in self.labels:
            return group
        return self.at(t_ms)


PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"

EVENT_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_ms",
    "exec_cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "fetch_wait_ms",
    "spill_bytes",
    "python_sent_bytes",
    "python_received_bytes",
)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def fold_event_log(events, windows: Windows) -> dict[str, dict]:
    """Per-label counters from parsed event-log records.

    Each label gets every name in EVENT_COUNTERS plus ``python_nodes``
    (Python exec-node instances that ran: distinct accumulators named
    PYTHON_SENT) and ``driver_gap_ms`` (the label's window minus the
    union of its jobs' submit-to-end intervals, clipped to the window).
    Events outside every window (set-up, the check pass) are dropped.
    """
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EVENT_COUNTERS, 0))
    job_label: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    stage_label: dict[int, str] = {}
    py_nodes: dict[str, set] = defaultdict(set)

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = windows.resolve(ev.get("Properties"), ev["Submission Time"])
            if label is None:
                continue
            job_label[ev["Job ID"]] = label
            job_start[ev["Job ID"]] = ev["Submission Time"]
            out[label]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            label = job_label.get(ev["Job ID"])
            if label is not None:
                intervals[label].append((job_start[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            label = windows.resolve(ev.get("Properties"), info.get("Submission Time", 0))
            if label is not None:
                stage_label[info["Stage ID"]] = label
                out[label]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev["Stage ID"])
            if label is None:
                continue
            c = out[label]
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["exec_run_ms"] += m.get("Executor Run Time", 0)
            c["exec_cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            read = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            c["fetch_wait_ms"] += read.get("Fetch Wait Time", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                name = acc.get("Name")
                if name == PYTHON_SENT:
                    c["python_sent_bytes"] += int(acc.get("Update", 0))
                    py_nodes[label].add(acc["ID"])
                elif name == PYTHON_RECEIVED:
                    c["python_received_bytes"] += int(acc.get("Update", 0))

    for label, c in out.items():
        c["python_nodes"] = len(py_nodes[label])
        start, end = windows.bounds[label]
        clipped = [(max(s, start), min(e, end)) for s, e in intervals[label] if e > start and s < end]
        c["driver_gap_ms"] = (end - start) - _union_ms(clipped)
    return dict(out)


def _iso_ms(stamp: str) -> int:
    """Epoch ms of a progress timestamp such as 2026-10-16T23:31:24.123Z."""
    t = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(t.timestamp() * 1000)


def fold_progress(progresses, windows: Windows) -> dict[str, dict]:
    """Per-label streaming counters from StreamingQueryProgress dicts.

    Sums over micro-batches: ``batches``, ``input_rows`` and the
    ``durationMs`` phases (milliseconds); ``trigger_ms`` keeps every
    batch's ``triggerExecution`` for the median. ``state_rows`` and
    ``state_mem_bytes`` are the state left by each streaming run (its
    last batch), summed over the runs of the label.
    """
    out: dict[str, dict] = {}
    last_of_run: dict[tuple[str, str], dict] = {}
    for p in progresses:
        label = windows.at(_iso_ms(p["timestamp"]))
        if label is None:
            continue
        c = out.setdefault(
            label,
            {
                "batches": 0,
                "input_rows": 0,
                "trigger_ms": [],
                "add_batch_ms": 0,
                "query_planning_ms": 0,
                "wal_commit_ms": 0,
                "commit_offsets_ms": 0,
                "state_commit_ms": 0,
                "state_rows": 0,
                "state_mem_bytes": 0,
            },
        )
        d = p.get("durationMs") or {}
        c["batches"] += 1
        c["input_rows"] += p.get("numInputRows", 0)
        c["trigger_ms"].append(d.get("triggerExecution", 0))
        c["add_batch_ms"] += d.get("addBatch", 0)
        c["query_planning_ms"] += d.get("queryPlanning", 0)
        c["wal_commit_ms"] += d.get("walCommit", 0)
        c["commit_offsets_ms"] += d.get("commitOffsets", 0)
        c["state_commit_ms"] += sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", ()))
        key = (label, p["runId"])
        prev = last_of_run.get(key)
        if prev is None or p.get("batchId", 0) >= prev.get("batchId", 0):
            last_of_run[key] = p
    for (label, _), p in last_of_run.items():
        ops = p.get("stateOperators", ())
        out[label]["state_rows"] += sum(op.get("numRowsTotal", 0) for op in ops)
        out[label]["state_mem_bytes"] += sum(op.get("memoryUsedBytes", 0) for op in ops)
    return out


def batch_p50_s(trigger_ms: list[int]) -> float:
    return statistics.median(trigger_ms) / 1000.0
