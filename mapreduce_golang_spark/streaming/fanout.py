"""foreachBatch MULTI-SINK EXACTLY-ONCE FANOUT — the last common
production streaming shape not yet pinned (round-10 verdict #6b): one
micro-batch delivered to TWO sinks (raw rows + a per-batch aggregate),
made exactly-once not by the sinks' own commit logs but by BATCH-ID
IDEMPOTENCE inside foreachBatch, and proven replay-safe by injecting
an actual replay.

Why this shape exists: Spark's file/Delta sinks are exactly-once only
for a SINGLE sink per query. The moment one stream must feed two
destinations (a raw archive + a serving aggregate, a table + a search
index), the supported recipe is foreachBatch: Spark guarantees the
function runs with a deterministic (batch_id, data) pair — replayed
after a crash with the SAME id and the SAME WAL-pinned file set — and
the function makes itself idempotent by versioning every sink write
with the batch id (here: one overwritten ``batch=<id>`` directory per
sink per batch; production equivalents: MERGE on batch_id, txn
metadata checks).

The proof injects the crash the recipe defends against: phase 1 runs
one-file-per-trigger until 2 batches commit, stops, then DELETES the
newest checkpoint commit marker — exactly the state after a crash
BETWEEN the foreachBatch sink writes and the commit write. The resume
replays that batch (same id, same files) over sinks that already hold
its output; without the idempotent write discipline the replayed rows
double-count and the oracle hash catches it. Phase 2 drains the rest.
The graded query reads BOTH sinks back and returns per-type row counts
from each side by side — DuckDB-checked against batch ``count(*)``, so
a duplicated batch in either sink (or a fanout disagreement between
them) fails the gate.

Scale shape: stateless pass-through plan (no shuffle before the
sinks); the per-batch aggregate shuffles only within its micro-batch.
The batch=<id> directory layout is also the production repair story:
any suspect batch can be re-audited or re-written in isolation.

Reference parity: the reference's sink discipline is atomic rename of
per-task temp files (/root/reference/src/mr/worker.go os.Rename final
output); batch-id-versioned overwrite is the same idea one level up —
the unit of atomicity is the (batch, sink) directory, re-creatable at
the same name any number of times.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .chunks import CHUNK_SCHEMA, build_plain_chunks, start_stream, wait_for_commits


def make_fanout_writer(sink_raw: str, sink_agg: str):
    """The foreachBatch function: write the micro-batch's raw rows to
    ``sink_raw/batch=<id>`` and its per-type counts to
    ``sink_agg/batch=<id>``, both mode=overwrite — so a replay of the
    same batch id rewrites the same directories instead of appending
    duplicates. Calling it twice with the same (df, batch_id) must be
    a no-op; the pytest does exactly that."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.persist()
        try:
            df.write.mode("overwrite").parquet(f"{sink_raw}/batch={batch_id}")
            (
                df.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(f"{sink_agg}/batch={batch_id}")
            )
        finally:
            df.unpersist()

    return write_batch


def _start(spark: SparkSession, input_dir: str, work_dir: str, available_now: bool):
    write_batch = make_fanout_writer(os.path.join(work_dir, "sink_raw"), os.path.join(work_dir, "sink_agg"))
    return start_stream(
        spark.readStream.schema(CHUNK_SCHEMA),
        input_dir,
        lambda df: df.writeStream.foreachBatch(write_batch),
        work_dir,
        available_now,
    )


def inject_replay(work_dir: str) -> int | None:
    """Simulate the crash between sink writes and commit, such that the
    resume GENUINELY re-runs one batch OVER SINKS THAT ALREADY HOLD ITS
    OUTPUT. Spark's restart logic re-runs only the latest WAL-planned
    batch (commit-log gaps deeper than one produce a warning, not a
    replay), so what to do depends on where the stop landed:

    - offsets ahead of commits (the stop interrupted an in-flight
      batch): that batch will replay naturally on resume — deleting an
      older commit would leave a permanent hole that never re-runs and
      make the proof vacuous. Delete nothing — but the replay is only
      the interesting crash shape if its foreachBatch already wrote
      sink output before the stop. Check the ``batch=<id>`` raw-sink
      directory: if it exists, return the id; if the stop killed the
      batch before any sink write, the resume would be a plain first
      run (round-11 advice #2's silent-weakening hole) — return None
      so the caller retries until the injection is genuine.
    - offsets == commits (the stop landed on a batch boundary): delete
      the newest commit marker; the offsets WAL still pins that
      batch's file set, so the resume re-runs foreachBatch with the
      same batch id and data against sinks that already hold its
      output.

    Returns the batch id the resume must re-run (its sink output is
    verified present at injection time), or None if the stop position
    cannot yield a genuine replay; callers assert the commit marker
    exists again after the drain (proof the replay completed)."""
    commits = os.path.join(work_dir, "checkpoint", "commits")
    offsets = os.path.join(work_dir, "checkpoint", "offsets")
    c_latest = max(int(f) for f in os.listdir(commits) if f.isdigit())
    o_latest = max(int(f) for f in os.listdir(offsets) if f.isdigit())
    if o_latest > c_latest:
        # In-flight batch: replays without our help — but only counts
        # as replay-over-existing-output if the sinks were written.
        sink_batch = os.path.join(work_dir, "sink_raw", f"batch={o_latest}")
        return o_latest if os.path.isdir(sink_batch) else None
    os.remove(os.path.join(commits, str(c_latest)))
    # local-FS sharp edge: Hadoop's ChecksumFileSystem shadows every
    # commit marker with a .N.crc sibling; leaving it behind makes the
    # resumed query's atomic rewrite of commits/N look like a
    # concurrent writer (SparkConcurrentModificationException) instead
    # of a clean replay
    crc = os.path.join(commits, f".{c_latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return c_latest


def run_fanout_with_replay(
    spark: SparkSession, sf_dir: str, work_dir: str, timeout_s: float = 180.0
) -> int:
    """Phase 1 (one file per trigger) until 2 commits → stop → arrange
    a replay (see inject_replay for the two stop-position cases) →
    phase 2 resume (availableNow) drains the replayed batch plus the
    remainder. Returns the replayed batch id, and ASSERTS the resume
    actually re-committed it — the proof is not allowed to go vacuous
    silently. If the stop landed on a position where no genuine
    replay-over-existing-output can be arranged (in-flight batch whose
    foreachBatch never reached the sinks), phase 1 is resumed for one
    more commit and the injection retried — the stop then lands either
    on a boundary or past a sink write, both genuine."""
    input_dir = build_plain_chunks(
        spark, sf_dir, os.path.join(work_dir, "input")
    )
    # 4 chunk files → at most 4 one-file batches; once all are
    # committed a stop can only land on a boundary, where injection
    # always succeeds, so the retry loop is bounded.
    for want_commits in range(2, 5):
        q = _start(spark, input_dir, work_dir, available_now=False)
        wait_for_commits(q, work_dir, want_commits, timeout_s)
        replayed = inject_replay(work_dir)
        if replayed is not None:
            break
    else:
        raise AssertionError("no genuine replay position after draining all chunks")
    _start(spark, input_dir, work_dir, available_now=True).awaitTermination()
    commit_marker = os.path.join(work_dir, "checkpoint", "commits", str(replayed))
    if not os.path.exists(commit_marker):
        raise AssertionError(
            f"resume did not re-commit batch {replayed}: the replay never ran"
        )
    return replayed


def foreach_batch_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graded query: run the fanout with an injected replay, then
    read BOTH sinks back — (event_type, n_raw, n_agg), where n_raw
    counts the raw-archive rows and n_agg sums the per-batch aggregate
    sink. Oracle: batch count(*) per type, twice — any double-written
    batch or sink disagreement hash-mismatches."""
    from mapreduce_golang_spark.tempdirs import scratch_dir

    work_dir = scratch_dir("mr_spark_fanout_")
    run_fanout_with_replay(spark, sf_dir, work_dir)
    raw = (
        spark.read.parquet(os.path.join(work_dir, "sink_raw"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_raw"))
    )
    agg = (
        spark.read.parquet(os.path.join(work_dir, "sink_agg"))
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("n_agg"))
    )
    return raw.join(agg, "event_type", "full_outer").select(
        "event_type",
        F.coalesce("n_raw", F.lit(0)).alias("n_raw"),
        F.coalesce("n_agg", F.lit(0)).alias("n_agg"),
    )
