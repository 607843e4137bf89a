"""Streaming KILL-AND-RECOVER proof: a checkpointed stateful query
stopped (or SIGKILLed, in the pytest variant) mid-drain and resumed
from its checkpoint, with the recovered output proven equal to both
the uninterrupted run and the batch ground truth.

This is the streaming analogue of the reference's crash discipline —
/root/reference/src/main/test-mr.sh crash test kills workers mid-job
and asserts the recovered output equals the sequential oracle; here
the "worker" is the streaming query process, the "job state" is the
checkpoint (source offsets + dedup state store + file-sink metadata
log), and the oracle is DuckDB DISTINCT over the same rows.

The stateful operator under test is streaming deduplication
(`dropDuplicates` on event_id): the input is the events fixture split
into ordered chunk files where the SECOND half of the chunks carries
exact duplicate rows of the first half. A kill between a row's first
and second appearance can only produce the correct output if the
state store (seen keys) was restored from the checkpoint — lost state
re-emits the duplicate and the row count is wrong; a lost/replayed
sink batch double-writes and the value hash is wrong. Equality with
the oracle therefore certifies BOTH exactly-once sink semantics (the
parquet file sink's _spark_metadata commit log hides files from
uncommitted batches) and state-store recovery.

Scale notes: dropDuplicates-without-watermark keeps all seen keys in
the state store — right for a bounded proof, while production
ingestion uses dropDuplicatesWithinWatermark (streaming_dedup_events)
so state is evicted past the horizon. The checkpoint/WAL topology
exercised here is identical for both, and for any source (swap the
file source for Kafka; offsets+state+commit log work the same way).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

# committed_batches: the SIGKILL test polls the worker's commits here
from .chunks import committed_batches, start_stream, wait_for_commits, write_chunks  # noqa: F401

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

#: chunk layout: N_UNIQUE ordered files partition the events rows;
#: then N_UNIQUE more files repeat them (file i+N_UNIQUE duplicates
#: file i), so duplicates straddle any kill point past the first
#: few commits
N_UNIQUE_CHUNKS = 4

_CHUNK_SCHEMA = "event_id bigint, user_id bigint, event_type string, ts timestamp"


def build_chunked_input(spark: SparkSession, sf_dir: str, work_dir: str) -> str:
    """Write the events fixture as 2×N ordered single-file chunks under
    ``work_dir/input`` — the second N repeat the first N byte-for-byte.
    File mtimes increase with chunk index so the streaming file source
    (oldest-first) drains them in order. Returns the input dir."""
    from ..sources.tables import load_table

    input_dir = os.path.join(work_dir, "input")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    pmod = F.pmod(F.col("event_id"), F.lit(N_UNIQUE_CHUNKS))
    firsts = write_chunks([events.where(pmod == i) for i in range(N_UNIQUE_CHUNKS)], input_dir, 0)
    for i, src in enumerate(firsts):
        dst = os.path.join(input_dir, f"chunk_{i + N_UNIQUE_CHUNKS:02d}.parquet")
        shutil.copyfile(src, dst)
        mtime = os.path.getmtime(src) + N_UNIQUE_CHUNKS
        os.utime(dst, (mtime, mtime))
    return input_dir


def start_dedup(spark: SparkSession, input_dir: str, work_dir: str, available_now: bool) -> StreamingQuery:
    """The checkpointed dedup stream into the parquet sink ``work_dir/out``.
    The resume (availableNow) drops phase 1's one-file rate limit, so
    the remainder drains in ONE batch instead of six (~3 s saved at
    sf0.1 — batch planning + state commit per micro-batch is the floor,
    not data volume)."""

    def sink(events: DataFrame):
        return (
            events.dropDuplicates(["event_id"])
            .writeStream.format("parquet")
            .option("path", os.path.join(work_dir, "out"))
            .outputMode("append")
        )

    return start_stream(spark.readStream.schema(_CHUNK_SCHEMA), input_dir, sink, work_dir, available_now)


def run_until_n_commits(
    spark: SparkSession, input_dir: str, work_dir: str, n_commits: int,
    timeout_s: float = 180.0,
) -> int:
    """Phase 1: start the checkpointed dedup stream and STOP it
    mid-drain, as soon as ``n_commits`` micro-batches have committed
    (well before the 2×N chunk files are drained). Returns the commit
    count at stop time."""
    q = start_dedup(spark, input_dir, work_dir, available_now=False)
    return wait_for_commits(q, work_dir, n_commits, timeout_s)


def resume_and_drain(spark: SparkSession, input_dir: str, work_dir: str) -> None:
    """Phase 2: restart the SAME query from the SAME checkpoint and
    drain everything left (availableNow). Spark replays the in-flight
    batch from the WAL, restores the dedup state store, and the file
    sink's commit log makes any orphaned files from the killed batch
    invisible to readers."""
    start_dedup(spark, input_dir, work_dir, available_now=True).awaitTermination()


def read_sink(spark: SparkSession, work_dir: str) -> DataFrame:
    """Batch-read the file sink's output THROUGH its _spark_metadata
    commit log (Spark does this automatically when the log is present
    — uncommitted part files are excluded)."""
    return spark.read.schema(_CHUNK_SCHEMA).parquet(os.path.join(work_dir, "out"))


def streaming_dedup_kill_recover(
    spark: SparkSession, sf_dir: str, work_root: str | None = None
) -> DataFrame:
    """The driver-graded query: chunked duplicate-bearing input →
    checkpointed streaming dedup STOPPED after 2 committed batches
    (mid-drain: 8 chunk files total) → resumed from the checkpoint →
    drained → sink read back. Oracle: DISTINCT over events (every
    injected duplicate must have been dropped, including those whose
    first occurrence was before the stop and second after — which is
    exactly the state-store recovery being proven).

    The harsher SIGKILL variant (worker process killed -9 mid-batch,
    no graceful stop) runs in tests/test_streaming_recovery.py via
    scripts/streaming_crash_worker.py; the checkpoint/recovery path
    exercised is the same.
    """
    from mapreduce_golang_spark.tempdirs import scratch_dir

    if work_root is None:
        # atexit-cleaned: the returned DF reads the sink lazily, so
        # the dir must outlive this call but not the process
        work_root = scratch_dir("mr_spark_recover_")
    work_dir = os.path.join(work_root, "run")
    os.makedirs(work_dir, exist_ok=True)
    input_dir = build_chunked_input(spark, sf_dir, work_dir)
    run_until_n_commits(spark, input_dir, work_dir, n_commits=2)
    resume_and_drain(spark, input_dir, work_dir)
    return read_sink(spark, work_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT).alias("ts_s"),
    )
