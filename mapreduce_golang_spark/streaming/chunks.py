"""The harness every streaming proof runs on: ordered chunk files, a
checkpointed stream started over them, a wait for N commits, and a
noop drain that leaves a checkpoint behind.

- ``write_chunks`` writes each chunk frame as one parquet file
  ``chunk_<index>.parquet`` whose mtime increases with the index, so the
  streaming file source (oldest-first) drains the chunks in index
  order. Its callers lay their input out with it:
  ``build_plain_chunks`` (state schema evolution, foreachBatch fanout)
  partitions the events fixture so each row appears exactly once;
  recovery.build_chunked_input copies its N files to N more that
  byte-duplicate them; cdc_stream.write_seq_banded_chunks bands the
  change log by sequence number.
- ``start_stream`` starts a query on ``<work_dir>/checkpoint`` either
  polling one file per micro-batch (the phase a proof stops mid-drain)
  or draining everything left (availableNow).
- ``wait_for_commits`` stops a polling query once N micro-batches have
  committed, and raises the query's own error if it dies first.
- ``drain_noop`` runs a plan to completion into a noop sink, for the
  proofs that read the checkpoint's state store afterwards.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader, DataStreamWriter, StreamingQuery

CHUNK_SCHEMA = "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"


def write_chunks(chunks: list[DataFrame], input_dir: str, first: int) -> list[str]:
    """Write ``chunks[k]`` as the single file ``chunk_<first + k>.parquet``
    under ``input_dir``, with mtime ``base + first + k``. Returns the
    file paths in chunk order.

    The chunk writes are independent (disjoint stage dirs), so they are
    submitted from a thread pool and overlap inside the one Spark app
    (optimization-guide §2.6) instead of running as N sequential jobs:
    0.98 → 0.38 s min-of-6 for the 4-chunk events build, per-chunk row
    sets identical (scripts/ab_chunk_build.py at commit 82bf044).
    mtimes come from the chunk INDEX, not completion order, so the
    drain order does not depend on which thread finishes first."""
    os.makedirs(input_dir, exist_ok=True)
    base = int(time.time()) - 3600

    def _one(i: int, chunk: DataFrame) -> str:
        stage_dir = f"{input_dir.rstrip('/')}.stage{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        part = next(
            f
            for f in os.listdir(stage_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        dst = os.path.join(input_dir, f"chunk_{i:02d}.parquet")
        # rename, not copy: the stage dir is a sibling on the same
        # filesystem and each staged part is consumed exactly once
        os.replace(os.path.join(stage_dir, part), dst)
        os.utime(dst, (base + i, base + i))
        shutil.rmtree(stage_dir, ignore_errors=True)
        return dst

    with ThreadPoolExecutor(max_workers=min(4, max(1, len(chunks)))) as pool:
        return list(pool.map(_one, range(first, first + len(chunks)), chunks))


def build_plain_chunks(
    spark: SparkSession,
    sf_dir: str,
    input_dir: str,
    n_chunks: int = 4,
    chunk_range: tuple[int, int] | None = None,
) -> str:
    """Write events rows with ``pmod(event_id, n_chunks)`` in
    ``chunk_range`` (default: all) as ordered single-file chunks under
    ``input_dir``, chunk i holding the rows with remainder i. Each
    selected row lands exactly once. Returns ``input_dir``."""
    from ..sources.tables import load_table

    lo, hi = chunk_range if chunk_range is not None else (0, n_chunks)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    pmod = F.pmod(F.col("event_id"), F.lit(n_chunks))
    write_chunks([events.where(pmod == i) for i in range(lo, hi)], input_dir, lo)
    return input_dir


def start_stream(
    reader: DataStreamReader,
    input_dir: str,
    sink: Callable[[DataFrame], DataStreamWriter],
    work_dir: str,
    available_now: bool,
) -> StreamingQuery:
    """Start ``sink(reader.parquet(input_dir))`` on the checkpoint
    ``<work_dir>/checkpoint``. Polling (``available_now`` false) reads
    one file per micro-batch, so the many small commits let a stop land
    mid-drain. availableNow drains what is left; the reader's own rate
    limit, if any, still holds. Source rate options are plan-side, not
    pinned by the checkpoint: the batch the WAL pinned replays with its
    original file set either way."""
    if available_now:
        writer = sink(reader.parquet(input_dir)).trigger(availableNow=True)
    else:
        plan = reader.option("maxFilesPerTrigger", "1").parquet(input_dir)
        writer = sink(plan).trigger(processingTime="50 milliseconds")
    return writer.option("checkpointLocation", os.path.join(work_dir, "checkpoint")).start()


def committed_batches(work_dir: str) -> int:
    commits = os.path.join(work_dir, "checkpoint", "commits")
    if not os.path.isdir(commits):
        return 0
    return sum(1 for f in os.listdir(commits) if f.isdigit())


def wait_for_commits(q: StreamingQuery, work_dir: str, n_commits: int, timeout_s: float) -> int:
    """Wait until ``n_commits`` micro-batches have committed, then STOP
    the query. Fails fast if the stream dies (q.exception) instead of
    spinning out the timeout masking the real error. Returns the
    commit count at stop time."""
    deadline = time.time() + timeout_s
    try:
        while committed_batches(work_dir) < n_commits:
            exc = q.exception()
            if exc is not None:
                raise exc
            if time.time() > deadline:
                raise TimeoutError(
                    f"only {committed_batches(work_dir)} commits after {timeout_s}s"
                )
            time.sleep(0.05)
    finally:
        q.stop()
        q.awaitTermination()
    return committed_batches(work_dir)


def drain_noop(plan: DataFrame, checkpoint: str, output_mode: str) -> None:
    """Run ``plan`` to completion (availableNow) into a noop sink on
    ``checkpoint``; what it leaves behind is the checkpoint and its
    state store."""
    (
        plan.writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
