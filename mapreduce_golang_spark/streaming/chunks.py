"""Ordered single-file chunk layouts for streaming proofs.

The kill-recover proof (recovery.py) carries its own duplicate-
injecting splitter whose layout is load-bearing for that proof's
docstring; this module is the PLAIN variant shared by the round-11
streaming proofs (state schema evolution, foreachBatch fanout): the
events fixture partitioned into N ordered single-file chunks with
increasing mtimes, each row appearing exactly once, so the streaming
file source (oldest-first) drains them deterministically and a batch
oracle over `events` describes the drained stream exactly.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

CHUNK_SCHEMA = "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"


def build_plain_chunks(
    spark: SparkSession,
    sf_dir: str,
    input_dir: str,
    n_chunks: int = 4,
    chunk_range: tuple[int, int] | None = None,
) -> str:
    """Write events rows with ``pmod(event_id, n_chunks)`` in
    ``chunk_range`` (default: all) as ordered single-file chunks under
    ``input_dir``. Each selected row lands exactly once; mtimes
    increase with chunk index. Returns ``input_dir``.

    The per-chunk write jobs are independent (disjoint row sets,
    disjoint stage dirs), so they are submitted from a thread pool and
    overlap inside the one Spark app (optimization-guide §2.6) instead
    of serializing N scan+filter+write round trips — round-14 A/B:
    0.98 → 0.38 s min-of-6 for the 4-chunk build, per-chunk row sets
    identical (scripts/ab_chunk_build.py at commit 82bf044). mtimes
    are assigned from the chunk INDEX, not completion order, so the
    streaming source's oldest-first drain order is unchanged."""
    from ..sources.tables import load_table

    lo, hi = chunk_range if chunk_range is not None else (0, n_chunks)
    os.makedirs(input_dir, exist_ok=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    base = int(time.time()) - 3600

    def _one(i: int) -> None:
        stage_dir = f"{input_dir.rstrip('/')}.stage{i}"
        chunk = events.where(
            F.pmod(F.col("event_id"), F.lit(n_chunks)) == i
        ).coalesce(1)
        chunk.write.mode("overwrite").parquet(stage_dir)
        part = next(
            f
            for f in os.listdir(stage_dir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        dst = os.path.join(input_dir, f"chunk_{i:02d}.parquet")
        # rename, not copy: stage dir is a sibling on the same
        # filesystem, and each staged part is consumed exactly once —
        # at the 100× events ladder a byte copy would add four
        # multi-MB copies inside every timed proof wall
        os.replace(os.path.join(stage_dir, part), dst)
        os.utime(dst, (base + i, base + i))
        shutil.rmtree(stage_dir, ignore_errors=True)

    with ThreadPoolExecutor(max_workers=min(4, max(1, hi - lo))) as pool:
        list(pool.map(_one, range(lo, hi)))
    return input_dir
