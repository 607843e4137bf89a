"""Streaming CDC APPLY CHANGES: a change log arriving in micro-batches
is merged incrementally into a keyed target, and the final state is
provably identical to the ONE-SHOT batch MERGE over the whole log —
even when sequence numbers arrive OUT OF ORDER ACROSS batches.

Why this is its own capability class (vs batch cdc_apply_changes,
merge.py:152): per-batch last-writer-wins is NOT enough. If a key's
seq-5 DELETE arrives in batch 0 and its seq-1 UPDATE arrives in batch
3, a naive per-batch merge resurrects the deleted key. Correct
incremental apply needs
  (a) the target state to CARRY each key's applied (seq, op), so a
      late lower-seq change loses to what is already applied;
  (b) DELETE TOMBSTONES retained in state (filtered only at read
      time), so late changes to deleted keys cannot resurrect them —
      exactly the sequence_by/tombstone semantics of a lakehouse
      `APPLY CHANGES INTO` (Delta Live Tables / Iceberg upsert).

Exactly-once: each foreachBatch writes the full post-merge state to a
batch_id-VERSIONED parquet dir and reads its predecessor version —
a replayed batch (restart mid-stream) re-reads the same predecessor
and deterministically rewrites the same version, so recovery is
idempotent without a table format's transaction log.

Scale notes: the per-batch cost here is a full state rewrite —
right for proving semantics jar-free, not the 100 TB shape. In
production the state is a lakehouse MERGE target: the change batch
(small side) broadcast/bucket-joins against only the touched
partitions and the table format's log replaces the version dirs. The
SEQUENCING semantics proven here are identical; only the sink
changes. Reference parity: the reference applies its reduce over a
complete sorted partition (src/mr/worker.go); arriving-in-pieces
change logs are the streaming generalization, and the oracle proves
piecewise ≡ one-shot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .chunks import start_stream, wait_for_commits, write_chunks

#: chunks are seq-DESCENDING: chunk 0 carries the HIGHEST sequence
#: numbers, later chunks ever-lower ones — maximal cross-batch
#: out-of-order stress (every late batch is entirely "older" than
#: what is already applied)
_SEQ_BANDS = [(5, 99), (3, 4), (2, 2), (1, 1)]


def _resolve(changes: DataFrame, key: str, seq_col: str, op_col: str) -> DataFrame:
    """Per-key winner by (seq DESC, op DESC) — the same deterministic
    resolution as merge.py::cdc_apply_changes."""
    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdc_merge_step(
    state: DataFrame, batch: DataFrame, key: str, seq_col: str, op_col: str
) -> DataFrame:
    """One incremental APPLY CHANGES step: the new state is the per-key
    (seq, op) winner over state ∪ batch. State rows keep their applied
    (seq, op), and 'D' winners stay as TOMBSTONES — both are what make
    piecewise application order-insensitive across batches."""
    return _resolve(state.unionByName(batch), key, seq_col, op_col)


def write_seq_banded_chunks(changes: DataFrame, work_dir: str) -> str:
    """Write the change log as seq-DESCENDING single-file chunks under
    ``work_dir/changes`` with increasing mtimes, so the streaming file
    source (oldest-first) delivers the newest sequence numbers FIRST
    and every later micro-batch is out-of-order history."""
    input_dir = os.path.join(work_dir, "changes")
    bands = [changes.where((F.col("seq") >= lo) & (F.col("seq") <= hi)) for lo, hi in _SEQ_BANDS]
    write_chunks(bands, input_dir, 0)
    return input_dir


def streaming_cdc_apply(
    spark: SparkSession,
    target: DataFrame,
    changes: DataFrame,
    key: str,
    work_dir: str,
    stop_after_commits: int | None = None,
) -> DataFrame:
    """Drive the incremental apply: chunk the change log seq-descending,
    stream it one file per micro-batch, foreachBatch-merge into the
    versioned state, and return the final live (non-tombstone) rows
    with the target's columns.

    The seed state is the target with (seq=0, op='I') — every real
    change outranks it (change seqs are ≥ 1).

    ``stop_after_commits``: when set, the first run is STOPPED
    mid-drain once that many micro-batches have committed, then
    restarted from the same checkpoint (availableNow) — the
    kill-and-recover discipline applied to this operator. The
    in-flight batch at stop time is REPLAYED on restart; because each
    version is rewritten deterministically from its predecessor, the
    replay is idempotent and the final state must be unchanged."""
    schema = ", ".join(
        f"{name} {dtype}" for name, dtype in changes.dtypes
    )
    input_dir = write_seq_banded_chunks(changes, work_dir)
    state_root = os.path.join(work_dir, "state")
    os.makedirs(state_root, exist_ok=True)

    seed = target.withColumn("seq", F.lit(0).cast("long")).withColumn(
        "op", F.lit("I")
    )
    seed.write.mode("overwrite").parquet(os.path.join(state_root, "v_seed"))

    def versions() -> list[str]:
        # numeric order with the seed FIRST — a plain lexicographic
        # sort puts "v_seed" after every "v_0..." ('s' > '0'), which
        # would make every batch merge against the seed and the final
        # read return it
        names = [d for d in os.listdir(state_root) if d.startswith("v_")]
        return sorted(names, key=lambda d: -1 if d == "v_seed" else int(d[2:]))

    def apply_batch(batch_df, batch_id: int) -> None:
        prev = [
            d for d in versions()
            if d == "v_seed" or int(d[2:]) < batch_id
        ][-1]
        state = batch_df.sparkSession.read.parquet(
            os.path.join(state_root, prev)
        )
        out = cdc_merge_step(state, batch_df, key, "seq", "op")
        # overwrite = a REPLAYED batch after restart rewrites the same
        # version from the same predecessor — idempotent recovery
        out.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v_{batch_id:09d}")
        )

    def start(available_now: bool):
        # one file per micro-batch in both phases: each seq band is its own batch
        reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        return start_stream(
            reader, input_dir, lambda df: df.writeStream.foreachBatch(apply_batch), work_dir, available_now
        )

    if stop_after_commits is not None:
        wait_for_commits(start(available_now=False), work_dir, stop_after_commits, 180.0)
    start(available_now=True).awaitTermination()

    final = spark.read.parquet(os.path.join(state_root, versions()[-1]))
    return final.where(F.col("op") != "D").select(*target.columns)
