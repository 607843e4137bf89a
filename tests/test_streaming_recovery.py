"""Streaming kill-and-recover proofs (round-9 verdict #7): the
streaming analogue of the reference's crash test — a checkpointed
stateful query interrupted mid-drain must, after resuming from its
checkpoint, produce output identical to the uninterrupted run.

Two escalating variants:
1. graceful stop() mid-drain + resume (the driver-graded query path);
2. SIGKILL of a worker process mid-drain (no shutdown hooks run) +
   resume in THIS process from the orphaned checkpoint.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ground_truth(spark, sf_dir):
    from mapreduce_golang_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    return sorted(
        map(
            tuple,
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            )
            .distinct()
            .collect(),
        )
    )


def test_stop_resume_equals_uninterrupted(spark, sf_dir, tmp_path):
    """Graceful mid-drain stop: ≥2 batches commit, the query stops,
    resumes from the checkpoint, drains — output must equal batch
    DISTINCT over the same rows (duplicates injected in the second
    half of the chunks collapse only if the dedup state survived)."""
    from mapreduce_golang_spark.streaming import recovery

    df = recovery.streaming_dedup_kill_recover(
        spark, sf_dir, work_root=str(tmp_path)
    )
    got = sorted(map(tuple, df.collect()))
    assert got == _ground_truth(spark, sf_dir)


def test_stop_resume_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The same kill-and-recover proof under the RocksDB state store
    provider — the 100 TB state-scale path (state spills to local
    RocksDB instead of living in the executor heap like the default
    HDFS-backed map; checkpointing ships snapshots/changelogs). The
    provider conf is read at query start and must match across the
    stop/resume boundary; recovery semantics must be identical."""
    from mapreduce_golang_spark.streaming import recovery

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        df = recovery.streaming_dedup_kill_recover(
            spark, sf_dir, work_root=str(tmp_path)
        )
        got = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set(key, old)
    assert got == _ground_truth(spark, sf_dir)
    # prove RocksDB actually held the state: its checkpoint layout is
    # zip snapshots / changelogs, never the HDFS provider's .delta
    state_dir = os.path.join(str(tmp_path), "run", "checkpoint", "state")
    names = [
        f
        for _, _, fs in os.walk(state_dir)
        for f in fs
        if not f.startswith(".")
    ]
    assert names and not any(f.endswith(".delta") for f in names)
    assert any(f.endswith((".zip", ".changelog")) for f in names)


def test_sigkill_resume_equals_uninterrupted(spark, sf_dir, tmp_path):
    """True crash: the streaming query runs in a CHILD process that is
    SIGKILLed after ≥2 commits (mid-drain of 8 chunk files, likely
    mid-batch — no graceful stop, no sink cleanup). This process then
    resumes from the orphaned checkpoint and drains. The recovered
    output must equal batch DISTINCT: offsets WAL replay + state-store
    restore + the file sink's commit log hiding any part files the
    killed batch half-wrote."""
    from mapreduce_golang_spark.streaming import recovery

    work_dir = str(tmp_path / "run")
    os.makedirs(work_dir, exist_ok=True)
    input_dir = recovery.build_chunked_input(spark, sf_dir, work_dir)

    # start_new_session puts the worker python AND the JVM it spawns in
    # one process group: SIGKILLing only the python pid leaves an
    # ORPHANED JVM still draining batches into the same checkpoint,
    # which races the resume below (CONCURRENT_STREAM_LOG_UPDATE —
    # observed as a suite flake). killpg is also the truer crash: a
    # dying worker machine takes all its processes down at once.
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "scripts", "streaming_crash_worker.py"),
         input_dir, work_dir],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,
    )
    try:
        deadline = time.time() + 240
        while recovery.committed_batches(work_dir) < 2:
            if proc.poll() is not None:
                pytest.fail(f"worker exited early rc={proc.returncode}")
            if time.time() > deadline:
                pytest.fail("worker never reached 2 commits")
            time.sleep(0.05)
        os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            try:
                os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
            except ProcessLookupError:
                pass
    n_at_kill = recovery.committed_batches(work_dir)
    assert n_at_kill < 2 * recovery.N_UNIQUE_CHUNKS  # genuinely mid-drain

    recovery.resume_and_drain(spark, input_dir, work_dir)
    from pyspark.sql import functions as F

    got = sorted(
        map(
            tuple,
            recovery.read_sink(spark, work_dir)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            )
            .collect(),
        )
    )
    assert got == _ground_truth(spark, sf_dir)


def test_cdc_stream_death_surfaces_its_own_error(spark, tmp_path):
    """A CDC stream whose micro-batches fail inside foreachBatch must
    raise its own StreamingQueryException as soon as it dies, not spin
    out the 180 s commit wait first."""
    from mapreduce_golang_spark.streaming.cdc_stream import streaming_cdc_apply
    from pyspark.errors import StreamingQueryException

    target = spark.createDataFrame([(1, "old")], "k bigint, status string")
    # the extra column breaks cdc_merge_step's unionByName with the state
    changes = spark.createDataFrame(
        [(1, "new", 1, "U", "x"), (2, "new", 5, "U", "x")],
        "k bigint, status string, seq bigint, op string, extra string",
    )
    started = time.time()
    with pytest.raises(StreamingQueryException):
        streaming_cdc_apply(spark, target, changes, "k", str(tmp_path), stop_after_commits=2)
    assert time.time() - started < 60
