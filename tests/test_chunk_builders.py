"""Focused contract tests for the thread-pooled streaming chunk
builders (round-14 optimization: the N independent chunk-write jobs
overlap via a ThreadPoolExecutor — guide §2.6 — instead of running as
N sequential Spark jobs).

What threading could have broken, pinned here explicitly:

- drain ORDER: the streaming file source reads oldest-first, so chunk
  mtimes must increase with the chunk INDEX, not with whichever thread
  finished last;
- the row PARTITION: each selected row lands in exactly one chunk.

All three layouts come from one writer, streaming/chunks.py::write_chunks.
The end-to-end streaming proofs (fanout, schema evolution, kill/
recover, CDC) cover the same properties implicitly; these stay cheap
and point at the builder when they fail.
"""

from __future__ import annotations

import os

from mapreduce_golang_spark.sources.tables import load_table
from mapreduce_golang_spark.streaming.cdc_stream import _SEQ_BANDS, write_seq_banded_chunks
from mapreduce_golang_spark.streaming.chunks import build_plain_chunks
from mapreduce_golang_spark.streaming.recovery import (
    N_UNIQUE_CHUNKS,
    build_chunked_input,
)


def _chunks_sorted_by_name(input_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(input_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def test_plain_chunks_mtimes_follow_index_not_completion(spark, sf_dir, tmp_path):
    input_dir = build_plain_chunks(spark, sf_dir, str(tmp_path / "chunks"), n_chunks=4)
    names = _chunks_sorted_by_name(input_dir)
    assert names == [f"chunk_{i:02d}.parquet" for i in range(4)]
    mtimes = [os.path.getmtime(os.path.join(input_dir, n)) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes), (
        "chunk mtimes must strictly increase with chunk index (drain order), "
        f"got {mtimes}"
    )


def test_plain_chunks_partition_rows_exactly_once(spark, sf_dir, tmp_path):
    input_dir = build_plain_chunks(spark, sf_dir, str(tmp_path / "chunks"), n_chunks=4)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    got = spark.read.parquet(input_dir)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.select(
        "event_id"
    ).distinct().count()


def test_recovery_chunks_second_half_duplicates_first(spark, sf_dir, tmp_path):
    input_dir = build_chunked_input(spark, sf_dir, str(tmp_path / "run"))
    names = _chunks_sorted_by_name(input_dir)
    assert len(names) == 2 * N_UNIQUE_CHUNKS
    mtimes = [os.path.getmtime(os.path.join(input_dir, n)) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    for i in range(N_UNIQUE_CHUNKS):
        a = os.path.join(input_dir, names[i])
        b = os.path.join(input_dir, names[i + N_UNIQUE_CHUNKS])
        with open(a, "rb") as fa, open(b, "rb") as fb:
            assert fa.read() == fb.read(), f"chunk {i + N_UNIQUE_CHUNKS} must byte-duplicate chunk {i}"


def test_cdc_chunks_band_change_rows_by_seq(spark, tmp_path):
    # seqs 1..7 put rows in every band of the seq-descending layout
    changes = spark.createDataFrame(
        [(k, k % 7 + 1, "U") for k in range(40)], "k bigint, seq bigint, op string"
    )
    input_dir = write_seq_banded_chunks(changes, str(tmp_path))
    names = _chunks_sorted_by_name(input_dir)
    assert names == [f"chunk_{i:02d}.parquet" for i in range(len(_SEQ_BANDS))]
    mtimes = [os.path.getmtime(os.path.join(input_dir, n)) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    got = []
    for name, (lo, hi) in zip(names, _SEQ_BANDS):
        rows = spark.read.parquet(os.path.join(input_dir, name)).collect()
        assert rows and all(lo <= r.seq <= hi for r in rows), (name, lo, hi)
        got += map(tuple, rows)
    assert sorted(got) == sorted(map(tuple, changes.collect()))
