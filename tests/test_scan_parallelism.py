"""Scan-parallelism contract: `spark.sql.files.maxPartitionBytes` and
`spark.sql.files.openCostInBytes` govern how many input splits a parquet
scan produces — the knob that decides whether a 100 TB read fans out
over every executor core or serializes into a handful of oversized
tasks.

Why this is a first-class test and not folklore: at 100 TB the scan IS
the job for most of the extension surface (dedup shingling, quality
scoring, tokenization are all narrow maps over the scan). Spark sizes
splits as bytes/maxPartitionBytes, bin-packing files that are smaller
than a split (each opened file padded by openCostInBytes so millions of
tiny files don't become millions of tiny tasks). Both effects are
runtime SQLConf — settable per read, no session restart — which is what
lets one pipeline read its compacted 1 GB shards at 128 MB splits and a
fragmented streaming-ingest landing zone with aggressive packing.

The numbers asserted here are the contract the scan-split sizing
finding in PERF.md relies on; scripts/skew_ab.py at commit 82bf044
recorded the measured side.
"""

from __future__ import annotations

import pytest


SF01_LINEITEM = "/root/testdata/sf0.1/lineitem.parquet"  # ~11 MB, single file


def _scan_partitions(spark, path: str) -> int:
    return spark.read.parquet(path).rdd.getNumPartitions()


@pytest.fixture()
def files_conf(spark):
    """Snapshot/restore the two file-split knobs around each test."""
    keys = [
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.minPartitionNum",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_max_partition_bytes_governs_split_count(files_conf):
    spark = files_conf
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    # without this, Spark floors the split count at the session's core
    # count (spark.sql.files.minPartitionNum -> defaultParallelism) —
    # ALSO the right default at scale: idle cores are the other failure
    spark.conf.set("spark.sql.files.minPartitionNum", "1")

    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    wide = _scan_partitions(spark, SF01_LINEITEM)

    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    narrow = _scan_partitions(spark, SF01_LINEITEM)

    # 11 MB file: one ~128 MB split vs ~11 one-MB splits. Exact counts
    # depend on the file's byte size, so assert the contract, not a
    # constant: the small-split read must fan out, the large must not.
    assert wide <= 2
    assert narrow >= 8
    assert narrow > wide


def test_split_count_scales_inverse_to_partition_bytes(files_conf):
    spark = files_conf
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    counts = {}
    for mb in (1, 2, 4):
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(mb * 1024 * 1024))
        counts[mb] = _scan_partitions(spark, SF01_LINEITEM)
    # halving the split size ~doubles the task count (within rounding)
    assert counts[1] > counts[2] > counts[4]
    assert counts[1] >= 2 * counts[4] - 2


def test_small_files_are_bin_packed_not_one_task_each(files_conf, tmp_path):
    spark = files_conf
    frag = str(tmp_path / "fragmented")
    spark.read.parquet(SF01_LINEITEM).repartition(40).write.parquet(frag)

    # default-ish sizing: 40 files of ~300 KB bin-pack into few splits
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
    packed = _scan_partitions(spark, frag)
    assert packed <= 8  # NOT 40 — the landing-zone fragmentation is absorbed

    # zero open cost + tiny splits: approaches one task per file again
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    unpacked = _scan_partitions(spark, frag)
    assert unpacked > packed

    # row counts identical either way — split sizing never changes results
    assert (
        spark.read.parquet(frag).count()
        == spark.read.parquet(SF01_LINEITEM).count()
    )


def test_widen_for_cpu_gate(spark):
    """widen_for_cpu widens a one-split scan to core width, is a
    no-op on an already-wide input (it must never SHRINK or add an
    exchange at scale), and passes streaming plans through untouched
    (.rdd is illegal there)."""
    from mapreduce_golang_spark.functions.tokenize import widen_for_cpu

    n = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert docs.rdd.getNumPartitions() < n  # the fixture premise
    widened = widen_for_cpu(docs)
    assert widened.rdd.getNumPartitions() == n

    already_wide = docs.repartition(n + 7, "doc_id")
    assert widen_for_cpu(already_wide) is already_wide

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("CAST(value AS STRING) AS text")
    )
    assert widen_for_cpu(stream) is stream


def test_widen_for_cpu_preserves_results(spark):
    """Hash-widening must not change any operator result — pair set
    of the guarded near-dup join is identical either way (partition
    layout is the only thing that moves)."""
    from mapreduce_golang_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n = spark.sparkContext.defaultParallelism
    widened = ngram_jaccard_pairs(docs)  # 1-split input → operator widens by text-hash
    # already-wide input on a DIFFERENT key → widen is a no-op and the
    # shingle stream enters with an unrelated partition layout
    other_layout = ngram_jaccard_pairs(docs.repartition(n + 3, "source"))
    a = sorted(map(tuple, widened.collect()))
    b = sorted(map(tuple, other_layout.collect()))
    assert a == b and len(a) > 0
