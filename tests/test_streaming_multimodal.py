from __future__ import annotations

import __spark_entry__ as entrymod
import pytest
from tests.oracle import assert_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "streaming_hourly_counts",
        "streaming_sessionize",
        "streaming_stream_join",
        "streaming_user_counts",
        "streaming_dedup_events",
        "streaming_segment_counts",
        "streaming_hopping_counts",
        "streaming_incident_hours",
        "streaming_word_counts",
        "media_features",
    ],
)
def test_matches_oracle(query_check, name):
    n = query_check(name)
    # at sf0.001 no hour reaches the ≥5-errors incident threshold
    # (106 hours qualify at the driver's sf0.01)
    if name != "streaming_incident_hours":
        assert n > 0


def test_streaming_incident_hours_nonempty_at_low_threshold(spark, sf_dir):
    # The registered query's ≥5 threshold yields zero rows at sf0.001, so
    # the parametrized oracle test above only proves empty==empty here.
    # Lowering min_errors to 2 (25 qualifying hours at sf0.001) exercises
    # the streaming window aggregation + threshold on non-empty output.
    from mapreduce_golang_spark.streaming.events_stream import streaming_incident_hours

    def fn(sp, d):
        return streaming_incident_hours(sp, d, min_errors=2)

    sql = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               count(*) AS n_errors
        FROM events
        WHERE event_type = 'error'
        GROUP BY 1
        HAVING count(*) >= 2
    """
    n = assert_matches_oracle(spark, fn, sql, sf_dir)
    assert n > 0


def test_decode_media_is_explicit_stub():
    from mapreduce_golang_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "image/png")


def test_sample_frames_plumbing(spark):
    from mapreduce_golang_spark.operators.multimodal import attach_payload, sample_frames

    docs = spark.createDataFrame([(1, "x" * 600), (2, "y" * 100)], ["doc_id", "text"])
    rows = sample_frames(attach_payload(docs), every_n_bytes=256, frame_bytes=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3  # offsets 0, 256, 512
    assert len(by_doc[2]) == 1
    assert all(len(r.frame) <= 16 for r in rows)
    assert by_doc[1][0].frame == b"x" * 16


def test_foreachbatch_sink_exactly_once(spark, sf_dir, tmp_path):
    from mapreduce_golang_spark.sources.tables import load_table
    from mapreduce_golang_spark.streaming.events_stream import stream_to_parquet_exactly_once

    out = str(tmp_path / "sink")
    stream_to_parquet_exactly_once(spark, sf_dir, out)
    written = spark.read.parquet(out)
    n_src = load_table(spark, sf_dir, "events").count()
    assert written.count() == n_src
    # replay: restarting against the same checkpoint must be a no-op
    # (no new batches, no duplicated rows)
    stream_to_parquet_exactly_once(spark, sf_dir, out)
    assert spark.read.parquet(out).count() == n_src


def test_streaming_equals_batch_hourly(spark, sf_dir):
    # The streaming aggregate drained with availableNow must equal the
    # batch aggregate over the same fixture (n_events column naming
    # differs from the batch query's sum_value variant, so compare counts).
    batch = {
        (r.hour, r.event_type): r.n_events
        for r in entrymod.queries()["hourly_event_counts"](spark, sf_dir)
        .withColumnRenamed("n_events", "n_events")
        .collect()
    }
    stream = {
        (r.hour, r.event_type): r.n_events
        for r in entrymod.queries()["streaming_hourly_counts"](spark, sf_dir).collect()
    }
    assert stream == {k: v for k, v in batch.items()}


def test_drains_drop_their_sinks_and_keep_their_rows(spark, sf_dir):
    # Each drain names its own memory sink and drops the sink's view
    # before it returns; the frame it returns reads the sink itself, so
    # a later drain of the same query neither collides with it nor
    # replaces its rows.
    from tests.oracle import assert_same_rowset

    def views():
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    qs = entrymod.queries()
    before = views()
    first = qs["streaming_word_counts"](spark, sf_dir)
    qs["streaming_word_counts"](spark, sf_dir)
    qs["streaming_hourly_counts"](spark, sf_dir)
    assert views() == before
    assert assert_same_rowset(first.toPandas(), qs["wc"](spark, sf_dir).toPandas()) > 0


def test_transform_with_state_gate(spark, sf_dir):
    """transformWithStateInPandas needs protobuf (pyspark's state
    protocol). With it absent the operator must fail fast with the
    documented RuntimeError; with it present it must match the batch
    per-user aggregate."""
    from mapreduce_golang_spark.streaming.events_stream import streaming_user_stats_tws

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="protobuf"):
            streaming_user_stats_tws(spark, sf_dir)
        return
    from mapreduce_golang_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    got = streaming_user_stats_tws(spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_binary_file_ingestion_roundtrip(spark, tmp_path):
    import hashlib

    from mapreduce_golang_spark.operators.multimodal import (
        ingest_binary_files,
        media_features,
    )

    payloads = {
        "a.png": b"\x89PNG-fake-bytes" * 10,
        "b.wav": b"RIFF-fake-audio" * 7,
        "c.txt": b"plain text payload",
        "noext": b"extensionless blob",  # must yield NULL, not a path fragment
    }
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    media = ingest_binary_files(spark, str(tmp_path))
    rows = {r.media_type: r for r in media.collect()}
    assert set(rows) == {"png", "wav", "txt", None}
    assert bytes(rows["png"].payload) == payloads["a.png"]
    assert bytes(rows[None].payload) == payloads["noext"]

    # the downstream feature stage runs unchanged on the ingested frame
    feats = {r.sha256 for r in media_features(media).collect()}
    assert feats == {hashlib.sha256(d).hexdigest() for d in payloads.values()}

    # glob pushdown: only matching files are ingested
    only_png = ingest_binary_files(spark, str(tmp_path), glob="*.png")
    assert only_png.count() == 1

    # metadata-only queries must never read file CONTENTS: the scan's
    # ReadSchema drops the pruned `content` column
    plan = (
        ingest_binary_files(spark, str(tmp_path))
        .select("doc_id", "media_type")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "content" not in plan
