"""Structured Streaming over the `events` and `documents` tables
(extension surface — the reference is strictly batch two-phase,
SURVEY.md §2.3).

Each drain builds a streaming plan over a file-source scan of a fixture
(``read_events_stream`` / ``read_documents_stream``), runs it to the end
of its input with ``availableNow`` into a memory sink
(``drain_to_memory``, at the session's shuffle width) and returns the
drained rows. On finite input a drain converges to the batch answer, so
the batch DuckDB oracle checks it. The drains cover tumbling, hopping and session windows, a
stream-stream and a stream-static join, watermark deduplication (exact
and MinHash-keyed), streaming COUNT(DISTINCT), OHLC bars, word count,
and custom per-key state via applyInPandasWithState (and
transformWithStateInPandas, which needs protobuf).

Scale notes: state lives in the state store keyed by group — the
exchange is on the group key, watermarks bound state retention for
event-time windows. File-source here; on a real pipeline swap
readStream.format("kafka") — the plan shape is identical.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.tables import _file_schema

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events fixture with proper event-time ts.

    Streaming sources need the schema up front, but the fixture's
    physical ts layout has varied between driver rounds (INT64 nanos,
    naive timestamp[us]/NTZ — see sources/tables.py; INT64 nanos reads
    as bigint under the ``nanosAsLong`` the registry's ``_shipped``
    pins). Declare the file's own schema, memoised per session and file version by
    ``tables._file_schema`` (only the first drain of a session pays its
    footer-read job), and normalize to session-TZ TIMESTAMP so every
    downstream event-time operator sees one type.
    """
    schema = _file_schema(spark, f"{sf_dir}/events.parquet")
    physical = schema["ts"].dataType.simpleString()
    # The file stream source requires a directory basePath; select just
    # the events file out of the fixture dir with a glob filter.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if physical == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if physical == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def drain_to_memory(result: DataFrame, output_mode: str) -> DataFrame:
    """Run ``result`` with availableNow into a memory sink and return the
    sink's rows. The sink is named uniquely for this call, so two drains
    of the same plan never share a name or a memory table, and its temp
    view is dropped before returning: the returned frame reads the sink
    itself, so it still collects once the view is gone."""
    spark = result.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    try:
        (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts computed BY THE STREAMING ENGINE
    (watermark + window agg), drained with availableNow into a memory
    sink; returns the final batch DataFrame. Equals the batch answer
    on finite input — oracle-checkable.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return drain_to_memory(agg, "complete").select(
        F.date_format(F.col("w.start"), _TS_FMT).alias("hour"),
        "event_type",
        "n_events",
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions computed by the STREAMING engine's native
    session_window (merging windows with a 30-min gap + watermark),
    drained with availableNow. On finite input this equals the batch
    lag/cumsum sessionization (operators/windows.py::sessionize) per
    (user, session_start, n_events) — which is exactly what the DuckDB
    oracle checks."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return drain_to_memory(agg, "complete").select(
        "user_id",
        F.date_format(F.col("w.start"), _TS_FMT).alias("session_start"),
        "n_events",
    )


def streaming_purchase_click_join(
    spark: SparkSession, sf_dir: str, window_minutes: int = 10
) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same
    user's clicks from the preceding ``window_minutes``. Watermarks on
    BOTH sides bound the join state (the engine can drop buffered
    clicks older than the interval + watermark) — the canonical
    bounded-state stream-stream join. Drained with availableNow; on
    finite input equals the batch interval join, which the DuckDB
    oracle computes directly.

    Both sides fan out from ONE ``read_events_stream`` scan (a
    streaming self-join): a single file-source definition, so the
    micro-batch planner tracks one source offset log instead of two
    independent full reads of the same data — at scale that halves
    source I/O and keeps the two sides' watermarks in lockstep."""
    events = read_events_stream(spark, sf_dir)
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "inner",
    ).select(
        "purchase_event_id",
        "click_event_id",
        F.col("p_user").alias("user_id"),
    )
    return drain_to_memory(joined, "append")


def stream_to_parquet_exactly_once(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """foreachBatch parquet sink with idempotent batch directories:
    each micro-batch writes to batch_id-keyed partitions with
    overwrite, so a replayed batch (failure/restart) lands in the same
    place instead of duplicating — the standard exactly-once file-sink
    recipe when the built-in file sink's log can't be used."""

    def write_batch(batch_df, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(f"{out_path}/batch={batch_id}")
        )

    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out_path}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_user_counts_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running event count via
    applyInPandasWithState (arbitrary per-key state, the Spark
    equivalent of a hand-rolled stateful reducer). Drained with
    availableNow; returns (user_id, n_events).
    """
    import pandas as pd  # local import: executors ship their own

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n_events", LongType())]
    )
    state_schema = StructType([StructField("count", LongType())])

    def update(key, pdfs, state: GroupState):
        n = sum(len(pdf) for pdf in pdfs)
        if state.exists:
            (prev,) = state.get
            n += prev
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    result = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    # With availableNow the fixture drains in one batch per group →
    # the memory sink holds each user's final count exactly once.
    return drain_to_memory(result, "update").groupBy("user_id").agg(
        F.max("n_events").alias("n_events")
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicatesWithinWatermark on a
    content key (user_id, event_type, ts) — the ingestion-time guard
    against at-least-once upstream delivery (the same event replayed
    within the watermark horizon is emitted once). State is bounded by
    the watermark: keys older than the horizon are evicted, so memory
    does not grow with the stream.

    Drained with availableNow and re-aggregated to per-type counts so
    the result is small and stable; on finite input this equals batch
    DISTINCT + count, which the DuckDB oracle computes directly.
    """
    events = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = events.dropDuplicatesWithinWatermark(["user_id", "event_type", "ts"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return drain_to_memory(agg, "complete")


def streaming_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the dimension-enrichment topology the
    streaming pack was missing: the event stream joins the STATIC
    customer dimension (user_id == c_custkey) and aggregates per
    market segment.

    The static side is a plain batch DataFrame broadcast into every
    micro-batch (re-planned per batch, so a slowly-changing dimension
    re-read from the table picks up updates between batches); no state
    store is involved in the join itself — only the downstream
    aggregate keeps (bounded, per-segment) state. This is the standard
    enrich-then-aggregate shape for clickstream × user-profile at
    scale. Drained with availableNow; on finite input equals the batch
    join, which the DuckDB oracle computes directly.
    """
    from mapreduce_golang_spark.sources.tables import load_table

    events = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = events.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    return drain_to_memory(agg, "complete")


def streaming_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows computed BY THE STREAMING ENGINE —
    `window(ts, 10 min, 5 min)` assigns each event to its two
    overlapping windows before the keyed aggregate; the watermark
    closes windows 1 hour past their end so state stays bounded by
    (watermark horizon / slide) × types regardless of stream length.
    The streaming twin of operators/windows.py::hopping_window_counts;
    on finite availableNow input it equals the batch answer, which is
    what the shared oracle checks.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    return drain_to_memory(agg, "complete").select(
        F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def streaming_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via transformWithStateInPandas — the
    Spark 4 arbitrary-stateful API that supersedes
    applyInPandasWithState (typed state variables on a handle, timer
    support, state TTL; state lives in the state store keyed by the
    group, exchange on user_id). Kept alongside the older operator so
    both stateful surfaces stay covered.

    State is one ValueState holding (count, sum, max); each batch
    emits the running totals, so with availableNow the last emission
    per user is the final answer — reduced by max() over the sink,
    valid because all three quantities are monotone (values are
    positive). Returns (user_id, n_events, sum_value, max_value).

    ENVIRONMENT GATE: the transformWithState protocol speaks protobuf
    between the JVM and the Python state server; containers without
    `google.protobuf` cannot run it (raises RuntimeError here rather
    than crashing the streaming query mid-flight). The older
    applyInPandasWithState operator above has no such dependency and
    remains the always-available stateful surface.
    (Probed each round; still absent as of round 9, 2026-08-15.)
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas requires the protobuf package "
            "(pyspark's state-server protocol); not installed in this "
            "environment — use streaming_user_counts_stateful instead"
        ) from exc

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    events = read_events_stream(spark, sf_dir)

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("count", LongType()),
            StructField("sum", DoubleType()),
            StructField("max", DoubleType()),
        ]
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, s, mx = 0, 0.0, float("-inf")
            if self._agg.exists():
                n, s, mx = self._agg.get()
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
            self._agg.update((n, s, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    result = events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    return (
        drain_to_memory(result, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("sum_value"), 6).alias("sum_value"),
            F.round(F.max("max_value"), 6).alias("max_value"),
        )
    )


def streaming_incident_hours(spark: SparkSession, sf_dir: str, min_errors: int = 5) -> DataFrame:
    """The incident detector (hours with ≥ min_errors error events —
    the dimension side of session_incident_overlap) computed BY THE
    STREAMING ENGINE: pre-filter to errors, tumbling 1-hour window agg
    behind a watermark, threshold applied on the drained result (a
    HAVING over complete-mode output; applying it inside the stream
    would be valid too but makes intermediate emissions non-monotonic
    under retraction-free sinks). State is one counter per (hour) ≤
    calendar span — the same bounded-at-any-SF property that makes the
    batch side broadcastable. Equals the batch incidents CTE on finite
    input — oracle-checkable.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.where(F.col("event_type") == "error")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_errors"))
    )
    return (
        drain_to_memory(agg, "complete")
        .where(F.col("n_errors") >= min_errors)
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("hour"),
            F.col("n_errors").cast("long").alias("n_errors"),
        )
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents fixture (schema declared up
    front — same topology as read_events_stream; no event-time
    normalization needed because documents carry no timestamp).

    Handles BOTH physical layouts: the driver fixtures ship
    ``documents.parquet`` as a single flat FILE (glob-filter the
    parent dir to that name), while Spark-written corpora — the
    .xl_fixtures scaling ladder, any production output — are a
    DIRECTORY of part files (stream the directory itself). Round-10
    fix: the glob-only form silently matched ZERO files on
    directory-shaped input, so every streaming probe on the xl
    fixtures drained an empty source and reported a no-op wall.

    The layout probe goes through Hadoop's FileSystem (round-10
    advice #2), NOT os.path.isdir: a driver-local isdir is always
    False for s3://, hdfs:// etc., which would silently recreate the
    zero-files-matched empty-source bug on any non-local corpus. The
    local-stat fallback only triggers when the JVM handle is absent
    (Spark Connect), where local paths are the only supported input.
    """
    import os

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    path = sf_dir.rstrip("/") + "/documents.parquet"
    # The local-stat fallback is reserved for the missing-JVM-handle
    # case (Spark Connect, where spark._jvm/_jsc are None or absent).
    # A real FileSystem error on a remote path (s3://, hdfs://) must
    # propagate — swallowing it into isdir=False would silently revive
    # the zero-files-matched empty-source bug (round-11 advice #1).
    jvm = getattr(spark, "_jvm", None)
    jsc = getattr(spark, "_jsc", None)
    if jvm is None or jsc is None:
        is_dir = os.path.isdir(path)
    else:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        is_dir = fs.exists(hpath) and fs.getFileStatus(hpath).isDirectory()
    if is_dir:
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship workload — wc (W1,
    /root/reference/src/mrapps/wc.go:28-43) — computed BY THE
    STREAMING ENGINE: the documents corpus as a file stream, token
    explode, running per-word counts in complete mode. On finite input
    the drained result equals the batch word count exactly, so the
    same oracle covers both; in production the stream keeps counting
    as new corpus shards land (the incremental-ingest form of the
    reference's batch-only pipeline).

    State is one counter per distinct word — the wordcount topology's
    natural state bound; the explode stays narrow and only the
    (word → count) agg exchanges, identical to the batch plan.
    Returns (word, cnt).
    """
    from mapreduce_golang_spark.functions.tokenize import letter_tokens

    docs = read_documents_stream(spark, sf_dir)
    words = docs.select(
        F.explode(letter_tokens(F.col("text"))).alias("word")
    )
    agg = words.groupBy("word").agg(F.count("*").alias("cnt"))
    return drain_to_memory(agg, "complete").select("word", F.col("cnt").cast("long").alias("cnt"))


def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per event type BY THE STREAMING
    ENGINE: stateful dropDuplicates on (event_type, user_id) feeding a
    complete-mode count — the standard two-stateful-operator chain for
    streaming COUNT(DISTINCT) (which streaming aggregation cannot
    express directly); on finite input the drained result equals the
    batch distinct count, so the batch SQL is the oracle.

    State: one dedup key per live (event_type, user) pair plus one
    counter per type — the exact state floor any engine needs for this
    query; in production a watermark on the dedup bounds it.
    Returns (event_type, n_users).
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.select("event_type", "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )
    return drain_to_memory(agg, "complete").select(
        "event_type", F.col("n_users").cast("long").alias("n_users")
    )


def streaming_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars computed BY THE STREAMING ENGINE: tumbling
    1-hour event-time windows per event_type, open/close picked by
    min/max over the (ts, event_id, value) struct — the same ALGEBRAIC
    trick as the batch operator (windows.py::hourly_value_ohlc), which
    is exactly what makes it legal in a streaming aggregate: each
    window's state is one candidate struct per side, merged
    associatively across micro-batches. Watermark closes windows 1 h
    past their end, bounding state to (horizon / window) × types. On
    finite availableNow input equals the batch answer, which the
    oracle computes directly.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("o"),
            F.max(F.struct("ts", "event_id", "value")).alias("c"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )
    return drain_to_memory(agg, "complete").select(
        F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
        "event_type",
        F.round(F.col("o.value"), 6).alias("open"),
        "high",
        "low",
        F.round(F.col("c.value"), 6).alias("close"),
        "n_events",
        "total_value",
    )


#: Affine minhash mixing constants (seed s: (Aₛ·h + Bₛ) mod P with
#: Aₛ = MINHASH_MIX_A + 2s odd, Bₛ = MINHASH_MIX_B·s + 12345, over the
#: 28-bit shingle hash h). P is the largest prime < 2³², A the Knuth
#: multiplicative constant; the DuckDB oracle hard-codes the same
#: formula, so these are part of the cross-engine signature contract.
MINHASH_MIX_A = 2_654_435_761
MINHASH_MIX_B = 104_729
MINHASH_MIX_P = 4_294_967_291


def streaming_near_dup_docs(
    spark: SparkSession, sf_dir: str, k: int = 3, n_hashes: int = 12
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: dropDuplicatesWithinWatermark
    keyed on a full MinHash signature instead of an exact column — the
    streaming form of the batch near-dup family (dedup.py). Two docs
    whose k-shingle Jaccard is j collide on all ``n_hashes`` minhashes
    with probability j**n_hashes, so the full-signature key collapses
    near-identical re-posts (j → 1) while leaving merely-similar docs
    alone — the high-precision end of the LSH dial, which is the right
    setting when the drop is irreversible (a stream emits once).

    The signature is a pure SCALAR column expression — per-doc shingle
    array sliced in one codegen stage — so it streams row-by-row with
    NO aggregation before the stateful dedup. Round-9 cost cut
    (round-8 verdict #5): the signature now pays ONE md5 per shingle
    (28 hex bits parsed to an integer) and derives the ``n_hashes``
    minhashes as affine integer mixes (aₛ·h + bₛ) mod P — the md5
    string math that dominated the old 3-md5-per-shingle form is gone,
    and the per-seed work is a codegen multiply/add/mod on a long.
    The DuckDB oracle reproduces the identical integer formula
    (CAST('0x'||substr(md5(x),1,7) AS BIGINT) ≡ conv(...,16,10)), so
    the signature stays engine-portable. State is one row per distinct
    (source, sig) inside the watermark horizon; at production scale
    the horizon bounds state exactly like the batch cap bounds
    postings. Docs carry no timestamp in the fixture, so event time is
    synthesized deterministically from doc_id at 1 doc/s, WRAPPED into
    the watermark horizon (pmod(doc_id, 600000) s < the 7-day
    watermark) so arbitrarily large doc_id spans — e.g. the 10M-offset
    self-multiplied xl fixtures — can never cross the horizon and get
    late-dropped (round-8 advice).

    Contract: equality with the batch distinct-signature oracle holds
    when the availableNow drain is a SINGLE micro-batch (the fixture
    is one parquet file; maxFilesPerTrigger is unset, so the drain is
    one batch). A multi-batch drain is still correct streaming-dedup
    semantics, but rows arriving after the watermark has advanced past
    their wrapped ts would be late-dropped and the count could diverge
    from the batch oracle. read_documents_stream handles both the
    flat-file driver fixture and DIRECTORY-shaped (Spark-written)
    corpora since round 10; with maxFilesPerTrigger unset the
    availableNow drain stays a single batch in both layouts.

    Returns (source, n_unique_docs) — the per-source count of
    surviving (near-dup-distinct) documents; on finite availableNow
    input this equals the batch distinct-signature count, which the
    oracle computes directly.
    """
    survivors = near_dup_survivors_stream(spark, sf_dir, k=k, n_hashes=n_hashes)
    return (
        drain_to_memory(survivors, "append")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_unique_docs"))
    )


def near_dup_survivors_stream(
    spark: SparkSession, sf_dir: str, k: int = 3, n_hashes: int = 12
) -> DataFrame:
    """The sink-agnostic streaming core of streaming_near_dup_docs:
    shingle → one-md5 integer hash → affine minhash signature →
    watermark → dropDuplicatesWithinWatermark, returned BEFORE any
    sink so production callers attach their own (foreachBatch parquet,
    kafka, ...) — tests/test_round9_wave1.py proves the foreachBatch
    parquet drain emits the same survivors as the memory sink. Emits
    (source,) rows, one per surviving document."""
    from mapreduce_golang_spark.functions.tokenize import letter_tokens

    docs = read_documents_stream(spark, sf_dir)
    # Short-doc drop happens HERE, on the cheap token count, NOT as a
    # `where(size(sh) > 0)` above the shingle projection (round 14):
    # Catalyst pushes a deterministic filter below the projection and
    # substitutes the aliased expression into the predicate, so the
    # old form evaluated the whole array_distinct∘transform∘slice
    # shingle build TWICE per doc — once in the pushed-down Filter at
    # the scan (serially, on the fixture's one split) and again in the
    # Project. Measured at sf0.1 batch-side: 0.32 s → 3.3 s from the
    # filter alone (scripts/ab_sig_decompose.py at commit 82bf044).
    # Filtering on size(toks) duplicates only the split — the cheap
    # ~5% — and is exactly equivalent: sh is non-empty iff the doc has
    # ≥ k tokens, which also makes the old CASE WHEN descending-sequence
    # guard unreachable (sequence(1, size-k+1) ascends whenever size ≥ k).
    toks = docs.select(
        "doc_id",
        "source",
        letter_tokens(F.col("text")).alias("toks"),
    ).where(F.size("toks") >= k)
    shingled = toks.select(
        "doc_id",
        "source",
        F.expr(
            f"array_distinct(transform(sequence(1, size(toks) - {k - 1}), "
            f"     i -> array_join(slice(toks, i, {k}), ' ')))"
        ).alias("sh"),
    )

    # one 28-bit integer hash per shingle: 7 hex chars of ONE md5.
    # 28 bits keeps aₛ·h + bₛ ≤ 2^60 — no bigint overflow in either
    # engine. (closure factory, NOT `lambda x, s=s`: F.transform
    # treats an arity-2 lambda as (element, index) and would pass the
    # ARRAY INDEX into the second parameter, silently shadowing the
    # seed.)
    hashed = shingled.select(
        "doc_id",
        "source",
        F.transform(
            F.col("sh"),
            lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long"),
        ).alias("hs"),
    )

    def _affine_min(s: int):
        a = MINHASH_MIX_A + 2 * s
        b = MINHASH_MIX_B * s + 12345
        return F.array_min(
            F.transform(
                F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_MIX_P)
            )
        )

    signed = hashed.select(
        "doc_id",
        "source",
        F.concat_ws("|", *[_affine_min(s) for s in range(n_hashes)]).alias("sig"),
        # synthesized event time: deterministic 1-doc-per-second
        # arrival, wrapped WELL inside the 7-day watermark horizon
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.pmod(F.col("doc_id"), F.lit(600_000))
        ).alias("ts"),
    )
    return (
        signed.withWatermark("ts", "7 days")
        .dropDuplicatesWithinWatermark(["source", "sig"])
        # downstream only counts per source — don't ship 12-piece
        # signature strings into the sink
        .select("source")
    )
