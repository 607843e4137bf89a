"""Training-corpus preparation operators — the last mile of an LLM
data pipeline after analysis/dedup: chunking documents into training
sequences, packing chunks into context windows, PII-style redaction,
and the composed final-selection query.

All pure DataFrame expressions (array slicing, window cumsums,
regexp) — chunking is a narrow map + explode, packing is one exchange
on the packing partition key, redaction is a narrow map. Each has an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_golang_spark.functions.tokenize import letter_tokens


def chunk_documents(df: DataFrame, chunk_tokens: int = 50, overlap: int = 10) -> DataFrame:
    """Split each doc into overlapping token chunks (stride =
    chunk_tokens - overlap). Returns (doc_id, chunk_idx, chunk_text,
    n_tokens); the ragged final chunk is kept. Narrow map + explode —
    no shuffle, scales with the scan."""
    stride = chunk_tokens - overlap
    toks = letter_tokens(F.col("text"))
    with_toks = df.select("doc_id", toks.alias("toks"), F.size(toks).alias("n")).where(F.col("n") > 0)
    n_chunks = F.ceil(F.col("n") / F.lit(float(stride))).cast("int")
    chunks = with_toks.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_i"),
        "toks",
    )
    start = F.col("chunk_idx") * stride
    piece = F.slice(F.col("toks"), start + 1, chunk_tokens)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def pack_sequences(df: DataFrame, budget_tokens: int = 2000) -> DataFrame:
    """Greedy sequential packing of docs into fixed token budgets,
    per source partition (deterministic doc_id order): bin b holds the
    docs whose running pre-sum fits b*budget ≤ cum < (b+1)*budget.
    One exchange on `source`; within-partition window cumsum —
    the scalable packing topology (global greedy packing would
    serialize through one partition).
    Returns (source, bin, n_docs, total_tokens)."""
    toks = letter_tokens(F.col("text"))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    sized = df.select("source", "doc_id", F.size(toks).cast("long").alias("n_tokens"))
    binned = sized.withColumn(
        "bin",
        F.expr(f"(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
               f"ROWS UNBOUNDED PRECEDING) - n_tokens) DIV {budget_tokens}").cast("long"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


def redact_numbers(events: DataFrame) -> DataFrame:
    """PII-style scrubbing shape: replace digit runs in the raw props
    payload, keep an audit count. Narrow regexp map (codegen)."""
    return events.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("props_redacted"),
        F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), 0)).cast("long").alias("n_redacted"),
    )


def corpus_final_selection(
    df: DataFrame, min_quality: float = 0.5, min_tokens: int = 10,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The composed pipeline: near-dup survivors ∩ quality floor ∩
    length floor — the "what actually ships to training" query.
    Returns (doc_id, quality_score, n_tokens). Pass ``pairs`` to reuse
    a materialized near-dup pair graph instead of re-deriving it."""
    from mapreduce_golang_spark.operators.dedup import near_dup_survivors
    from mapreduce_golang_spark.operators.text_analysis import text_quality

    survivors = near_dup_survivors(df, pairs=pairs)
    quality = text_quality(df).select("doc_id", "quality_score", "n_tokens")
    return (
        quality.join(survivors, "doc_id")
        .where((F.col("quality_score") >= min_quality) & (F.col("n_tokens") >= min_tokens))
        .select("doc_id", "quality_score", "n_tokens")
    )


def corpus_funnel_report(
    df: DataFrame, min_quality: float = 0.5, min_tokens: int = 10,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-stage retention funnel for the selection pipeline — the
    observability query every corpus build runs after selection:
    how many docs survive each cumulative gate, in order:

      0 total → 1 length_ok (n_tokens ≥ min) → 2 quality_ok (+score ≥
      min) → 3 lang_known (+lang != unknown) → 4 exact_unique (+doc is
      its hash-group keeper) → 5 near_dup_survivor (+survives fuzzy
      dedup).

    Returns (stage_idx, stage, n_docs). One row per doc flows through a
    single conditional aggregation (one pass, partial aggs map-side);
    the only heavy input is the near-dup pair graph, shared semantics
    with corpus_final_selection. Counting per stage costs nothing extra
    at 100 TB — the flags ride the same scan.
    """
    from mapreduce_golang_spark.operators.dedup import near_dup_survivors
    from mapreduce_golang_spark.operators.text_analysis import lang_id, text_quality

    q = text_quality(df).select("doc_id", "quality_score", "n_tokens")
    lang = lang_id(df.sparkSession, df).select("doc_id", "predicted_lang")
    w = Window.partitionBy("norm_hash").orderBy("doc_id")
    keeper = (
        df.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("norm_hash"))
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", (F.col("rn") == 1).alias("is_keeper"))
    )
    surv = near_dup_survivors(df, pairs=pairs).withColumn("is_surv", F.lit(1))
    flags = q.join(lang, "doc_id").join(keeper, "doc_id").join(surv, "doc_id", "left")
    c_len = F.col("n_tokens") >= min_tokens
    c_q = c_len & (F.col("quality_score") >= min_quality)
    c_lang = c_q & (F.col("predicted_lang") != "unknown")
    c_exact = c_lang & F.col("is_keeper")
    c_near = c_exact & F.col("is_surv").isNotNull()
    agg = flags.agg(
        F.count("*").alias("total"),
        F.sum(c_len.cast("long")).alias("length_ok"),
        F.sum(c_q.cast("long")).alias("quality_ok"),
        F.sum(c_lang.cast("long")).alias("lang_known"),
        F.sum(c_exact.cast("long")).alias("exact_unique"),
        F.sum(c_near.cast("long")).alias("near_dup_survivor"),
    )
    stages = ["total", "length_ok", "quality_ok", "lang_known", "exact_unique", "near_dup_survivor"]
    stack_args = ", ".join(f"{i}, '{s}', coalesce({s}, 0)" for i, s in enumerate(stages))
    return agg.selectExpr(f"stack(6, {stack_args}) AS (stage_idx, stage, n_docs)").select(
        F.col("stage_idx").cast("long").alias("stage_idx"),
        "stage",
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def balanced_mixing_sample(
    df: DataFrame, id_col: str = "doc_id", stratify_col: str = "source"
) -> DataFrame:
    """Square-root source mixing: keep ceil(sqrt(n)) docs per source —
    the deterministic data-mixing strategy that damps dominant sources
    (a source 100× larger contributes only 10× the docs), the standard
    alternative to temperature-weighted sampling when the mixture must
    be reproducible and engine-portable: sqrt is IEEE-correctly-rounded
    everywhere, while pow/exp temperature weights differ in the last
    ulp across libm implementations (same reasoning as tfidf's rational
    IDF).

    Selection within a source is exact-k by md5(doc_id) rank — stable
    under re-runs, resumes, and the DuckDB oracle. Quotas are a
    per-source aggregate broadcast back (bounded dimension); the rank
    window partitions by source. For sources of unbounded size, a
    hash-prefix pre-filter in front of the window bounds the sort input
    to ~quota rows; at fixture scale the direct window is the simpler
    exact plan.
    """
    quotas = df.groupBy(stratify_col).agg(F.count("*").alias("n_source_docs"))
    quotas = quotas.withColumn(
        "quota", F.ceil(F.sqrt(F.col("n_source_docs"))).cast("long")
    )
    w = Window.partitionBy(stratify_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = df.select(stratify_col, id_col).withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), stratify_col)
        .where(F.col("rk") <= F.col("quota"))
        .select(stratify_col, id_col, "n_source_docs", "quota")
    )


def stratified_sample(
    df: DataFrame,
    fraction: float = 0.2,
    id_col: str = "doc_id",
    stratify_col: str = "source",
) -> DataFrame:
    """Deterministic stratified sample: keep ~``fraction`` of each
    stratum, selected by an md5-derived uniform over the row id — the
    reproducible replacement for ``df.sample()`` in a corpus pipeline
    (re-runs, resumed jobs, and the DuckDB oracle all pick the exact
    same rows; rand() would be engine- and partition-order dependent).

    Scale shape: a pure narrow map — the per-row uniform is
    ``int(md5[:8]) / 16^8`` and the filter ``uniform < fraction``
    runs inside the scan's codegen stage. ZERO shuffles at any scale;
    strata need no grouping because the threshold test is per-row.
    Expected per-stratum sample size is fraction × stratum size
    (binomial, not exact-k; exact-k per stratum would instead take a
    row_number over the same hash within each stratum).
    """
    uniform = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))
    return (
        df.withColumn("u", uniform)
        .where(F.col("u") < fraction)
        .select(stratify_col, id_col, F.round("u", 10).alias("sample_key"))
    )


#: Knuth multiplicative-hash constant (2^32 / golden ratio) — public
#: domain mixing constant; chosen because both engines evaluate the
#: arithmetic in exact 64-bit integers, giving a cross-engine-stable
#: pseudo-random bucket (engine hash() builtins differ and would not
#: oracle-check).
KNUTH_HASH_CONST = 2654435761


def deterministic_doc_sample(df: DataFrame, rate_permille: int = 100, modulus: int = 1000) -> DataFrame:
    """Deterministic, engine-portable corpus sampling: keep a doc iff
    ``((doc_id mod 2^31) * KNUTH) mod modulus < rate_permille`` — the
    standard hash-threshold sample for reproducible train/eval splits
    (same membership on every run, every engine, any partitioning,
    unlike ``df.sample`` whose membership is seed- and split-dependent).

    The reduction mod 2^31 before the multiply keeps the product
    inside int64 for ANY doc_id, so the expression never overflows and
    stays a narrow codegen filter on the scan — at 100 TB this is a
    full-scan predicate with zero exchanges. At that scale prefer
    ``F.xxhash64`` for better mixing if cross-engine reproducibility
    is not required (engine-specific hash ⇒ no DuckDB oracle).
    """
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2**31)) * F.lit(KNUTH_HASH_CONST),
        F.lit(modulus),
    ).cast("long")
    return (
        df.select("doc_id", "source", "lang", "n_chars", bucket.alias("sample_bucket"))
        .where(F.col("sample_bucket") < rate_permille)
    )


def weighted_doc_sample(df: DataFrame, k: int = 5) -> DataFrame:
    """Weighted sampling without replacement, ``k`` docs per source,
    inclusion probability ∝ n_chars — Efraimidis–Spirakis exponential
    ranks: each doc gets key ln(u)/w (the monotone log form of
    u^(1/w)) with u the md5-derived uniform from stratified_sample's
    recipe, and the k largest keys per source win. Deterministic and
    engine-portable: the uniform is hash-derived (no RNG), ln is the
    only libm call and the key is rounded to 12 decimals with a
    doc_id tie-break, so both engines rank identically.

    Scale shape: the key is a narrow per-row expression in the scan's
    codegen stage; selection is one exchange on source + a bounded
    top-k window. For unbounded sources, pre-filter on a key threshold
    before the window (same refinement as balanced_mixing_sample).

    Returns (source, doc_id, n_chars, wkey, rk).
    """
    uniform = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))
    keyed = df.select(
        "source",
        "doc_id",
        "n_chars",
        F.round(F.log(uniform) / F.col("n_chars"), 12).alias("wkey"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("wkey"), F.asc("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def packing_efficiency_report(df: DataFrame, budget_tokens: int = 2000) -> DataFrame:
    """Packing-efficiency audit of pack_sequences' greedy bins: per
    source, the bins used vs the information-theoretic lower bound
    ceil(total_tokens/budget), the mean fill ratio, and the wasted
    token fraction — the report that says whether the packing policy
    (or the budget) is leaving context-window capacity on the floor
    before a training run.

    One bounded agg over the packing output (O(sources × bins) rows);
    all ratios derive from exact integer token counts, so the report
    hashes identically cross-engine.

    Note: pack_sequences bins by PRE-sum, so a bin's last doc may
    overflow the budget — fill_ratio can exceed 1 (waste_frac < 0) for
    sources whose docs are large relative to the budget. That is the
    honest audit of the greedy policy, and exactly the signal that
    says "raise the budget or split long docs".

    Returns (source, n_bins, lb_bins, total_tokens, fill_ratio,
    waste_frac), ratios rounded to 6.
    """
    packed = pack_sequences(df, budget_tokens=budget_tokens)
    per_src = packed.groupBy("source").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
    )
    capacity = F.col("n_bins") * F.lit(budget_tokens)
    return per_src.select(
        "source",
        "n_bins",
        F.ceil(F.col("total_tokens") / F.lit(float(budget_tokens))).cast("long").alias("lb_bins"),
        "total_tokens",
        F.round(F.col("total_tokens") / capacity, 6).alias("fill_ratio"),
        F.round(F.lit(1.0) - F.col("total_tokens") / capacity, 6).alias("waste_frac"),
    )


def dataset_card_report(df: DataFrame) -> DataFrame:
    """One-row dataset card: the corpus-level numbers a dataset README
    states up front — doc/source/language counts, token and char
    totals, exact-duplicate rate, and mean doc length — assembled in a
    SINGLE aggregation pass (every metric is an algebraic or
    distinct aggregate; Spark plans the distinct expansions itself).

    Scale shape: one aggregate over the scan (map-side partials for
    the algebraic metrics, the standard two-level expand for the
    distincts); output is exactly one row at any SF. Returns (n_docs,
    n_sources, n_langs, n_tokens, n_chars, n_unique_texts, dup_frac,
    avg_doc_tokens), floats rounded to 6.
    """
    toks = letter_tokens(F.lower(F.col("text")))
    per_doc = df.select(
        "doc_id",
        "source",
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_chr"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
    )
    return per_doc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_chr").cast("long").alias("n_chars"),
        F.count_distinct("h").cast("long").alias("n_unique_texts"),
    ).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "n_tokens",
        "n_chars",
        "n_unique_texts",
        F.round(
            F.when(
                F.col("n_docs") > 0,
                1.0 - F.col("n_unique_texts") / F.col("n_docs"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_frac"),
        F.round(
            F.when(F.col("n_docs") > 0, F.col("n_tokens") / F.col("n_docs")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("avg_doc_tokens"),
    )


def curriculum_phases(df: DataFrame, n_phases: int = 4) -> DataFrame:
    """Curriculum-learning phase assignment: documents bucketed into
    ``n_phases`` quality quartiles (phase 1 = lowest-quality fed
    first, phase ``n_phases`` = highest saved for late training — the
    easy-to-hard ordering of curriculum pretraining schedules), with
    per-phase volume so the schedule's token budget is visible up
    front.

    EXACT percentile cuts ride ONE 1-row broadcast (the Pareto-report
    pattern — no global sort touches the corpus); phase assignment is
    a narrow comparison chain; the rollup is an ``n_phases``-row hash
    agg with decimal quality sums. Returns (phase, n_docs, total_tokens,
    avg_quality).
    """
    from mapreduce_golang_spark.operators.text_analysis import text_quality

    scored = text_quality(df).select("doc_id", "n_tokens", "quality_score")
    cuts = F.broadcast(
        scored.agg(
            *[
                F.percentile("quality_score", F.lit(i / n_phases)).alias(f"c{i}")
                for i in range(1, n_phases)
            ]
        )
    )
    phase = F.lit(1)
    for i in range(1, n_phases):
        phase = phase + (F.col("quality_score") > F.col(f"c{i}")).cast("long")
    return (
        scored.crossJoin(cuts)
        .select(
            phase.alias("phase"),
            "n_tokens",
            F.col("quality_score").cast("decimal(10,6)").alias("q"),
        )
        .groupBy("phase")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.sum("q").cast("double") / F.count("*"), 6).alias("avg_quality"),
        )
    )


def observed_ingest_metrics(docs: DataFrame) -> DataFrame:
    """Pipeline OBSERVABILITY via the Observation API: QC aggregates
    that ride the SAME pass as a sink action — `df.observe(obs, ...)`
    attaches accumulator-backed aggregates to the plan, the write
    executes once, and the metrics are read from the driver-side
    handle with ZERO second scan. At 100 TB this is the difference
    between "ingest + audit" costing one pass or two; it is also the
    engine-native form of the reference's side-channel task counters
    (/root/reference/src/mr/coordinator.go task bookkeeping —
    bookkeeping rides the job, it is not a second job).

    The demo action is a noop-format write (full execution, nothing
    persisted); production callers attach the same observe() to their
    real parquet/stream sink. Returns the metrics as a 1-row DataFrame
    (n_docs, total_chars, min_doc_id, max_doc_id, n_empty_text) so the
    result is oracle-checkable — the DuckDB twin computes the same
    aggregates with a plain (second-pass) scan, proving the ride-along
    metrics equal the ground truth.

    Restrictions honored: Observation aggregates must be deterministic
    and distinct-free (Spark rejects the rest at analysis time), which
    these are — counts, sums, min/max on a long column.
    """
    from pyspark.sql import Observation

    spark = docs.sparkSession
    obs = Observation()
    staged = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.count(F.when(F.length("text") == 0, 1)).alias("n_empty_text"),
    )
    staged.write.format("noop").mode("overwrite").save()
    m = obs.get
    # empty input: sum/min/max observation metrics come back None
    # (round-9 advice #4 — int(None) raised TypeError); emit an
    # explicit all-NULL-but-counts row instead
    n_docs = int(m["n_docs"])
    as_long = lambda v: None if v is None else int(v)  # noqa: E731
    return spark.createDataFrame(
        [
            (
                n_docs,
                as_long(m["total_chars"]),
                as_long(m["min_doc_id"]),
                as_long(m["max_doc_id"]),
                int(m["n_empty_text"]),
            )
        ],
        "n_docs bigint, total_chars bigint, min_doc_id bigint, "
        "max_doc_id bigint, n_empty_text bigint",
    )
