"""Text-analysis operator pack over `documents` (extension surface —
generalizes the reference's text workloads W1/W3, SURVEY.md §2.4; a
core LLM-data-pipeline stage).

Every operator is pure `pyspark.sql.functions` — no Python UDFs — so
the hot path stays inside whole-stage codegen and scales linearly
with a parquet scan. Ratios/scores are computed with the same integer
inputs and double divisions as the DuckDB oracles, then rounded
in-query for stable differential hashes.

Scale notes:
- lang_id joins an exploded token stream against a ~50-row lexicon:
  broadcast join, then per-(doc,lang) counts collapse before the
  argmax window. The exchange carries ≤ n_langs rows per doc.
- fingerprints is the winnowing scheme (Schleimer et al., SIGMOD'03):
  per-doc windows only — one exchange on doc_id, no cross-doc state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_golang_spark.functions.tokenize import LETTERS_ONLY_RE, widen_for_cpu

#: Tiny per-language marker lexicons for the n-gram/stopword heuristic.
#: Shared with the DuckDB oracle (oracle built from this constant).
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "that", "it", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "ich"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans"),
    "es": ("el", "los", "las", "es", "una", "por", "para", "como"),
    "zh": ("de", "shi", "bu", "wo", "zai", "you", "le", "ren"),
}

#: Stopword set for the quality score (English-biased by design — the
#: score measures "looks like prose", not language correctness).
QUALITY_STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is", "it")

#: BPE-ish pre-tokenizer: letter runs | digit runs | single other glyph.
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _clean_tokens(text_col):
    return F.array_remove(F.split(text_col, LETTERS_ONLY_RE), "")


def _lang_best_struct():
    """The argmax-over-lexicons struct shared by lang_id and the
    confusion matrix: each language's score is a JVM array filter over
    the doc's tokens, the argmax a 5-element array sort — one narrow
    codegen'd expression, no join, no shuffle."""
    toks = _clean_tokens(F.lower(F.col("text")))

    def _member_of(ws):  # single-arg lambda: F.filter treats 2-arg fns as (elem, idx)
        return lambda t: t.isin(*ws)

    entries = []
    for lang in sorted(LANG_LEXICONS):
        score = F.size(F.filter(toks, _member_of(LANG_LEXICONS[lang])))
        # sort key: ascending on (-score, lang) == score desc, lang asc
        entries.append(F.struct((-score).alias("neg"), F.lit(lang).alias("lang"), score.alias("score")))
    return F.element_at(F.array_sort(F.array(*entries)), 1)


def lang_id(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of lexicon-marker hits per doc.

    Returns (doc_id, predicted_lang, score); docs with zero marker
    hits get ('unknown', 0). Deterministic tie-break: score desc,
    lang asc.

    Zero-shuffle formulation: the lexicons are tiny compile-time
    constants, so the whole operator is a narrow map over the scan (a
    lexicon JOIN would add an explode + exchange for nothing).
    ``spark`` is unused but kept for signature stability. The lexicon
    filters are the CPU; a one-split fixture scan is widened first
    (no-op at any real corpus width — ``widen_for_cpu``).
    """
    df = widen_for_cpu(df)
    best = _lang_best_struct()
    return df.select(
        "doc_id",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown")).alias("predicted_lang"),
        F.when(best["score"] > 0, best["score"]).otherwise(F.lit(0)).cast("long").alias("score"),
    )


def text_quality(df: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Per-doc quality features + composite score.

    punct/digit ratios via length-difference (identical semantics in
    Spark and DuckDB); stopword ratio over letters-only tokens;
    composite = 0.4*stopword + 0.3*(1-punct) + 0.3*min(n_tokens/100,1).
    ``keep_cols`` passes extra input columns through (e.g. `source`
    for the drift report) without a join back onto the scan. The regex
    ratio features are the CPU; a one-split fixture scan is widened
    first (no-op at any real corpus width — ``widen_for_cpu``).
    """
    df = widen_for_cpu(df)
    text = F.col("text")
    toks = _clean_tokens(F.lower(text))
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    # per-occurrence stopword count (array_intersect would dedupe)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*QUALITY_STOPWORDS)))
    punct_chars = n_chars - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    digit_chars = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    letter_chars = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))

    stopword_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct_chars / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, digit_chars / n_chars).otherwise(F.lit(0.0))
    avg_token_len = F.when(n_tokens > 0, letter_chars / n_tokens).otherwise(F.lit(0.0))
    score = (
        0.4 * stopword_ratio
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    )
    return df.select(
        "doc_id",
        *keep_cols,
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(avg_token_len, 6).alias("avg_token_len"),
        F.round(score, 6).alias("quality_score"),
    )


def token_stats(df: DataFrame) -> DataFrame:
    """Per-doc token counts: whitespace tokens, letters-only tokens,
    distinct letters-only tokens, BPE-ish pre-tokens."""
    text = F.col("text")
    ws = F.array_remove(F.split(text, r"\s+"), "")
    word = _clean_tokens(text)
    return df.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(word).cast("long").alias("n_word_tokens"),
        F.size(F.array_distinct(word)).cast("long").alias("n_distinct_words"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0)).cast("long").alias("n_bpe_tokens"),
    )


def doc_fingerprints(df: DataFrame, k: int = 3, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash scheme).

    k-word shingles → md5 → min-hash over each sliding window of
    ``window`` consecutive shingles → distinct mins are the doc's
    fingerprints. Returns (doc_id, n_fingerprints, min_fp, max_fp).
    Window state is per-doc (partitionBy doc_id) — scales to any
    corpus size; doc length bounds the per-partition sort.
    """
    toks = df.select("doc_id", F.posexplode(_clean_tokens(F.col("text"))).alias("pos", "tok"))
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    # k-shingle = this token + the next k-1 (concat_ws skips the null
    # leads past the doc end; the size==k filter below drops those
    # ragged tails) — same lead construction as dedup.word_shingles
    shingle = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", i).over(by_doc) for i in range(1, k)]
    )
    shingles = (
        toks.withColumn("shingle", shingle)
        .where(F.size(F.split(F.col("shingle"), " ")) == k)  # drop ragged tail shingles
        .select("doc_id", "pos", F.md5("shingle").alias("h"))
    )
    roll = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    cnt = Window.partitionBy("doc_id")
    mins = (
        shingles.withColumn("max_pos", F.max("pos").over(cnt))
        .withColumn("fp", F.min("h").over(roll))
        .where(F.col("pos") <= F.col("max_pos") - (window - 1))  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )
    return mins.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


def repetition_ratio(df: DataFrame) -> DataFrame:
    """Intra-document repetition features — the standard "is this doc
    degenerate boilerplate/spam" quality signal run before training:
    word- and bigram-level duplicate fractions per doc.

    rep_ratio = 1 - distinct/total (0 for empty docs); high word
    repetition with near-zero bigram repetition ≈ natural prose, high
    bigram repetition ≈ template/looping text. Pure narrow map (token
    array sliced/deduped inside one codegen stage) — ZERO shuffles,
    scales with the scan like text_quality.
    """
    toks = _clean_tokens(F.lower(F.col("text")))
    base = df.select("doc_id", toks.alias("toks"))
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) "
        "ELSE array() END"
    )
    n_w = F.size("toks")
    n_dw = F.size(F.array_distinct("toks"))
    n_b = F.size("bigrams")
    n_db = F.size(F.array_distinct("bigrams"))
    return (
        base.withColumn("bigrams", bigrams)
        .select(
            "doc_id",
            n_w.cast("long").alias("n_words"),
            n_dw.cast("long").alias("n_distinct_words"),
            F.round(
                F.when(n_w > 0, 1.0 - n_dw / n_w).otherwise(F.lit(0.0)), 6
            ).alias("word_rep_ratio"),
            n_b.cast("long").alias("n_bigrams"),
            n_db.cast("long").alias("n_distinct_bigrams"),
            F.round(
                F.when(n_b > 0, 1.0 - n_db / n_b).otherwise(F.lit(0.0)), 6
            ).alias("bigram_rep_ratio"),
        )
    )


def cross_source_overlap(df: DataFrame, k: int = 3) -> DataFrame:
    """Source-pair shingle overlap matrix — corpus-level contamination
    analytics: Jaccard similarity of the DISTINCT k-word-shingle
    vocabularies of every source pair (which crawls/dumps duplicate
    each other, which are independent).

    Scale shape: shingles collapse to DISTINCT (source, shingle) first
    (shuffle ∝ source vocabularies, not corpus tokens); the self-join's
    per-shingle posting list is bounded by the SOURCE dimension (≤
    n_sources rows), so the quadratic step is n_sources²-bounded per
    shingle — safe at any corpus size for a bounded source set.
    """
    from mapreduce_golang_spark.operators.dedup import word_shingles

    # word_shingles dedupes per ROW (per doc, in-array); the source
    # vocabulary needs the cross-doc distinct on top
    sh = (
        word_shingles(df, k=k, id_col="source")
        .withColumnRenamed("doc_id", "source")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(
            sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


def vocab_growth(df: DataFrame) -> DataFrame:
    """Per-source type/token curve (Heaps'-law observability): total
    token occurrences, distinct vocabulary size, and the type-token
    ratio — the standard "is this source repetitive boilerplate or
    diverse text" corpus diagnostic.

    Scale shape: one explode collapsed by a single hash aggregate on
    (source) with partial counts map-side; count(distinct) rewrites to
    a two-phase expand-aggregate — shuffle ∝ per-source vocabularies.
    """
    words = df.select("source", F.explode(_clean_tokens(F.lower(F.col("text")))).alias("word"))
    return words.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("word").cast("long").alias("n_types"),
        F.round(F.countDistinct("word") / F.count("*"), 6).alias("type_token_ratio"),
    )


def source_doc_stats(df: DataFrame) -> DataFrame:
    """Per-source document-length profile: doc count, mean chars,
    mean/median token counts. Exact interpolated median via
    ``percentile`` (same continuous-quantile semantics as the DuckDB
    oracle's ``quantile_cont``). One narrow projection computes the
    per-doc token count; one hash aggregate per source collapses it.
    """
    sized = df.select(
        "source",
        F.col("n_chars"),
        F.size(_clean_tokens(F.col("text"))).alias("n_toks"),
    )
    return sized.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg("n_toks"), 6).alias("avg_tokens"),
        F.round(F.expr("percentile(n_toks, 0.5)"), 6).alias("median_tokens"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 5) -> DataFrame:
    """Top-k distinctive terms per source by TF-IDF.

    IDF is the *rational* form ``n_sources / doc_freq`` (doc_freq =
    number of sources containing the term) rather than a logarithm:
    the ranking is identical for a fixed corpus and the score is a
    single exact double division, so the DuckDB differential hash is
    stable to the last bit (``ln`` is not guaranteed correctly rounded
    across libm implementations).

    Scale shape: tokens collapse to (source, word) counts with partial
    aggregation before any exchange; doc-frequency is a second
    aggregate over the *already-collapsed* per-source vocabulary (rows
    ∝ vocab × sources, not corpus tokens), joined back on word — both
    sides hash-partition on word, no broadcast needed at any vocab
    size. Top-k per source is a bounded window (sources are a bounded
    dimension; the sort key set per group is the source vocabulary).
    """
    words = df.select(
        "source", F.explode(_clean_tokens(F.col("text"))).alias("word")
    )
    tf = words.groupBy("source", "word").agg(F.count("*").alias("tf"))
    # one-row scalar as a broadcast cross join — not a driver action
    n_src = df.agg(F.countDistinct("source").cast("double").alias("n_sources"))
    doc_freq = tf.groupBy("word").agg(F.countDistinct("source").alias("df"))
    scored = (
        tf.join(doc_freq, "word")
        .crossJoin(F.broadcast(n_src))
        .withColumn("tfidf", F.col("tf") * F.col("n_sources") / F.col("df"))
    )
    # two-level tournament top-k: sources are a BOUNDED dimension, so a
    # single window over source would sort each source's entire
    # vocabulary in one task (a few fat partitions at corpus scale).
    # Level 1 takes top-k within (source, word-hash bucket) — spreads
    # the sort across n_buckets × sources tasks; level 2 sorts only the
    # n_buckets × k survivors per source. Exact: every global top-k row
    # is necessarily top-k within its own bucket.
    n_buckets = 64
    w1 = Window.partitionBy("source", "bkt").orderBy(F.desc("tfidf"), F.asc("word"))
    survivors = (
        scored.withColumn("bkt", F.pmod(F.xxhash64("word"), F.lit(n_buckets)))
        .withColumn("brnk", F.row_number().over(w1))
        .where(F.col("brnk") <= k)
    )
    w2 = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
        .select(
            "source",
            "word",
            "tf",
            F.col("df").alias("source_freq"),
            F.col("tfidf").alias("tfidf"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def contamination_check(
    df: DataFrame,
    eval_sources: tuple = ("src18", "src19"),
    k: int = 3,
) -> DataFrame:
    """Train/eval contamination: per eval doc, the fraction of its
    k-token shingles that also occur anywhere in the train split
    (every source not in ``eval_sources``) — the standard n-gram
    decontamination pass run before training on a corpus that might
    contain benchmark text.

    Scale shape: the train side collapses to DISTINCT shingle hashes
    (md5, so the oracle is bit-identical) before the join; the
    membership probe is a LEFT SEMI join hash-partitioned on the
    shingle hash — shuffle ∝ distinct shingles, never pairs. The
    per-doc ratio is one final aggregate on doc_id.
    """
    from mapreduce_golang_spark.operators.dedup import word_shingles

    eval_df = df.where(F.col("source").isin(list(eval_sources)))
    train_df = df.where(~F.col("source").isin(list(eval_sources)))
    eval_sh = word_shingles(eval_df, k=k).withColumn("h", F.md5("shingle"))
    train_sh = (
        word_shingles(train_df, k=k).select(F.md5("shingle").alias("h")).distinct()
    )
    hits = eval_sh.join(train_sh, "h", "left_semi").groupBy("doc_id").agg(
        F.count("*").alias("contaminated")
    )
    totals = eval_sh.groupBy("doc_id").agg(F.count("*").alias("total_ngrams"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "total_ngrams",
            F.coalesce("contaminated", F.lit(0)).alias("contaminated"),
            F.round(
                F.coalesce("contaminated", F.lit(0)) / F.col("total_ngrams"), 6
            ).alias("contamination_ratio"),
        )
    )


def eval_train_overlap(
    df: DataFrame,
    eval_sources: tuple = ("src18", "src19"),
    k: int = 3,
    max_train_doc_freq: int = 256,
) -> DataFrame:
    """Shared derivation for the decontamination family: one row per
    (eval doc, overlapping train doc) with the common-shingle count,
    plus a NULL-train_doc row for eval docs with zero overlap —
    (doc_id, n_shingles, train_doc, n_common). Both the per-eval-doc
    report (eval_decontamination) and the corpus-consumption step
    (decontaminated_corpus) are cheap reductions of this table, so
    the registry materializes it ONCE (the pair-graph pattern).

    Scale shape: train postings collapse to DISTINCT (shingle, doc)
    and shingles hotter than ``max_train_doc_freq`` are dropped from
    pair generation (the ngram_jaccard_pairs cap); the pair join is
    hash-partitioned on the shingle and the per-pair count is one
    bounded agg.
    """
    from mapreduce_golang_spark.operators.dedup import word_shingles

    eval_df = df.where(F.col("source").isin(list(eval_sources)))
    train_df = df.where(~F.col("source").isin(list(eval_sources)))
    eval_sh = word_shingles(eval_df, k=k).select("doc_id", F.md5("shingle").alias("h"))
    train_sh = word_shingles(train_df, k=k).select(
        F.col("doc_id").alias("train_doc"), F.md5("shingle").alias("h")
    )
    cold = train_sh.groupBy("h").agg(F.count("*").alias("df_h")).where(
        F.col("df_h") <= max_train_doc_freq
    )
    train_cold = train_sh.join(cold.select("h"), "h", "left_semi")
    totals = eval_sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_shingles"))
    pair_common = (
        eval_sh.join(train_cold, "h")
        .groupBy("doc_id", "train_doc")
        .agg(F.count("*").alias("n_common"))
    )
    return totals.join(pair_common, "doc_id", "left").select(
        "doc_id", "n_shingles", "train_doc", "n_common"
    )


def eval_decontamination(
    df: DataFrame,
    eval_sources: tuple = ("src18", "src19"),
    k: int = 3,
    threshold: float = 0.8,
    max_train_doc_freq: int = 256,
    overlap: DataFrame | None = None,
) -> DataFrame:
    """Per-eval-doc decontamination report — the consumption shape run
    before a training job: for EACH eval/benchmark document, the single
    training document with the largest k-gram overlap and that overlap
    fraction, plus a contaminated verdict at ``threshold``. Generalizes
    contamination_check (which reports only corpus-level hit counts)
    to the per-candidate-pair evidence an audit actually needs.

    Scale shape: the train side collapses to DISTINCT (shingle, doc)
    postings and shingles hotter than ``max_train_doc_freq`` train
    docs are dropped from PAIR GENERATION only (boilerplate guard —
    the same posting-list cap as ngram_jaccard_pairs; an uncapped
    license-header shingle would fan every eval doc out to millions of
    train docs). The pair join is hash-partitioned on the shingle, the
    per-pair overlap one bounded agg, and the per-eval-doc argmax a
    max_by pair aggregate. Eval docs with zero overlapping shingles
    still appear (left join), best_train_doc NULL, overlap 0.

    Returns (doc_id, n_shingles, best_train_doc, max_overlap,
    contaminated); ties broken toward the smallest train doc_id.
    """
    if overlap is None:
        overlap = eval_train_overlap(
            df, eval_sources=eval_sources, k=k, max_train_doc_freq=max_train_doc_freq
        )
    totals = overlap.select("doc_id", "n_shingles").distinct()
    pair_common = overlap.where(F.col("n_common").isNotNull()).select(
        "doc_id", "train_doc", "n_common"
    )
    # argmax per eval doc: largest common count, then smallest train doc
    best = pair_common.groupBy("doc_id").agg(
        F.max_by(
            F.struct(
                F.col("n_common"), (-F.col("train_doc")).alias("neg_td"), "train_doc"
            ),
            F.struct(F.col("n_common"), (-F.col("train_doc")).alias("neg_td")),
        ).alias("b")
    )
    frac = F.col("b.n_common") / F.col("n_shingles")
    return (
        totals.join(best, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.col("b.train_doc").alias("best_train_doc"),
            F.round(F.coalesce(frac, F.lit(0.0)), 6).alias("max_overlap"),
            (F.coalesce(frac, F.lit(0.0)) >= threshold).alias("contaminated"),
        )
    )


def bigram_counts(df: DataFrame, k: int = 50) -> DataFrame:
    """Top-k corpus bigrams (adjacent letters-only token pairs) — the
    n>1 sibling of W1's unigram wordcount
    (/root/reference/src/mrapps/wc.go:21-27 tokenizer, reused verbatim).

    The bigram array is built with a narrow ``zip_with`` over two
    shifted slices of the token array and exploded INLINE in the same
    Generate (an intermediate projection between an array expr and its
    explode measurably regresses — see PERF.md), so the only exchange
    is the count aggregation's, with map-side partials. Ties at the
    limit boundary are broken by the bigram text for a fully
    deterministic top-k.
    """
    toks = _clean_tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        df.where(n >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(k)
    )


#: sentence boundary — runs of terminal punctuation. Shared with the
#: DuckDB oracle and the UDTF demo (functions/udtf.py) so all three
#: agree on segmentation.
SENTENCE_SPLIT_RE = "[.!?]+"


def sentence_stats(df: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats — the readability /
    structure probe of a corpus-quality pass. Entirely array
    expressions (split → trim → filter → per-element word counts via
    transform), so segmentation never leaves codegen and never
    explodes rows: one narrow map per doc, zero exchanges. The
    arrow-UDTF twin in functions/udtf.py materializes the same
    segmentation row-per-sentence for consumers that need the text.

    Returns (doc_id, n_sentences, avg_sentence_words, max_sentence_words).
    """
    sents = F.expr(
        f"filter(transform(split(text, '{SENTENCE_SPLIT_RE}'), x -> trim(x)), x -> x != '')"
    )
    wc = F.expr("transform(sents, s -> size(split(s, '\\\\s+')))")
    return (
        df.select("doc_id", sents.alias("sents"))
        .where(F.size("sents") > 0)
        .select("doc_id", wc.alias("wc"))
        .select(
            "doc_id",
            F.size("wc").cast("long").alias("n_sentences"),
            F.round(
                F.aggregate("wc", F.lit(0), lambda a, x: a + x) / F.size("wc"), 6
            ).alias("avg_sentence_words"),
            F.array_max("wc").cast("long").alias("max_sentence_words"),
        )
    )


def lang_confusion_matrix(df: DataFrame) -> DataFrame:
    """Classifier-evaluation query: the confusion matrix of the
    heuristic language ID against the corpus's labeled `lang` column —
    the accuracy report a pipeline publishes whenever a heuristic
    gates data. The label and the prediction ride the SAME projection
    (no self-join — the prediction is a narrow expression), so the
    whole query is one scan plus one exchange on the (label,
    prediction) pair; output bounded by n_langs².
    Returns (true_lang, predicted_lang, n_docs).
    """
    best = _lang_best_struct()
    pred = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))
    return (
        df.select(F.col("lang").alias("true_lang"), pred.alias("predicted_lang"))
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def zipf_slope(df: DataFrame) -> DataFrame:
    """Zipf's-law fit per source: the slope of ln(freq) over ln(rank)
    for the source's word-frequency distribution (natural text ≈ −1;
    a synthetic or templated corpus drifts toward 0 — a cheap
    distribution-shift probe for corpus QA).

    Plan: one explode + hash agg to (source, word) counts (map-side
    partials), a per-source rank window (one exchange on source), and
    `regr_slope` — a single-pass algebraic aggregate, so the whole fit
    is two exchanges regardless of corpus size. Deterministic ranking
    (count desc, word asc). Returns (source, n_types, slope).
    """
    words = df.select(
        "source",
        F.explode(F.array_remove(F.split(F.lower("text"), LETTERS_ONLY_RE), "")).alias("word"),
    )
    counts = words.groupBy("source", "word").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("word"))
    ranked = counts.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_types"),
        (F.round(F.expr("regr_slope(ln(cnt), ln(rk))"), 6) + F.lit(0.0)).alias("slope"),
    )


#: governance patterns — shared with the DuckDB oracle and the
#: injection test so all three agree on what counts as a hit.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "long_digits": r"[0-9]{6,}",
}


def pii_scan(df: DataFrame) -> DataFrame:
    """Corpus-governance scan: per source, how many docs contain each
    PII-ish pattern (emails, URLs, long digit runs) — the audit every
    training-corpus publish gate runs before release. Pure `rlike`
    conditional counts riding one narrow projection + one exchange on
    source; always one row per source (zero counts when clean), so the
    report shape is stable. Returns (source, n_docs, n_email, n_url,
    n_long_digits)."""
    flags = [
        F.sum(F.col("text").rlike(pat).cast("long")).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    return df.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"), *flags
    )


def doc_length_gini(df: DataFrame) -> DataFrame:
    """Gini coefficient of document length per source — the corpus-
    balance probe a data-mixing pipeline runs before setting source
    weights (gini → 0: uniform doc lengths; → 1: a few giant docs
    carry the source's mass). Uses the exact rank formula over
    ascending lengths: G = 2·Σᵢ i·xᵢ / (n·Σᵢ xᵢ) − (n+1)/n, with rank
    ties broken by doc_id (Σ i·xᵢ is invariant to the order of equal
    x's, so the tie-break only pins determinism, not the value).

    Scale shape: one exchange on source, a per-partition rank sort
    bounded by the largest source, then a hash aggregate on the same
    key — the exchange is reused. Output is one row per source.
    """
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = df.select("source", "doc_id", "n_chars").withColumn(
        "rk", F.row_number().over(w)
    )
    n = F.count("*")
    total = F.sum(F.col("n_chars").cast("double"))
    return ranked.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.round(
            2.0 * F.sum(F.col("rk") * F.col("n_chars").cast("double")) / (n * total)
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


def duplicate_block_fraction(df: DataFrame, block: int = 10) -> DataFrame:
    """Per-doc fraction of non-overlapping ``block``-token windows that
    also occur in at least one OTHER document — the block-level exact
    substring-dedup signal (the scalable stand-in for suffix-array
    substring dedup): a high fraction marks a doc assembled from
    boilerplate shared across the corpus even when no whole-doc or
    shingle-Jaccard pair fires.

    Plan shape: one narrow map builds the block strings per doc
    (slice/transform inside codegen, no intermediate row explosion),
    one exchange keyed on the block string computes cross-doc document
    frequency, and one exchange on doc_id folds the dup flags back to
    a ratio. At corpus scale the block key should be xxhash64'd to cut
    shuffle bytes; the string key is kept here so the DuckDB oracle
    can group on the identical value (hashing changes nothing but the
    collision probability, ~n²/2⁶⁴).

    Returns (doc_id, n_blocks, n_dup_blocks, dup_ratio); docs shorter
    than one block are excluded (no denominator).
    """
    toks = _clean_tokens(F.lower(F.col("text")))
    nb = F.floor(F.size("toks") / block).cast("int")
    blocks = F.expr(
        f"transform(sequence(1, nb), i -> array_join(slice(toks, (i - 1) * {block} + 1, {block}), ' '))"
    )
    exploded = (
        df.select("doc_id", toks.alias("toks"))
        .select("doc_id", nb.alias("nb"), F.col("toks"))
        .where(F.col("nb") >= 1)
        .select("doc_id", F.explode(blocks).alias("blk"))
    )
    dfreq = exploded.groupBy("blk").agg(F.countDistinct("doc_id").alias("dfd"))
    return (
        exploded.join(dfreq, "blk")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum((F.col("dfd") >= 2).cast("long")).alias("n_dup_blocks"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_dup_blocks",
            F.round(F.col("n_dup_blocks") / F.col("n_blocks"), 6).alias("dup_ratio"),
        )
    )


#: Gopher-style rule thresholds (Rae et al. 2021 §A1.1, adapted to the
#: fixture's scale) — shared with the DuckDB oracle.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN_LO = 3.0
GOPHER_MEAN_LEN_HI = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_DISTINCT_STOPWORDS = 2
#: symbol glyphs Gopher counts against the doc: hashes and ellipses
GOPHER_SYMBOL_RE = r"#|\.\.\."


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """Gopher-rule document filter: the five classic heuristics
    (word-count bounds, mean-word-length band, symbol-to-word ratio,
    alphabetic-word fraction, distinct-stopword floor) computed as
    0/1 flags plus the conjunctive pass bit — the rule-based quality
    gate most pretraining pipelines run before any model-based
    scoring. Words here are WHITESPACE tokens (Gopher's definition —
    punctuation stays attached), unlike the letters-only wordcount
    tokenizer.

    Entirely narrow expressions over the scan (array filter/transform
    + regexp_count), zero exchanges — at 100 TB this is a pure
    map-side pass whose cost is the parquet scan. Flags are BIGINT
    0/1 (not booleans) so the differential hash is
    representation-stable across engines.

    Returns (doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
    n_distinct_stopwords, flag_word_count, flag_mean_len, flag_symbol,
    flag_alpha, flag_stopwords, passes).
    """
    # empty-token removal makes empty/whitespace-only docs report
    # n_words = 0 and passes = 0 — a quality gate must FLAG the
    # junkiest inputs, not omit them from its report (a downstream
    # "drop where passes = 0" anti-join would otherwise keep exactly
    # the docs the gate exists to reject)
    toks = F.array_remove(F.split(F.trim(F.col("text")), r"\s+"), "")
    n_words = F.size("toks")
    char_sum = F.aggregate(F.col("toks"), F.lit(0), lambda a, t: a + F.length(t))
    mean_len = F.when(n_words > 0, char_sum / n_words).otherwise(F.lit(0.0))
    n_symbols = F.regexp_count(F.col("text"), F.lit(GOPHER_SYMBOL_RE))
    symbol_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(F.col("toks"), lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(
            F.transform(F.col("toks"), F.lower),
            F.array(*[F.lit(s) for s in QUALITY_STOPWORDS]),
        )
    )
    f_wc = ((n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)).cast("long")
    f_ml = ((mean_len >= GOPHER_MEAN_LEN_LO) & (mean_len <= GOPHER_MEAN_LEN_HI)).cast("long")
    f_sy = (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO).cast("long")
    f_al = (alpha_frac >= GOPHER_MIN_ALPHA_FRAC).cast("long")
    f_st = (n_stop >= GOPHER_MIN_DISTINCT_STOPWORDS).cast("long")
    return (
        df.select("doc_id", toks.alias("toks"), F.col("text"))
        .select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            F.round(mean_len, 6).alias("mean_word_len"),
            F.round(symbol_ratio, 6).alias("symbol_ratio"),
            F.round(alpha_frac, 6).alias("alpha_frac"),
            n_stop.cast("long").alias("n_distinct_stopwords"),
            f_wc.alias("flag_word_count"),
            f_ml.alias("flag_mean_len"),
            f_sy.alias("flag_symbol"),
            f_al.alias("flag_alpha"),
            f_st.alias("flag_stopwords"),
            (f_wc * f_ml * f_sy * f_al * f_st).cast("long").alias("passes"),
        )
    )


def token_pmi_pairs(df: DataFrame, min_count: int = 5) -> DataFrame:
    """Pointwise mutual information of adjacent token bigrams:
    pmi(a,b) = ln( (c_ab/N_b) / ((c_a/N_u)·(c_b/N_u)) ) — the
    collocation detector (Church & Hanks 1990) a tokenizer-training or
    phrase-mining pass runs over the corpus. High-PMI pairs are
    phrases; PMI ≈ 0 marks independent co-occurrence.

    Plan: two hash aggregations (unigram counts, bigram counts — both
    with map-side partials), the ``min_count`` floor applied to the
    bigram side BEFORE the two unigram joins (prunes the join input to
    the collocation candidates), and the corpus totals ride a 1-row
    broadcast. Tokens are lowercased letters-only runs.

    Returns (w1, w2, n_pair, pmi) for pairs with n_pair ≥ min_count.
    """
    toks = _clean_tokens(F.lower(F.col("text")))
    base = df.select(toks.alias("toks"))
    n = F.size("toks")
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    bi_all = (
        base.where(n >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, n - 1),
                    F.slice(F.col("toks"), 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )
    # totals come from the UNFILTERED counts — N_b is the corpus bigram
    # mass, not the collocation subset's
    totals = F.broadcast(
        uni.agg(F.sum("c").alias("n_u")).crossJoin(bi_all.agg(F.sum("c_ab").alias("n_b")))
    )
    bi = bi_all.where(F.col("c_ab") >= min_count)
    return (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(totals)
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_b"))
                    / ((F.col("c_a") / F.col("n_u")) * (F.col("c_b") / F.col("n_u")))
                ),
                6,
            ).alias("pmi"),
        )
    )


#: BM25 constants (Robertson & Zaragoza 2009) + the fixed query-term
#: set (drawn from the fixture vocabulary) — shared with the oracle.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS: tuple[str, ...] = ("spark", "table", "hash")


def bm25_top_docs(df: DataFrame, k: int = 20) -> DataFrame:
    """BM25 retrieval scoring for a fixed query over the corpus — the
    lexical-search baseline an eval-set or retrieval-augmentation
    pipeline keeps beside its embedding ANN index. Standard Okapi
    form with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Plan shape: per-doc term frequencies are ARRAY FILTERS over the
    token array (the query-term list is a compile-time constant — no
    explode, no join against a term table), df/N/avgdl are tiny
    algebraic aggregates broadcast back as a 1-row dimension, and the
    top-k is a real TakeOrderedAndProject (orderBy + limit — per-
    partition heaps, no global sort); rank is then a row_number over
    the k surviving rows only. One bounded exchange total (the k-row
    top-k merge), everything else narrow.

    Returns (rank, doc_id, bm25) — rank by score desc, doc_id asc.
    """
    toks = _clean_tokens(F.lower(F.col("text")))

    def _eq(term):  # single-arg lambda: a 2-param fn would get (elem, idx)
        return lambda t: t == F.lit(term)

    per_doc = df.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _eq(t_))).cast("double").alias(f"tf_{i}")
            for i, t_ in enumerate(BM25_QUERY_TERMS)
        ],
    )
    stats = F.broadcast(
        per_doc.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            *[
                F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
                for i in range(len(BM25_QUERY_TERMS))
            ],
        )
    )
    scored = per_doc.crossJoin(stats)
    score = None
    for i in range(len(BM25_QUERY_TERMS)):
        idf = F.log(
            1.0 + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        part = idf * tf * (BM25_K1 + 1.0) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    ranked = scored.select("doc_id", F.round(score, 6).alias("bm25"))
    topk = ranked.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    # row_number here sees only the k rows that survived the
    # TakeOrderedAndProject — a k-row single partition, not a global sort
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("rank", "doc_id", "bm25")
    )


def char_trigram_logprob(df: DataFrame, k_smooth: float = 0.5) -> DataFrame:
    """Self-perplexity proxy: each doc scored by the corpus's own
    char-trigram distribution — avg negative log-probability of the
    doc's trigrams under add-k-smoothed corpus frequencies. The
    model-free stand-in for LM-perplexity quality filtering (the
    pipeline stage that drops gibberish and mojibake before any real
    LM scores anything): low avg_nll ≈ typical text, high ≈ anomalous.

    Plan: trigram explode → corpus frequency hash agg (map-side
    partials; vocabulary bounded by charset³), total mass on a 1-row
    broadcast, then the per-doc fold joins doc-trigram counts against
    the frequency table on the trigram key. Shuffle ∝ total chars —
    the same order as the wordcount family. Deterministic: integer
    counts, one ln per distinct trigram, round(6).

    Returns (doc_id, n_trigrams, avg_nll).

    The char-trigram explode multiplies every doc into ~len(text)
    rows before the first agg, so a one-split fixture scan serializes
    the heaviest stage — widened first (gated no-op at real corpus
    width; measured 2.97 → 1.23 s min-of-4 at sf0.1, and the ccnet
    bucket family shares this pass).
    """
    df = widen_for_cpu(df)
    # CASE guard: sequence(1, n) with n < 1 generates a DESCENDING
    # sequence in Spark, not an empty one — sub-3-char docs must yield
    # array() (same trap word_shingles documents)
    tri = F.expr(
        "CASE WHEN length(text) >= 3 "
        "THEN transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) "
        "ELSE array() END"
    )
    doc_tri = (
        df.select("doc_id", F.explode(tri).alias("tg"))
        .groupBy("doc_id", "tg")
        .agg(F.count("*").alias("c_doc"))
    )
    freq = doc_tri.groupBy("tg").agg(F.sum("c_doc").alias("c_corpus"))
    totals = F.broadcast(
        freq.agg(
            F.sum("c_corpus").alias("n_total"),
            F.count("*").cast("double").alias("n_vocab"),
        )
    )
    # add-k smoothing: p(tg) = (c + k) / (N + k·V)
    scored = doc_tri.join(freq, "tg").crossJoin(totals)
    nll = -F.log(
        (F.col("c_corpus") + k_smooth) / (F.col("n_total") + k_smooth * F.col("n_vocab"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("c_doc").cast("long").alias("n_trigrams"),
            F.round(F.sum(F.col("c_doc") * nll) / F.sum("c_doc"), 6).alias("avg_nll"),
        )
    )


def source_lang_entropy(df: DataFrame) -> DataFrame:
    """Shannon entropy of the language mix per source — the
    corpus-composition statistic a data-mixing pass reports beside the
    doc-count quotas (entropy 0 = monolingual source; ln(n_langs) =
    uniform mix). Two bounded hash aggs: (source, lang) counts, then
    the entropy fold over an output no larger than sources × langs.
    Returns (source, n_docs, n_langs, entropy).
    """
    counts = df.groupBy("source", "lang").agg(F.count("*").alias("c"))
    tot = Window.partitionBy("source")
    p = F.col("c") / F.sum("c").over(tot)
    plogp = counts.select(
        "source", "c", (p * F.log(p)).alias("plogp")
    )
    return plogp.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
        F.round(-F.sum("plogp"), 6).alias("entropy"),
    )


#: drift-report discretization — shared with the DuckDB oracle. The
#: composite quality score lives in [0, 1]; 20 equal bins give the
#: two-sample KS statistic a fixed evaluation grid in both engines.
DRIFT_BINS = 20


def source_quality_drift(df: DataFrame) -> DataFrame:
    """Distribution-drift report: for every source, the two-sample
    Kolmogorov–Smirnov statistic (discretized to DRIFT_BINS equal
    score bins) between that source's quality-score distribution and
    the REST of the corpus — the screen that catches a crawler or
    feed whose quality profile silently shifted, before it skews the
    training mix. D ∈ [0,1]; 0 = identical distribution.

    Scale shape: one narrow scoring pass (shared expression with
    text_quality — `keep_cols` threads `source` through, no join back
    onto the scan), one exchange into the bounded (source × bins)
    count grid, and everything after runs on ≤ sources × DRIFT_BINS
    rows: the dense grid is a cross join of two tiny dimensions, the
    cumulative sums are windows over ≤ DRIFT_BINS rows per source,
    and the corpus totals broadcast. Integer cumulative counts make
    every ECDF ratio bit-identical cross-engine.

    Returns (source, n_docs, ks_stat), ks rounded to 6.
    """
    scores = text_quality(df, keep_cols=("source",)).select("source", "quality_score")
    binned = scores.select(
        "source",
        F.least(F.floor(F.col("quality_score") * DRIFT_BINS), F.lit(DRIFT_BINS - 1))
        .cast("long")
        .alias("bin"),
    )
    # counts is ≤ sources × DRIFT_BINS rows but feeds FOUR consumers
    # (grid fill, per-bin totals, per-source n, corpus n) — the lazy
    # checkpoint materializes the scoring scan once instead of four
    # times (and keeps the plan's one allowed grid cross-join single)
    counts = (
        binned.groupBy("source", "bin")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    sources = counts.select("source").distinct()
    bins = df.sparkSession.range(DRIFT_BINS).select(F.col("id").cast("long").alias("bin"))
    # dense grid so every source has a cum value at EVERY bin boundary
    # (the KS supremum is evaluated on the shared grid, not just bins
    # where this source happens to have mass)
    grid = sources.crossJoin(F.broadcast(bins))
    filled = grid.join(counts, ["source", "bin"], "left").select(
        "source", "bin", F.coalesce("c", F.lit(0)).alias("c")
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = filled.withColumn("cum_s", F.sum("c").over(w_s))
    # bin totals from counts, not filled: the zero-filled grid rows
    # add nothing to the sums, and deriving from counts keeps the
    # grid cross-join subtree single-consumer
    per_bin = counts.groupBy("bin").agg(F.sum("c").alias("cb"))
    w_t = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = per_bin.withColumn("cum_t", F.sum("cb").over(w_t)).select("bin", "cum_t")
    n_s = counts.groupBy("source").agg(F.sum("c").alias("n_s"))
    n_tot = counts.agg(F.sum("c").cast("double").alias("n"))
    diff = F.abs(
        F.col("cum_s") / F.col("n_s")
        - (F.col("cum_t") - F.col("cum_s")) / (F.col("n") - F.col("n_s"))
    )
    return (
        cums.join(F.broadcast(tot), "bin")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n_tot))
        .where(F.col("n") > F.col("n_s"))  # single-source corpus: no "rest"
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_docs"),
            F.round(F.max(diff), 6).alias("ks_stat"),
        )
    )


def common_sentence_filter(df: DataFrame, min_doc_freq: int = 3) -> DataFrame:
    """CCNet-style sentence-level boilerplate report: per doc, how many
    of its distinct sentences occur in ≥ ``min_doc_freq`` documents
    corpus-wide, and the removable fraction — the dedup grain BETWEEN
    exact-doc and shingle-pair (cookie banners, nav text, license
    footers repeat at sentence level long before whole docs do; CCNet
    dedups exactly this way before language ID).

    Scale shape: sentences are segmented + trimmed + DEDUPED IN-ARRAY
    before the explode (same zero-exchange trick as word_shingles), so
    the per-doc stream is already distinct; corpus doc-frequency is one
    hash agg on the sentence hash; the common-set probe is a LEFT SEMI
    join on that hash (shuffle ∝ distinct sentences, never pairs); one
    final doc-keyed agg. Docs whose sentences are all rare report 0.

    Returns (doc_id, n_sentences, n_boilerplate, boilerplate_frac) for
    docs with ≥1 sentence, fraction rounded to 6.
    """
    sents = F.expr(
        f"array_distinct(filter(transform(split(text, '{SENTENCE_SPLIT_RE}'), "
        f"x -> trim(x)), x -> x != ''))"
    )
    sent_df = (
        df.select("doc_id", F.explode(sents).alias("sent"))
        .select("doc_id", F.md5("sent").alias("h"))
        .localCheckpoint(eager=False)  # feeds doc-freq AND the probe once
    )
    common = (
        sent_df.groupBy("h")
        .agg(F.count("*").alias("df_h"))
        .where(F.col("df_h") >= min_doc_freq)
        .select("h")
    )
    totals = sent_df.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sentences"))
    hits = (
        sent_df.join(common, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_boilerplate"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_sentences",
        F.coalesce("n_boilerplate", F.lit(0)).cast("long").alias("n_boilerplate"),
        F.round(
            F.coalesce("n_boilerplate", F.lit(0)) / F.col("n_sentences"), 6
        ).alias("boilerplate_frac"),
    )


def bpe_merge_candidates(df: DataFrame, k: int = 20) -> DataFrame:
    """Top-k adjacent character-pair frequencies over the word-level
    corpus — the statistic one round of BPE tokenizer training
    consumes (Sennrich et al. 2016: each round merges the most
    frequent adjacent symbol pair; this operator IS that round's
    count table, word-frequency-weighted as in the original
    algorithm). A full trainer would re-segment and loop — each round
    is exactly this plan over the merged symbol stream.

    Scale shape: word frequencies first collapse to the distinct-word
    table (the wordcount exchange — pair extraction then runs per
    DISTINCT word, not per occurrence); in-word adjacent pairs are
    built IN-ARRAY from substrings (no char-level explode of the raw
    corpus), and the pair agg is bounded by alphabet² in the tail.
    Top-k is a TakeOrderedAndProject with a deterministic pair
    tie-break. Returns (pair, n) — 'a b'-style space-joined pairs.
    """
    toks = F.explode(
        F.array_remove(F.split(F.lower(F.col("text")), LETTERS_ONLY_RE), "")
    ).alias("tok")
    word_freq = df.select(toks).groupBy("tok").agg(F.count("*").alias("wc"))
    pairs = F.expr(
        "transform(sequence(1, length(tok) - 1), "
        "i -> concat(substring(tok, i, 1), ' ', substring(tok, i + 1, 1)))"
    )
    return (
        word_freq.where(F.length("tok") >= 2)
        .select(F.explode(pairs).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def decontaminated_corpus(
    df: DataFrame,
    eval_sources: tuple = ("src18", "src19"),
    k: int = 3,
    threshold: float = 0.8,
    max_train_doc_freq: int = 256,
    overlap: DataFrame | None = None,
) -> DataFrame:
    """The consumption step after eval_decontamination's report: the
    TRAIN corpus with every contamination carrier removed — a train
    doc is dropped when its k-gram overlap covers ≥ ``threshold`` of
    ANY eval doc's shingles (the standard pre-training removal pass;
    the report beside it is the audit trail, this is the corpus the
    job actually reads).

    Shares eval_decontamination's machinery and conventions exactly —
    same shingle grain, same ``max_train_doc_freq`` posting cap on
    pair generation (capped shingles can't convict on their own, the
    documented boilerplate trade-off), same overlap denominator (the
    EVAL doc's shingle count). A train doc with no eval overlap, or
    with no shingles at all, survives.

    Scale shape: identical to the report operator up to the per-pair
    overlap agg, then one distinct on the convicted train ids and a
    LEFT ANTI membership probe against the train corpus — the same
    semi-join shape as common_sentence_filter. Returns the surviving
    (doc_id, source) rows.
    """
    if overlap is None:
        overlap = eval_train_overlap(
            df, eval_sources=eval_sources, k=k, max_train_doc_freq=max_train_doc_freq
        )
    train_df = df.where(~F.col("source").isin(list(eval_sources)))
    convicted = (
        overlap.where(F.col("n_common") / F.col("n_shingles") >= F.lit(threshold))
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
    )
    return train_df.select("doc_id", "source").join(convicted, "doc_id", "left_anti")


def doc_length_cume_dist(df: DataFrame) -> DataFrame:
    """Within-source length position of every doc: cume_dist (fraction
    of the source's docs at or below this length) and percent_rank —
    the per-doc percentile features a length-aware selection policy
    consumes (e.g. "drop the shortest 5% per source" without a second
    scan), and the registry's coverage row for the cumulative-window
    function family (cume_dist / percent_rank).

    Ties share a value in both functions, so the output is engine-
    deterministic with no tie-break column. Scale shape: one exchange
    on source + an ordered window per source; like
    corpus_top_p_selection, the exact per-source scan is the oracle-
    checkable form — at extreme SF the same features come from a
    percentile-threshold broadcast instead. Returns (doc_id, source,
    n_chars, len_cume_dist, len_pct_rank), rounded to 6.
    """
    w = Window.partitionBy("source").orderBy("n_chars")
    return df.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.cume_dist().over(w), 6).alias("len_cume_dist"),
        F.round(F.percent_rank().over(w), 6).alias("len_pct_rank"),
    )


def char_script_profile(df: DataFrame) -> DataFrame:
    """Per-source character-class composition: the average per-doc
    fraction of ASCII letters, digits, whitespace, and everything else
    — the cheap script/encoding probe a multilingual ingest runs
    before language ID (a "en" source at 40% non-ASCII is mislabeled
    or mojibake; a 30% digit source is tables, not prose).

    Scale shape: four regexp_replace length counts in one codegen
    projection over the scan (zero exchanges), then a bounded
    per-source agg. Returns (source, n_docs, latin_frac, digit_frac,
    space_frac, other_frac), fractions rounded to 6; empty docs count
    toward n_docs with zero fractions.
    """
    n = F.length("text")
    latin = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    space = F.length(F.regexp_replace("text", r"[^\s]", ""))
    other = n - latin - digit - space

    def frac(c):
        return F.when(n > 0, c / n).otherwise(F.lit(0.0))

    per_doc = df.select(
        "source",
        frac(latin).alias("lf"),
        frac(digit).alias("df_"),
        frac(space).alias("sf"),
        frac(other).alias("of_"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("lf"), 6).alias("latin_frac"),
        F.round(F.avg("df_"), 6).alias("digit_frac"),
        F.round(F.avg("sf"), 6).alias("space_frac"),
        F.round(F.avg("of_"), 6).alias("other_frac"),
    )


def rake_keywords(df: DataFrame, k: int = 25) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) at corpus grain:
    candidate phrases are maximal stopword-free token runs within
    sentences; each word scores degree/frequency (degree = summed
    length of the phrases it appears in), a phrase scores the sum of
    its member-word scores, and the top-k distinct phrases surface
    with their occurrence counts — the classic unsupervised
    keyword-table a corpus exploration pass produces (stopword set =
    the shared QUALITY_STOPWORDS).

    Scale shape: sentences and tokens explode narrowly; the run-id
    (phrase boundary) cumsum is one window keyed on doc_id — the only
    corpus-sized exchange; word stats aggregate on the token, phrase
    assembly on the bounded (doc, sentence, run) key, and the final
    table on distinct phrase text with a TakeOrderedAndProject top-k.
    Ranking compares ROUND-6 scores (engine-portable), phrase asc on
    ties. Returns (phrase, n_occurrences, rake_score).
    """
    sents = F.expr(
        f"filter(transform(split(text, '{SENTENCE_SPLIT_RE}'), x -> trim(x)), x -> x != '')"
    )
    sent_rows = df.select("doc_id", F.posexplode(sents).alias("sent_idx", "sentence"))
    tok_rows = sent_rows.select(
        "doc_id",
        "sent_idx",
        F.posexplode(
            F.array_remove(F.split(F.lower(F.col("sentence")), LETTERS_ONLY_RE), "")
        ).alias("pos", "tok"),
    ).withColumn(
        "is_stop", F.col("tok").isin(*QUALITY_STOPWORDS).cast("long")
    )
    w = Window.partitionBy("doc_id", "sent_idx").orderBy("pos")
    runs = tok_rows.withColumn("run_id", F.sum("is_stop").over(w)).where(
        F.col("is_stop") == 0
    )
    phrases = runs.groupBy("doc_id", "sent_idx", "run_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
        ).alias("words")
    )
    members = phrases.select(
        "doc_id",
        "sent_idx",
        "run_id",
        F.array_join("words", " ").alias("phrase"),
        F.size("words").alias("plen"),
        F.explode("words").alias("tok"),
    )
    wstats = members.groupBy("tok").agg(
        (F.sum("plen") / F.count("*")).alias("wscore")
    )
    inst = (
        members.join(wstats, "tok")
        .groupBy("doc_id", "sent_idx", "run_id", "phrase")
        .agg(F.sum("wscore").alias("iscore"))
    )
    return (
        inst.groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.round(F.avg("iscore"), 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(k)
    )


BPE_MERGE_ROUNDS = 5


def bpe_learn_merges(df: DataFrame, n_merges: int = BPE_MERGE_ROUNDS) -> DataFrame:
    """An actual multi-round BPE trainer (Sennrich et al. 2016): learn
    the first ``n_merges`` merge rules over the word-frequency table —
    each round counts adjacent symbol pairs (word-frequency-weighted),
    merges the most frequent pair (ties → lexicographically smallest),
    and re-segments before the next round. bpe_merge_candidates is one
    round's COUNT TABLE; this is the training loop itself, the part a
    tokenizer pipeline persists as the merges file.

    Words are space-joined symbol strings; applying a merge is one
    string replace of ' a b ' → ' ab ' over the padded word — plain
    left-to-right non-overlapping replacement, which is exactly BPE's
    merge application order and identical in Spark and DuckDB (the
    oracle unrolls the same rounds).

    Scale shape: the corpus collapses ONCE into the distinct-word
    frequency table (the wordcount exchange — all rounds then operate
    per distinct word, not per token occurrence); each round is a
    bounded pair agg + a 1-row argmax broadcast + a narrow replace,
    with a localCheckpoint keeping the lineage flat (the iterative
    loop discipline of operators/graph.py). Returns (merge_rank, pair,
    n) — the learned merge table in order.
    """
    toks = F.explode(
        F.array_remove(F.split(F.lower(F.col("text")), LETTERS_ONLY_RE), "")
    ).alias("tok")
    words = (
        df.select(toks)
        .groupBy("tok")
        .agg(F.count("*").alias("wc"))
        .where(F.length("tok") >= 2)
        .select(
            # ' a b c ' — padded so every symbol boundary is ' x y '
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.col("tok"), ""), " "),
                F.lit(" "),
            ).alias("w"),
            "wc",
        )
        .localCheckpoint(eager=True)
    )
    _words_final, merges_df = _bpe_loop(words, n_merges)
    return merges_df


def _bpe_loop(words, n_merges, carry=()):
    """The shared BPE merge loop: ``words`` is (w, wc, *carry) with w a
    space-padded symbol string; runs ``n_merges`` rounds of pair agg →
    1-row argmax broadcast → narrow replace, carrying ``carry`` columns
    untouched (they never join the pair counting). Returns the final
    segmented words plus the learned (merge_rank, pair, n) table.
    """
    # CASE guard: a fully-merged word collapses to ONE symbol, and
    # sequence(1, 0) DESCENDS in Spark (the word_shingles trap) —
    # single-symbol words must contribute no pairs, not crash
    pair_expr = (
        "CASE WHEN size(split(trim(w), ' ')) >= 2 "
        "THEN transform(sequence(1, size(split(trim(w), ' ')) - 1), "
        "i -> concat(element_at(split(trim(w), ' '), i), ' ', "
        "element_at(split(trim(w), ' '), i + 1))) "
        "ELSE array() END"
    )
    merges_df = None
    for rank in range(1, n_merges + 1):
        best = (
            words.select(F.explode(F.expr(pair_expr)).alias("pair"), "wc")
            .groupBy("pair")
            .agg(F.sum("wc").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .select(F.lit(rank).cast("long").alias("merge_rank"), "pair", "n")
            .localCheckpoint(eager=True)
        )
        merges_df = best if merges_df is None else merges_df.unionByName(best)
        # the learned rule comes back as a 1-row broadcast — no driver
        # collect anywhere in the loop (the graph-loop discipline);
        # F.replace is plain left-to-right non-overlapping string
        # replacement, i.e. BPE's own merge-application order. The agg
        # guarantees EXACTLY one rule row even when the corpus runs out
        # of pairs before n_merges (best empty → NULL rule → no-op),
        # so the crossJoin can never annihilate the word table.
        rule = best.agg(
            F.max(F.concat(F.lit(" "), F.col("pair"), F.lit(" "))).alias("pat"),
            F.max(
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                )
            ).alias("rep"),
        )
        words = (
            words.crossJoin(F.broadcast(rule))
            .select(
                F.when(F.col("pat").isNull(), F.col("w"))
                .otherwise(F.replace("w", F.col("pat"), F.col("rep")))
                .alias("w"),
                "wc",
                *carry,
            )
            .localCheckpoint(eager=True)
        )
    return words, merges_df


def bpe_encode_stats(df: DataFrame, n_merges: int = BPE_MERGE_ROUNDS) -> DataFrame:
    """Apply the learned BPE merge table back to the corpus and report
    per-source encoding stats — the consumption half of the tokenizer
    pipeline (bpe_learn_merges trains; this measures fertility, the
    symbols-per-token rate a tokenizer's users actually pay).

    The loop runs on the DISTINCT-word table exactly as the trainer
    does (1-char tokens ride along — they contribute no pairs, so the
    learned merges are identical); per-(source, token) occurrence
    counts then join the bounded vocabulary on tok and collapse to one
    row per source. All sums are integer → bit-stable. Returns
    (source, n_tokens, n_symbols, n_chars, symbols_per_token,
    compression_ratio) with ratios rounded 6.
    """
    toks = F.explode(
        F.array_remove(F.split(F.lower(F.col("text")), LETTERS_ONLY_RE), "")
    ).alias("tok")
    occ = df.select("source", toks).groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("cnt")
    )
    words = (
        occ.groupBy("tok")
        .agg(F.sum("cnt").cast("long").alias("wc"))
        .select(
            F.concat(
                F.lit(" "), F.array_join(F.split(F.col("tok"), ""), " "), F.lit(" ")
            ).alias("w"),
            "wc",
            "tok",
        )
        .localCheckpoint(eager=True)
    )
    words_final, _ = _bpe_loop(words, n_merges, carry=("tok",))
    enc = words_final.select(
        "tok", F.size(F.split(F.trim(F.col("w")), " ")).cast("long").alias("n_sym")
    )
    return (
        occ.join(enc, "tok")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("long").alias("n_symbols"),
            F.sum(F.col("cnt") * F.length("tok")).cast("long").alias("n_chars"),
        )
        .select(
            "source",
            "n_tokens",
            "n_symbols",
            "n_chars",
            F.round(F.col("n_symbols") / F.col("n_tokens"), 6).alias("symbols_per_token"),
            F.round(F.col("n_symbols") / F.col("n_chars"), 6).alias("compression_ratio"),
        )
    )


def quality_dup_calibration(df: DataFrame, bin_width: float = 0.1) -> DataFrame:
    """Calibration curve linking the heuristic quality score to the
    exact-duplicate label: per fixed-width score bin, the document
    count and the fraction that are exact duplicates — the sanity
    check run before trusting a quality scorer to gate training data
    (a scorer that ranks boilerplate dups HIGH is miscalibrated).

    Fixed-width binning deliberately replaces deciles: no global
    window sort, just two hash aggs (dup-group sizes on the text hash,
    then the bin rollup) and one equi-join on the hash — every stage
    partitions by its key at any corpus size. avg_quality sums
    decimal(10,6) so the mean is bit-stable. Returns (bin_lo, n_docs,
    n_dup_docs, dup_frac, avg_quality).
    """
    h = F.md5(F.lower(F.trim(F.col("text")))).alias("h")
    scored = text_quality(df.select("doc_id", "text", h), keep_cols=("h",))
    sizes = scored.groupBy("h").agg(F.count("*").cast("long").alias("grp"))
    binned = (
        scored.join(sizes, "h")
        .select(
            (
                F.floor(F.col("quality_score") / F.lit(bin_width)).cast("long")
                * F.lit(bin_width)
            ).alias("bin_lo"),
            (F.col("grp") > 1).cast("long").alias("is_dup"),
            F.col("quality_score").cast("decimal(10,6)").alias("q"),
        )
        .groupBy("bin_lo")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
            F.sum("q").alias("qsum"),
        )
    )
    return binned.select(
        F.round("bin_lo", 6).alias("bin_lo"),
        "n_docs",
        "n_dup_docs",
        F.round(F.col("n_dup_docs") / F.col("n_docs"), 6).alias("dup_frac"),
        F.round((F.col("qsum") / F.col("n_docs")).cast("double"), 6).alias("avg_quality"),
    )


def ngram_diversity_by_source(df: DataFrame) -> DataFrame:
    """Per-source n-gram diversity: type-token ratios at the unigram
    and trigram grain — the lexical-diversity screen that separates
    template-stamped sources (low TTR) from genuinely varied ones, the
    corpus-level companion of the per-doc repetition_ratio.

    One narrow map builds tokens AND the in-array trigram list per doc
    (the word_shingles slice construction, short-doc guarded), then a
    single explode-per-grain feeds two hash aggs with distinct
    expansions, joined on the bounded source key. Returns (source,
    n_tokens, n_unique_tokens, ttr1, n_trigrams, n_unique_trigrams,
    ttr3), ratios rounded 6.
    """
    toks = df.select(
        "source",
        F.array_remove(F.split(F.lower(F.col("text")), LETTERS_ONLY_RE), "").alias("toks"),
    )
    tri_arr = F.expr(
        "CASE WHEN size(toks) >= 3 "
        "THEN transform(sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' ')) "
        "ELSE array() END"
    )
    uni = (
        toks.select("source", F.explode("toks").alias("tok"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.count_distinct("tok").cast("long").alias("n_unique_tokens"),
        )
    )
    tri = (
        toks.select("source", F.explode(tri_arr).alias("tri"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.count_distinct("tri").cast("long").alias("n_unique_trigrams"),
        )
    )
    return (
        uni.join(tri, "source", "left")
        .select(
            "source",
            "n_tokens",
            "n_unique_tokens",
            F.round(F.col("n_unique_tokens") / F.col("n_tokens"), 6).alias("ttr1"),
            F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("long").alias("n_trigrams"),
            F.coalesce(F.col("n_unique_trigrams"), F.lit(0)).cast("long").alias("n_unique_trigrams"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_trigrams"), F.lit(0)) > 0,
                    F.col("n_unique_trigrams") / F.col("n_trigrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ttr3"),
        )
    )


RRF_K = 60


def rrf_hybrid_ranking(
    df: DataFrame, k: int = 20, n_cand: int = 100, rrf_k: int = RRF_K
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    signals: the BM25 lexical ranking and the heuristic quality prior
    — the standard hybrid-search combiner (score-free, so calibration
    between signals never matters). rrf = Σ 1/(rrf_k + rank_i) over
    the bm25 top-``n_cand`` candidate pool.

    Scale shape: the candidate pool is a real TakeOrderedAndProject
    (bm25_top_docs), so both rank windows and the fusion sort run on
    ``n_cand`` rows — bounded single-partition work by construction,
    the same k-row trick bm25 itself uses. Returns (rank, doc_id,
    bm25_rank, quality_rank, rrf_score).
    """
    cand = bm25_top_docs(df, k=n_cand).select(
        F.col("rank").alias("bm25_rank"), "doc_id"
    )
    q = text_quality(df).select("doc_id", "quality_score")
    pool = cand.join(q, "doc_id")
    wq = Window.orderBy(F.desc("quality_score"), F.asc("doc_id"))
    fused = pool.withColumn("quality_rank", F.row_number().over(wq).cast("long")).select(
        "doc_id",
        "bm25_rank",
        "quality_rank",
        F.round(
            1.0 / (rrf_k + F.col("bm25_rank")) + 1.0 / (rrf_k + F.col("quality_rank")),
            6,
        ).alias("rrf_score"),
    )
    wr = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= k)
        .select("rank", "doc_id", "bm25_rank", "quality_rank", "rrf_score")
    )


def source_stopword_similarity(df: DataFrame) -> DataFrame:
    """Function-word fingerprint similarity between sources: each
    source's stopword-frequency profile (the 8 QUALITY_STOPWORDS —
    function words are topic-free, so profile distance reads as
    STYLE/origin difference, the classic authorship-attribution
    signal), compared pairwise by cosine.

    Sparse-cosine-via-inverted-index shape: profiles meet through an
    EQUALITY join on the stopword key (never a source×source×word
    cube), and the pair rollup is bounded by sources² — independent of
    corpus size. Source pairs with NO shared stopword have dot 0 and
    are omitted entirely (the sparse-dot convention). Frequencies
    round to 6dp decimals BEFORE the dot/norm sums, so every sum is
    exact and engine-independent. Returns (source_a, source_b,
    cosine_sim).
    """
    counts = (
        df.select(
            "source",
            F.explode(
                F.array_remove(F.split(F.lower(F.col("text")), LETTERS_ONLY_RE), "")
            ).alias("tok"),
        )
        .where(F.col("tok").isin(*QUALITY_STOPWORDS))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = counts.groupBy("source").agg(F.sum("n").cast("long").alias("n_tot"))
    freqs = counts.join(tot, "source").select(
        "source",
        "tok",
        F.round(F.col("n") / F.col("n_tot"), 6).cast("decimal(12,6)").alias("f"),
    )
    norms = freqs.groupBy("source").agg(
        F.sqrt(F.sum(F.col("f") * F.col("f")).cast("double")).alias("nrm")
    )
    a = freqs.select(F.col("source").alias("source_a"), "tok", F.col("f").alias("fa"))
    b = freqs.select(F.col("source").alias("source_b"), "tok", F.col("f").alias("fb"))
    dots = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("fa") * F.col("fb")).cast("double").alias("dot"))
    )
    return (
        dots.join(norms.select(F.col("source").alias("source_a"), F.col("nrm").alias("na")), "source_a")
        .join(norms.select(F.col("source").alias("source_b"), F.col("nrm").alias("nb")), "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine_sim"),
        )
    )


def bpe_roundtrip_audit(df: DataFrame, n_merges: int = BPE_MERGE_ROUNDS) -> DataFrame:
    """Tokenizer-QA closure for the BPE family: prove the learned
    segmentation is LOSSLESS (symbols re-concatenate to every original
    token) and report the symbol-vocabulary footprint — the audit a
    tokenizer release runs before the merges file ships (a lossy
    segmentation corrupts every downstream token count silently).

    Same distinct-word loop as the trainer/encoder; the audit itself
    is three narrow expressions over the final word table plus one
    distinct-count over exploded symbols (bounded by vocab × symbol
    count, not the corpus). Returns one row: (n_words, n_roundtrip_ok,
    n_single_symbol, n_vocab_symbols).
    """
    toks = F.explode(
        F.array_remove(F.split(F.lower(F.col("text")), LETTERS_ONLY_RE), "")
    ).alias("tok")
    words = (
        df.select(toks)
        .groupBy("tok")
        .agg(F.count("*").alias("wc"))
        .select(
            F.concat(
                F.lit(" "), F.array_join(F.split(F.col("tok"), ""), " "), F.lit(" ")
            ).alias("w"),
            "wc",
            "tok",
        )
        .localCheckpoint(eager=True)
    )
    final, _ = _bpe_loop(words, n_merges, carry=("tok",))
    audited = final.select(
        "tok",
        F.split(F.trim(F.col("w")), " ").alias("syms"),
    ).select(
        "tok",
        "syms",
        (F.array_join(F.col("syms"), "") == F.col("tok")).cast("long").alias("ok"),
        (F.size("syms") == 1).cast("long").alias("single"),
    )
    counts = audited.agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("ok").cast("long").alias("n_roundtrip_ok"),
        F.sum("single").cast("long").alias("n_single_symbol"),
    )
    vocab = audited.select(F.explode("syms").alias("s")).agg(
        F.count_distinct("s").cast("long").alias("n_vocab_symbols")
    )
    return counts.crossJoin(F.broadcast(vocab))


KWIC_TERM = "spark"


def kwic_snippets(df: DataFrame, term: str = KWIC_TERM, radius: int = 30, k: int = 20) -> DataFrame:
    """Keyword-in-context extraction: a ±``radius``-char snippet around
    the FIRST occurrence of ``term`` in each matching document — the
    concordance view every search/eval UI renders next to a hit (and
    the spot-check tool for corpus auditors chasing a contamination
    term through matched documents).

    Narrow end to end: a contains-filter (pushable), one instr + two
    substrings per surviving row, then a deterministic doc_id top-k
    (TakeOrderedAndProject). Returns (doc_id, pos, snippet), first
    ``k`` docs by id.
    """
    pos = F.instr(F.lower(F.col("text")), term.lower())
    start = F.greatest(F.lit(1), pos - radius)
    return (
        df.where(F.instr(F.lower(F.col("text")), term.lower()) > 0)
        .select(
            "doc_id",
            pos.cast("long").alias("pos"),
            F.substring(F.col("text"), start.cast("int"), radius * 2 + len(term)).alias(
                "snippet"
            ),
        )
        .orderBy("doc_id")
        .limit(k)
    )


TEMPLATE_OPEN_TOKENS = 2
TEMPLATE_MIN_DOCS = 3


def template_opening_report(
    df: DataFrame, n_tokens: int = TEMPLATE_OPEN_TOKENS, min_docs: int = TEMPLATE_MIN_DOCS
) -> DataFrame:
    """Boilerplate-opener detection: documents sharing the same first
    ``n_tokens`` words are template-stamped (form letters, scraped
    shells) — the cheap structural screen run BEFORE the expensive
    shingle dedup, because a shared opener prunes candidates at a
    fraction of the cost.

    One narrow prefix-key build (in-array slice, short-doc guarded) and
    one hash agg; the report keeps openers covering ≥ ``min_docs``.
    Returns (opening, n_docs, n_sources, min_doc_id).
    """
    toks = F.array_remove(F.split(F.lower(F.col("text")), LETTERS_ONLY_RE), "")
    opening = F.when(
        F.size(toks) >= n_tokens,
        F.array_join(F.slice(toks, 1, n_tokens), " "),
    )
    return (
        df.select("doc_id", "source", opening.alias("opening"))
        .where(F.col("opening").isNotNull())
        .groupBy("opening")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def source_bigram_cross_entropy(df: DataFrame) -> DataFrame:
    """Source-pair similarity via language-model cross-entropy: train
    an add-one-smoothed bigram LM per source, score every source's
    bigram stream under every LM, report avg negative log-likelihood
    per bigram — the "how surprising is corpus B to a model of corpus
    A" matrix a data-mixing pass uses to pick nearest-domain weights
    (same instrument as CCNet's perplexity buckets, but corpus-vs-
    corpus instead of doc-vs-reference). The diagonal is each source's
    self-entropy and must be the row minimum — a built-in sanity check.

    P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V) with V the source's unigram
    vocabulary; unseen contexts degrade to 1/V, so the log argument is
    never 0 in either engine.

    Scale shape: everything runs on the AGGREGATED bigram table (one
    hash agg from the token stream), the LM fan-out is a crossJoin
    against the broadcast ≤|sources|-row list (bounded NLJ, plan-audit
    whitelisted), and the three LM lookups are hash equi-joins on
    (source, w1[, w2]). Shuffle ∝ distinct bigrams × sources — never
    documents². Returns (lm_source, eval_source, n_bigrams,
    cross_entropy).
    """
    toks = _clean_tokens(F.lower(F.col("text")))
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        df.where(n >= 2)
        .select("source", F.explode(pairs).alias("p"))
        .select("source", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("source", "w1", "w2")
        .agg(F.count("*").cast("long").alias("n"))
    )
    ctx = bg.groupBy("source", "w1").agg(F.sum("n").alias("c1"))
    vocab = (
        df.select("source", F.explode(toks).alias("tok"))
        .groupBy("source")
        .agg(F.count_distinct("tok").alias("v"))
    )
    lms = df.select(F.col("source").alias("lm_source")).distinct()
    ev = bg.select(
        F.col("source").alias("eval_source"),
        F.col("w1").alias("ew1"),
        F.col("w2").alias("ew2"),
        F.col("n").alias("n_e"),
    )
    grid = ev.crossJoin(F.broadcast(lms))
    joined = (
        grid.join(
            bg,
            (bg["source"] == grid["lm_source"])
            & (bg["w1"] == grid["ew1"])
            & (bg["w2"] == grid["ew2"]),
            "left",
        )
        .drop("source", "w1", "w2")
        .join(
            ctx,
            (ctx["source"] == grid["lm_source"]) & (ctx["w1"] == grid["ew1"]),
            "left",
        )
        .drop("source", "w1")
        .join(vocab.withColumnRenamed("source", "vs"), F.col("vs") == grid["lm_source"])
    )
    logp = F.log(
        (F.coalesce(F.col("n"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
    )
    return (
        joined.groupBy("lm_source", "eval_source")
        .agg(
            F.sum("n_e").cast("long").alias("n_bigrams"),
            F.round(-F.sum(F.col("n_e") * logp) / F.sum("n_e"), 6).alias(
                "cross_entropy"
            ),
        )
    )


def trigram_novelty_curve(df: DataFrame, k: int = 3, n_buckets: int = 10) -> DataFrame:
    """Corpus novelty saturation: bucket documents into ``n_buckets``
    deciles by ingestion order (doc_id) and count how many k-shingles
    appear for the FIRST time in each decile — the "does the next 10%
    of data still contribute new content?" curve that decides when
    more of a source stops buying diversity (vocab_growth answers the
    per-source unigram version; this is the corpus-order n-gram one).

    Scale shape: distinct shingles per doc (zero-exchange in-array
    dedup), one hash agg taking min(doc_id) per shingle, a 1-row max
    broadcast for the bucket width, and a bounded n_buckets aggregate;
    the running total is a window over ≤ n_buckets rows. Returns
    (decile, n_new_shingles, cum_new_shingles, new_share) with
    new_share = decile's fraction of all distinct shingles, rounded 6.
    """
    from mapreduce_golang_spark.operators.dedup import word_shingles

    first = (
        word_shingles(df, k=k)
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bound = df.agg((F.max("doc_id") + 1).alias("n_docs"))
    per_bucket = (
        first.crossJoin(F.broadcast(bound))
        .select(
            F.least(
                F.lit(n_buckets - 1),
                F.floor(F.col("first_doc") * n_buckets / F.col("n_docs")),
            )
            .cast("long")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").cast("long").alias("n_new_shingles"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_bucket.select(
        "decile",
        "n_new_shingles",
        F.sum("n_new_shingles").over(w).cast("long").alias("cum_new_shingles"),
        F.round(F.col("n_new_shingles") / F.sum("n_new_shingles").over(total), 6).alias("new_share"),
    )


def duplicate_shingle_fraction(df: DataFrame, k: int = 3) -> DataFrame:
    """Span-level duplication rate per source: for each doc, the
    fraction of its DISTINCT k-word shingles that also occur in some
    OTHER document, averaged per source (plus the max and the count of
    docs that are >50% span-duplicated). Doc-level near-dup passes
    (MinHash, SimHash) miss partial copies — a doc that embeds one
    viral paragraph; this is the span-granular audit (the statistic
    behind substring-dedup decisions, in the spirit of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL 2022). Docs with zero shingles (< k tokens) are excluded.

    Scale shape: shingles come from the zero-exchange ``word_shingles``
    narrow map; corpus-wide doc-frequency is ONE hash agg on the
    shingle hash, joined back shingle-to-shingle (shuffle proportional
    to distinct shingle occurrences, never pairs); per-doc and
    per-source rollups are two more hash aggs on shrinking keys.
    """
    from mapreduce_golang_spark.operators.dedup import word_shingles

    sh = word_shingles(df, k=k).select("doc_id", F.md5("shingle").alias("h"))
    docfreq = sh.groupBy("h").agg(F.count("*").cast("long").alias("df"))
    per_doc = (
        sh.join(docfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sh"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_dup"),
        )
        .select(
            "doc_id",
            (F.col("n_dup") / F.col("n_sh")).alias("dup_frac"),
        )
    )
    src = df.select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("dup_frac"), 6).alias("mean_dup_frac"),
            F.round(F.max("dup_frac"), 6).alias("max_dup_frac"),
            F.sum((F.col("dup_frac") > 0.5).cast("long")).alias("n_mostly_dup"),
        )
        .orderBy("source")
    )


def truncation_loss_report(
    df: DataFrame, context_lens: tuple = (128, 512, 2048)
) -> DataFrame:
    """Token-budget truncation audit: for each candidate context
    length L, how many corpus tokens survive "truncate every doc to
    its first L tokens" — the curve a pretraining-data owner reads to
    pick sequence length (loss_frac at L=512 is the fraction of the
    corpus a 512-token pipeline silently discards). Tokens are the
    letters-only convention. Returns one row per L: (context_len,
    n_docs, n_truncated, total_tokens, kept_tokens, loss_frac).

    Scale shape: ONE narrow pass computes per-doc token counts
    (size of the split array — the text is never exploded), each doc
    emits |context_lens| tiny rows via an in-array explode, and the
    rollup is a hash agg on the bounded L key. No joins, no windows.
    """
    lens = F.array(*[F.lit(int(x)) for x in context_lens])
    per_doc = df.select(
        F.size(_clean_tokens(F.col("text"))).cast("long").alias("n_tok")
    ).select("n_tok", F.explode(lens).alias("context_len"))
    kept = F.least(F.col("n_tok"), F.col("context_len").cast("long"))
    return (
        per_doc.groupBy("context_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("n_tok") > F.col("context_len")).cast("long")).alias(
                "n_truncated"
            ),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(kept).cast("long").alias("kept_tokens"),
        )
        .select(
            "context_len",
            "n_docs",
            "n_truncated",
            "total_tokens",
            "kept_tokens",
            F.round(
                F.when(
                    F.col("total_tokens") > 0,
                    1.0 - F.col("kept_tokens") / F.col("total_tokens").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("loss_frac"),
        )
        .orderBy("context_len")
    )


def token_fertility_by_source(df: DataFrame) -> DataFrame:
    """Tokenizer fertility profile per source: characters and UTF-8
    bytes per letters-only token — the compression-rate lens used to
    compare corpus slices before tokenizer training (byte-heavy
    sources inflate sequence length; a bytes/token outlier usually
    means markup or non-Latin script). Returns (source, n_docs,
    total_tokens, total_chars, total_bytes, chars_per_token,
    bytes_per_token, tokens_per_doc).

    Scale shape: single narrow projection (array size + two length
    functions, no explode) followed by one hash agg on source.
    """
    per_doc = df.select(
        "source",
        F.size(_clean_tokens(F.col("text"))).cast("long").alias("n_tok"),
        F.length("text").cast("long").alias("n_chars"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_bytes").alias("total_bytes"),
    )
    tok = F.col("total_tokens").cast("double")
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        "total_chars",
        "total_bytes",
        F.round(
            F.when(tok > 0, F.col("total_chars") / tok).otherwise(F.lit(0.0)), 6
        ).alias("chars_per_token"),
        F.round(
            F.when(tok > 0, F.col("total_bytes") / tok).otherwise(F.lit(0.0)), 6
        ).alias("bytes_per_token"),
        F.round(F.col("total_tokens") / F.col("n_docs").cast("double"), 6).alias(
            "tokens_per_doc"
        ),
    ).orderBy("source")


def heaps_law_fit(df: DataFrame) -> DataFrame:
    """Heaps'-law fit per source: regress ln(cumulative distinct
    vocabulary) on ln(cumulative tokens) over the doc-by-doc growth
    curve — V(n) ≈ K·n^β — returning β (sub-linear vocabulary growth
    exponent), ln K, R², and the curve length. β near 1 means the
    source keeps minting new tokens (noisy/ID-heavy text); typical
    natural language sits at β ≈ 0.4–0.6 — a tokenizer-budget and
    corpus-health diagnostic for LLM data prep.

    Scale shape: tokens collapse to per-doc counts and to per-word
    first-seen docs (two hash aggs, shuffle ∝ tokens then vocab); the
    growth curve is a per-source cumulative window over doc_id — the
    documented per-source sequential form (rows ∝ docs/source; at
    100 TB, pre-bucket the curve like trigram_novelty_curve's deciles
    — β is a fit over the curve, so bucketed points change nothing
    structurally). The OLS itself is the closed-form one-agg pattern
    of value_hour_regression. Docs with zero letter-tokens never enter
    the curve (they add no tokens and no types).
    Returns (source, n_points, beta, ln_k, r2).
    """
    words = df.select(
        "source", "doc_id", F.explode(_clean_tokens(F.lower(F.col("text")))).alias("word")
    )
    per_doc = words.groupBy("source", "doc_id").agg(
        F.count("*").cast("long").alias("toks")
    )
    new_types = (
        words.groupBy("source", "word")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("source", "doc_id")
        .agg(F.count("*").cast("long").alias("news"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    curve = (
        per_doc.join(new_types, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            F.sum("toks").over(w).alias("cum_toks"),
            F.sum(F.coalesce("news", F.lit(0))).over(w).alias("cum_types"),
        )
        .where((F.col("cum_toks") > 0) & (F.col("cum_types") > 0))
        .select(
            "source",
            F.log(F.col("cum_toks").cast("double")).alias("x"),
            F.log(F.col("cum_types").cast("double")).alias("y"),
        )
    )
    s = curve.groupBy("source").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_points").cast("double")
    dx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    beta = cov / dx
    # 1e-9 threshold, NOT > 0: a degenerate source (constant vocabulary
    # -> var(y) exactly 0 in exact arithmetic) leaves dx/dy as pure fp
    # noise (~1e-12) whose sign differs across engines; genuine variance
    # floors around 1e-7 (one new type at a 60k vocabulary, 25 points),
    # so the cut is unambiguous on both sides of the oracle.
    return s.where((dx > 1e-9) & (dy > 1e-9)).select(
        "source",
        "n_points",
        (F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        (F.round((F.col("sy") - beta * F.col("sx")) / n, 6) + F.lit(0.0)).alias("ln_k"),
        F.round((cov * cov) / (dx * dy), 6).alias("r2"),
    )


def decile_shingle_drift(df: DataFrame, k: int = 3, n_buckets: int = 10) -> DataFrame:
    """Content drift between CONSECUTIVE ingestion deciles: Jaccard and
    two-way containment between each decile's distinct k-shingle
    inventory and the next one's — "is the corpus still the same kind
    of text at the end as at the start?" (trigram_novelty_curve answers
    the first-seen question; this is the adjacent-slice overlap form,
    the standard data-mixing drift diagnostic).

    Scale shape: distinct shingles per doc are an in-array dedup (zero
    exchange), the per-(decile, shingle) DISTINCT is one hash agg
    bounded by n_buckets × vocabulary, the 1-row max-doc broadcast
    sets the bucket width, and the adjacent-decile overlap is an
    equi-join ON SHINGLE between bounded inventories followed by a
    ≤ n_buckets−1-row aggregate. Nothing here is ever pairs-of-docs.
    Returns (decile_from, decile_to, n_from, n_to, n_common, jaccard,
    containment_fwd, containment_bwd), floats rounded 6.
    """
    from mapreduce_golang_spark.operators.dedup import word_shingles

    bound = df.agg((F.max("doc_id") + 1).alias("n_docs"))
    inv = (
        word_shingles(df, k=k)
        .crossJoin(F.broadcast(bound))
        .select(
            F.least(
                F.lit(n_buckets - 1),
                F.floor(F.col("doc_id") * n_buckets / F.col("n_docs")),
            )
            .cast("long")
            .alias("decile"),
            "shingle",
        )
        .distinct()
    )
    # one lead-window over the ≤ n_buckets-row size table instead of a
    # shifted self-join: halves the plan-tree duplication of inv (each
    # duplicate re-instantiates the 1-row bucket-width broadcast)
    sizes = (
        inv.groupBy("decile")
        .agg(F.count("*").cast("long").alias("n_sh"))
        .select(
            F.col("decile").alias("decile_from"),
            F.col("n_sh").alias("n_from"),
            F.lead("n_sh").over(Window.orderBy("decile")).alias("n_to"),
        )
        .where(F.col("n_to").isNotNull())
    )
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("b.decile") == F.col("a.decile") + 1),
        )
        .groupBy(F.col("a.decile").alias("decile_from"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    joined = (
        sizes.join(common, "decile_from", "left")
        .select(
            "decile_from",
            (F.col("decile_from") + 1).alias("decile_to"),
            "n_from",
            "n_to",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        )
    )
    return joined.select(
        "decile_from",
        "decile_to",
        "n_from",
        "n_to",
        "n_common",
        F.round(
            F.col("n_common") / (F.col("n_from") + F.col("n_to") - F.col("n_common")), 6
        ).alias("jaccard"),
        F.round(F.col("n_common") / F.col("n_from"), 6).alias("containment_fwd"),
        F.round(F.col("n_common") / F.col("n_to"), 6).alias("containment_bwd"),
    )


def mutual_information_source_lang(df: DataFrame) -> DataFrame:
    """Mutual information (and the sqrt-normalized NMI) between the
    corpus `source` and `lang` columns — "how much does knowing the
    crawl source tell you about language?", the composition-coupling
    readout a data-mixing pipeline uses to decide whether per-source
    language targets are even independently tunable.

    Scale shape: ONE hash agg on (source, lang) bounds everything —
    joint cells ≤ sources×langs; marginals and the three entropy
    folds ride that tiny table via broadcast joins. Output is a
    single row.

    Returns (n_docs, n_sources, n_langs, h_source, h_lang, mi_nats,
    nmi) — entropies in nats, NMI = MI/sqrt(Hs·Hl) (0.0 when either
    marginal is degenerate).
    """
    joint = df.groupBy("source", "lang").agg(F.count("*").cast("double").alias("nij"))
    src_m = joint.groupBy("source").agg(F.sum("nij").alias("ni"))
    lang_m = joint.groupBy("lang").agg(F.sum("nij").alias("nj"))
    tot = joint.agg(F.sum("nij").alias("n"))
    terms = (
        joint.join(F.broadcast(src_m), "source")
        .join(F.broadcast(lang_m), "lang")
        .crossJoin(F.broadcast(tot))
    )
    folded = terms.agg(
        F.first("n").alias("n_d"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(
            (F.col("nij") / F.col("n"))
            * F.log(F.col("nij") * F.col("n") / (F.col("ni") * F.col("nj")))
        ).alias("mi_raw"),
        # marginal entropies folded over the SAME joint table: group
        # each cell's mass under its marginal via sum(nij/n * ln(n/ni))
        F.sum((F.col("nij") / F.col("n")) * F.log(F.col("n") / F.col("ni"))).alias(
            "hs_raw"
        ),
        F.sum((F.col("nij") / F.col("n")) * F.log(F.col("n") / F.col("nj"))).alias(
            "hl_raw"
        ),
    )
    return folded.select(
        F.col("n_d").cast("long").alias("n_docs"),
        "n_sources",
        "n_langs",
        (F.round("hs_raw", 6) + F.lit(0.0)).alias("h_source"),
        (F.round("hl_raw", 6) + F.lit(0.0)).alias("h_lang"),
        (F.round("mi_raw", 6) + F.lit(0.0)).alias("mi_nats"),
        (
            F.round(
                F.when(
                    (F.col("hs_raw") > 1e-12) & (F.col("hl_raw") > 1e-12),
                    F.col("mi_raw") / F.sqrt(F.col("hs_raw") * F.col("hl_raw")),
                ).otherwise(F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("nmi"),
    )


def cohens_kappa_langid(df: DataFrame) -> DataFrame:
    """Cohen's kappa between two independent deterministic English
    detectors — rater A flags a letters-tokenized ' the ' stopword
    hit, rater B flags an ASCII-letter character profile ≥ 95% — the
    inter-annotator-agreement statistic an LLM-data pipeline runs to
    calibrate cheap heuristic labelers against each other before
    trusting either as a filter.

    Scale shape: both raters are narrow per-row projections (regex +
    length arithmetic, zero exchange); the kappa fold is ONE hash agg
    to a 2×2 table carried in four conditional sums — no joins at
    all. Output is a single row.

    Returns (n, p_a, p_b, po, pe, kappa); kappa is 0.0 when pe = 1
    (both raters constant).
    """
    letters = F.regexp_replace(F.lower(F.col("text")), r"[^a-z]+", " ")
    rater_a = F.instr(F.concat(F.lit(" "), letters, F.lit(" ")), " the ") > 0
    alpha_n = F.length(F.regexp_replace(F.lower(F.col("text")), r"[^a-z ]", ""))
    # integer form of alpha_n/len ≥ 0.95 — a double 0.95·len sits a
    # few ulps ABOVE the exact product at multiples of 20, so the two
    # engines would disagree on exact-boundary rows
    rater_b = alpha_n * 20 >= F.length("text") * 19
    flagged = df.select(
        rater_a.cast("double").alias("a"), rater_b.cast("double").alias("b")
    )
    folded = flagged.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
        F.sum(F.col("a") * F.col("b")).alias("n_both"),
    )
    po = (F.col("n_both") + (F.col("n") - F.col("na") - F.col("nb") + F.col("n_both"))) / F.col("n")
    pe = (F.col("na") / F.col("n")) * (F.col("nb") / F.col("n")) + (
        1 - F.col("na") / F.col("n")
    ) * (1 - F.col("nb") / F.col("n"))
    return folded.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("na") / F.col("n"), 6).alias("p_a"),
        F.round(F.col("nb") / F.col("n"), 6).alias("p_b"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        (
            F.round(
                F.when(pe < 1.0 - 1e-12, (po - pe) / (1.0 - pe)).otherwise(F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("kappa"),
    )


def flesch_reading_ease_by_source(df: DataFrame) -> DataFrame:
    """Flesch reading-ease per source — the classic readability
    filter signal (quality pipelines drop both extremes: unreadable
    boilerplate and telegraphic fragment soup), computed with the
    standard corpus-level proxies: sentences = [.!?]+ runs, words =
    letters-only tokens, syllables = [aeiouy]+ vowel runs.

    Scale shape: all three counts are narrow per-row regexp_count
    projections (no explode — the text column is never tokenized into
    rows); ONE hash agg on source folds the corpus totals; the score
    is arithmetic on the sources-bounded result. Degenerate docs are
    guarded per row (max(1, sentences); zero-word docs contribute
    nothing).

    Returns (source, n_docs, words_per_sentence, syllables_per_word,
    flesch) rounded 6, ordered by source.
    """
    low = F.lower(F.col("text"))
    words = F.regexp_count(low, F.lit(r"[a-z]+"))
    sentences = F.greatest(F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+")))
    syllables = F.regexp_count(low, F.lit(r"[aeiouy]+"))
    per_doc = df.select(
        "source",
        words.cast("double").alias("w"),
        sentences.cast("double").alias("s"),
        syllables.cast("double").alias("y"),
    ).where(F.col("w") > 0)
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").alias("tw"),
        F.sum("s").alias("ts"),
        F.sum("y").alias("ty"),
    )
    wps = F.col("tw") / F.col("ts")
    spw = F.col("ty") / F.col("tw")
    return agg.select(
        "source",
        "n_docs",
        F.round(wps, 6).alias("words_per_sentence"),
        F.round(spw, 6).alias("syllables_per_word"),
        (F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 6) + F.lit(0.0)).alias(
            "flesch"
        ),
    ).orderBy("source")


def tfidf_cosine_pairs(
    df: DataFrame, threshold: float = 0.3, max_doc_freq: int = 256
) -> DataFrame:
    """Document pairs whose TF-IDF vectors exceed a cosine threshold —
    embedding-free text similarity over an inverted-index join, the
    sparse-vector twin of embedding_cosine_pairs (which needs a model)
    and ngram_jaccard_pairs (which ignores term weighting).

    Conventions shared with tfidf_top_terms: letters-only tokens (no
    lowercasing) and the RATIONAL idf ``n_docs / doc_freq`` — the
    ranking is identical to the log form for a fixed corpus and every
    score stays a ratio of exact-input products (``ln`` is not
    correctly-rounded across libm implementations).

    Scale shape: the pair join runs on postings capped at
    ``max_doc_freq`` docs per term (the hot-shingle discipline of
    ngram_jaccard_pairs: common terms carry near-zero idf anyway, so
    the cap removes exactly the postings that explode quadratically
    while moving scores the least — vectors live in the ≤cap-df term
    subspace, documented semantics, identical in the oracle). Norms
    are computed over the SAME capped vectors, so cosine stays a true
    cosine in that subspace.

    Returns (doc_a, doc_b, n_common_terms, cosine) at cosine ≥
    threshold, ordered.
    """
    words = df.select("doc_id", F.explode(_clean_tokens(F.col("text"))).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").cast("double").alias("tf"))
    docfreq = tf.groupBy("word").agg(F.count("*").cast("double").alias("df_w"))
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    # checkpointed: the capped posting table is consumed FOUR times in
    # the plan tree (both pair sides + both norm joins) — without the
    # lineage cut each consumer re-runs the tokenize→tf→df pipeline
    # from the raw scan (same discipline as the shared near-dup pair
    # graph and the distance-matrix grid)
    postings = (
        tf.join(docfreq.where(F.col("df_w") <= max_doc_freq), "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word",
            "doc_id",
            (F.col("tf") * F.col("n_docs") / F.col("df_w")).alias("w"),
        )
        .localCheckpoint()
    )
    norms = postings.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a, b = postings.alias("a"), postings.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").cast("long").alias("n_common_terms"),
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
        )
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common_terms",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .orderBy("doc_a", "doc_b")
    )
