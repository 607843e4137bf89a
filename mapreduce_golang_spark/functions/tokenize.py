"""Go-faithful letters-only tokenizer + shared text helpers.

The reference tokenizes by splitting on any run of non-letter runes —
``strings.FieldsFunc(contents, func(r rune) bool { return
!unicode.IsLetter(r) })`` (/root/reference/src/mrapps/wc.go:21-27):
letters-only, case-SENSITIVE, no Unicode folding. Java regex class
``\\p{L}`` is the same predicate as Go's ``unicode.IsLetter``, so the
Spark expression below is a faithful re-expression, and it stays
JVM-side inside whole-stage codegen (no Python UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: split pattern — any run of non-letter characters.
LETTERS_ONLY_RE = r"[^\p{L}]+"


def words(text_col: Column | str) -> Column:
    """Array of letters-only tokens of ``text_col`` (may contain '')."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(col, LETTERS_ONLY_RE)


def letter_tokens(col: Column) -> Column:
    """Array of the non-empty letters-only tokens of ``col``, case kept;
    callers that want lower case pass ``F.lower(...)``."""
    return F.array_remove(F.split(col, LETTERS_ONLY_RE), "")


def tokenize(df: DataFrame, text_col: str = "text", out: str = "word", keep: tuple[str, ...] = ()) -> DataFrame:
    """One row per token: explode(split) + drop the empty token that a
    leading/trailing separator produces. 1→N row explosion is the Spark
    form of the reference's Map UDTF (/root/reference/src/mr/worker.go:70).
    """
    exploded = df.select(*keep, F.explode(words(text_col)).alias(out))
    return exploded.where(F.col(out) != "")


def widen_for_cpu(df: DataFrame, key_col: str = "text") -> DataFrame:
    """Widen-ONLY repartition in front of regex/lexicon-heavy per-doc
    map work: if the input has fewer partitions than the session's
    defaultParallelism, hash-repartition on ``key_col`` so the CPU
    work spreads over every core.

    Why it exists: a small documents table arrives as ONE parquet
    split (128 MB maxPartitionBytes swallows the whole file), so every
    downstream tokenize/shingle/lexicon-filter expression — the
    genuinely CPU-bound part of the text family — ran serially on one
    core of local[32] (measured: corpus_funnel_report 4.7 → 3.7 s
    min-of-4 at sf0.1 from this change alone). At 100 TB the scan
    already has orders of magnitude more splits than cores, the gate
    is false, and this is a metadata no-op — it can never ADD a
    shuffle at scale, only at fixture scale where the exchange is a
    few hundred KB.

    Hash-partitioning (not round-robin) keeps the row→partition map a
    pure function of the data, so repeated runs and task retries see
    identical partitions. The default key is the text payload itself:
    near-unique, skew-free, and present in every caller; id-like
    columns are NOT used because two callers key by low-cardinality
    ``source``, which would hash 5 000 docs into ≤ n_sources
    partitions.

    Deliberately NOT applied to graph-loop inputs: widening the tiny
    labels/edges tables multiplies per-round scheduler overhead
    (measured: dup_cluster_size_hist 3.1 → 3.5 s when the whole
    documents load was widened instead of just the shingle build).

    Gate limits (round-13 advice): ``df.rdd.getNumPartitions()`` is a
    PLANNING-TIME, pre-AQE width — downstream of a shuffle it reads
    ``spark.sql.shuffle.partitions`` (usually ≥ defaultParallelism),
    not the AQE-coalesced runtime width, so on post-shuffle inputs the
    gate can be a false no-op; each call also forces physical planning
    of the plan prefix. The gate is therefore only meaningful applied
    DIRECTLY to scan-side inputs (all 6 in-repo call sites are), and
    because a widen reorders rows across partitions, callers must be
    partitioning-invariant (round-sensitive aggregates must sum in
    exact decimal space before any double cast — the widened queries
    all do).
    """
    if df.isStreaming:  # .rdd is illegal on a streaming plan; micro-
        return df       # batch width is the source's concern anyway
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, F.col(key_col))
    return df


def doc_name(source_col: str = "source", doc_id_col: str = "doc_id") -> Column:
    """The 'filename' of a documents-table row — plays the role the input
    file name plays in the reference (one file == one document,
    /root/reference/src/mr/worker.go:60-70). Contains no spaces, per the
    reference's space-delimited "k v" line constraint
    (/root/reference/src/mr/worker.go:82,112).
    """
    return F.concat_ws("/", F.col(source_col), F.col(doc_id_col).cast("string"))
