"""Deduplication operator pack (extension surface, SURVEY.md §2.4) —
the core LLM-training-data pipeline stage: exact dedup, n-gram
Jaccard, MinHash+LSH banding, SimHash, and embedding-cosine near-dup.

All hash functions are md5-based string math so the DuckDB oracles
compute bit-identical values — no engine-specific hash() anywhere.

Scale design (100 TB):
- exact_dedup: one hash-aggregate; partial agg collapses duplicates
  map-side. The cheapest pass — always run it first.
- ngram_jaccard_pairs: inverted-index join on shingles. The blow-up
  risk is hot shingles (boilerplate); ``max_doc_freq`` drops shingles
  appearing in more than N docs before the join — the standard
  stopword-shingle guard. Quadratic only within a shingle's posting
  list, never globally.
- minhash_lsh_pairs: the scale path — candidates come from equality
  joins on (band, band_signature); only candidates get exact-Jaccard
  verification. Shuffle volume ∝ docs × n_hashes, not docs².
- simhash: 16-bit signatures via per-(doc,bit) aggregation; near-dup
  candidates from 4-bit band equality (pigeonhole-lossless for
  hamming ≤ 3), then exact hamming verify.
- embedding_cosine_pairs: brute-force is O(n²) BY DESIGN here as the
  correctness baseline over the bounded `embeddings` fixture; the
  scale path is operators/similarity.py (bucketed ANN).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_golang_spark.functions.tokenize import LETTERS_ONLY_RE, widen_for_cpu


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: (norm_hash, keep_doc_id, n_copies).

    Keep-policy: smallest id survives (deterministic). Normalization:
    lower + trim — extend in one place if the corpus needs more.
    """
    return (
        df.groupBy(F.md5(F.lower(F.trim(F.col(text_col)))).alias("norm_hash"))
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def word_shingles(df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct k-word shingles per doc: (doc_id, shingle).

    A pure narrow map END TO END: the shingle array is sliced out of
    the token array inside one codegen stage (no explode→window sort),
    and the per-doc dedup happens IN-ARRAY (``array_distinct``) before
    the explode — rows leave this operator already distinct, so there
    is ZERO exchange here at any corpus size (an earlier formulation
    paid a full shuffle for ``.distinct()`` after the explode; callers'
    joins repartition the stream anyway). The regex split is the
    CPU-bound step, so a too-narrow input (one parquet split at
    fixture scale) is widened first — a no-op whenever the scan is
    already at least core-wide (``widen_for_cpu``).
    """
    df = widen_for_cpu(df, key_col=text_col)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_remove(F.split(F.col(text_col), LETTERS_ONLY_RE), "").alias("toks"),
    )
    # guard: sequence(1, n) with n < 1 would generate a DESCENDING
    # sequence, not an empty one — short docs must yield array()
    shingle_arr = F.expr(
        f"CASE WHEN size(toks) >= {k} "
        f"THEN array_distinct(transform(sequence(1, size(toks) - {k - 1}), "
        f"     i -> array_join(slice(toks, i, {k}), ' '))) "
        f"ELSE array() END"
    )
    return toks.select("doc_id", F.explode(shingle_arr).alias("shingle"))


def _jaccard_for_pairs(
    cand: DataFrame, shingles: DataFrame, sets_: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard for given candidate (doc_a, doc_b) pairs only.

    Shingle sets are collapsed to one array per doc first, so the
    verify is two equi-joins carrying one array column each plus a
    JVM array_intersect — no row explosion proportional to shingle
    count × candidates. Assumes per-doc shingle sets fit in a row
    (same bound the reference's whole-file model already imposes).

    ``sets_`` lets a caller that ALREADY built the per-doc set table
    (doc_id, sh_set) pass it in instead of re-aggregating the shingle
    stream — array_intersect/size are order-insensitive, so any
    collect_list ordering is equivalent (minhash_ml_crosscheck shares
    one materialized set table between this verify and HashingTF).
    """
    if sets_ is None:
        sets_ = shingles.groupBy("doc_id").agg(F.collect_list("shingle").alias("sh_set"))
    common = (
        cand.join(
            sets_.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")), "doc_a"
        )
        .join(sets_.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_common"),
            F.size("set_a").alias("n_a"),
            F.size("set_b").alias("n_b"),
        )
    )
    return common.select(
        "doc_a",
        "doc_b",
        (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard_raw"),
    )


#: default posting-list cap — shingles appearing in more docs than this
#: are boilerplate (license headers, templates) and are dropped from
#: CANDIDATE GENERATION only. The standard stopword-shingle guard: the
#: co-occurrence join is quadratic per posting list, so an uncapped hot
#: shingle shared by 1M docs is a 10^12-row join at corpus scale.
DEFAULT_MAX_DOC_FREQ = 256


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by k-word-shingle Jaccard ≥ threshold.

    Candidates come from the shingle inverted index (docs sharing ≥1
    shingle); ``max_doc_freq`` (ON by default) caps posting-list length
    to bound the join blow-up on boilerplate shingles at scale. The cap
    affects CANDIDATES only: Jaccard is always verified over each doc's
    FULL shingle set (same split as minhash_lsh_pairs), so reported
    similarity is never underestimated — a pair is only ever missed if
    it shares exclusively boilerplate shingles, which is the guard's
    documented semantics. ``max_doc_freq=None`` disables the guard and
    computes the exact all-pairs answer.
    """
    shingles = word_shingles(df, k=k, text_col=text_col, id_col=id_col)
    if max_doc_freq is None:
        # exact path: one co-occurrence join, aggregated straight to
        # common counts — no separate candidate-distinct + re-join pass
        # (halves the work when every posting list is fair game)
        a = shingles.alias("a")
        b = shingles.alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_common"))
        )
        sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        j = (
            common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard_raw"),
            )
        )
    else:
        # lossless prune: J is increasing in n_common, so applying the
        # SAME threshold to the n_common upper bound never drops a pair
        # the exact filter below would keep (see _guarded_pair_stats)
        stats = _guarded_pair_stats(
            shingles,
            max_doc_freq,
            keep_ub=lambda ub, n_a, n_b: ub / (n_a + n_b - ub) >= threshold,
        )
        j = stats.select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard_raw"),
        )
    return j.where(F.col("jaccard_raw") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


def _guarded_pair_stats(
    shingles: DataFrame,
    max_doc_freq: int,
    keep_ub=None,
) -> DataFrame:
    """Shared candidate+overlap machinery of the guarded near-dup
    operators: candidates from the capped (COLD) inverted index, exact
    intersection over the FULL shingle sets via
      n_common = cold_common + hot_common
    cold_common aggregates straight out of capped posting arrays
    (counts, no per-pair set shipping); hot_common intersects per-doc
    arrays of HOT shingles only — hot shingles are few by definition
    (the cap marks boilerplate), so those arrays stay small even on
    boilerplate-heavy corpora.

    BOUNDED-ROW INVARIANT: posting ARRAYS are built ONLY for shingles
    already known to have ≤ max_doc_freq docs (doc-freq computed
    first, counts only) — a hot shingle shared by 100M docs must never
    become one 100M-element aggregation buffer. Every collected array
    here is ≤ max_doc_freq (cold postings) or ≤ the doc's own
    hot-shingle count (per-doc hot sets). The shingle stream is
    checkpointed once; doc-freq, cold postings, per-doc hot sets, and
    doc stats all read the materialized stream instead of re-deriving
    it.

    UPPER-BOUND PRUNE (round-11 verdict #4's real lever — at sf0.1 the
    candidate table is ~1.1M pairs of which ~256 survive Jaccard ≥
    0.5, and shipping 1.1M rows through four joins dominated every
    pair-graph consumer's cold wall): per-doc stats (n_sh, n_hot) ride
    INSIDE the posting structs, so the pair aggregation emits
    (doc_a, doc_b, n_cold, n_a, n_b, hot-set sizes) in one pass with
    ZERO row-multiplying joins, and ``keep_ub`` — the caller's
    similarity predicate applied to the EXACT upper bound
      n_common ≤ n_cold + min(|hot_a|, |hot_b|)
    — drops non-survivors before the hot-set verification joins ever
    see them. Lossless for any normalizer monotone increasing in
    n_common (Jaccard, containment): normalizer(n_common) ≥ t implies
    normalizer(ub) ≥ t, so a pruned pair could never have passed the
    caller's final filter. With keep_ub=None every candidate is kept
    (the pre-prune behavior).

    Returns (doc_a, doc_b, n_common, n_a, n_b) for every candidate
    pair (doc_a < doc_b sharing ≥ 1 cold shingle) surviving the prune;
    callers apply their own similarity normalizer (Jaccard, overlap
    coefficient, ...) as the exact final filter.
    """
    shingles = shingles.localCheckpoint(eager=False)
    freq = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .localCheckpoint(eager=False)  # read by cold AND hot branches
    )
    # per-doc (n_sh, n_hot): total shingles and how many are hot — the
    # pair of scalars the upper bound needs, carried into the postings
    doc_stats = (
        shingles.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum((F.col("df_") > max_doc_freq).cast("long")).alias("n_hot_sh"),
        )
    )
    cold_post = (
        shingles.join(freq.where(F.col("df_") <= max_doc_freq).select("shingle"), "shingle")
        .join(doc_stats, "doc_id")
        .groupBy("shingle")
        .agg(
            # struct sort order = field order, doc_id first → same
            # doc_id-ascending postings as the plain-id formulation
            F.array_sort(
                F.collect_list(F.struct("doc_id", "n_sh", "n_hot_sh"))
            ).alias("docs")
        )
    )
    pair_expr = F.expr(
        "flatten(transform(docs, (x, i) -> "
        "  transform(slice(docs, i + 2, size(docs) - i - 1), "
        "            y -> named_struct('a', x, 'b', y))))"
    )
    exploded = cold_post.select(F.explode(pair_expr).alias("p"))
    if keep_ub is not None:
        # map-side pre-shuffle cut with the SAME caller predicate at
        # the coarser bound n_common ≤ min(n_a, n_b): size-incompatible
        # pairs (e.g. Jaccard ≥ 0.5 needs |A|/|B| ∈ [½, 2]) never enter
        # the pair shuffle at all — lossless for the same monotonicity
        # reason as the post-agg prune below
        exploded = exploded.where(
            keep_ub(
                F.least("p.a.n_sh", "p.b.n_sh"),
                F.col("p.a.n_sh"),
                F.col("p.b.n_sh"),
            )
        )
    # stats are functionally dependent on the doc ids — grouping by
    # all six keeps one hash-agg pass and no first()/join re-lookup
    cold_common = (
        exploded
        .groupBy(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.n_sh").alias("n_a"),
            F.col("p.b.n_sh").alias("n_b"),
            F.col("p.a.n_hot_sh").alias("n_hot_a"),
            F.col("p.b.n_hot_sh").alias("n_hot_b"),
        )
        .agg(F.count("*").alias("n_cold"))
    )
    if keep_ub is not None:
        ub = F.col("n_cold") + F.least("n_hot_a", "n_hot_b")
        cold_common = cold_common.where(keep_ub(ub, F.col("n_a"), F.col("n_b")))
    hot_sets = (
        shingles.join(freq.where(F.col("df_") > max_doc_freq).select("shingle"), "shingle")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("hot_set"))
    )
    return (
        cold_common.join(
            hot_sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hot_set", "hot_a"),
            "doc_a",
            "left",
        )
        .join(
            hot_sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hot_set", "hot_b"),
            "doc_b",
            "left",
        )
        .withColumn(
            "n_hot",
            F.when(
                F.col("hot_a").isNotNull() & F.col("hot_b").isNotNull(),
                F.size(F.array_intersect("hot_a", "hot_b")),
            ).otherwise(F.lit(0)),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_cold") + F.col("n_hot")).alias("n_common"),
            "n_a",
            "n_b",
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + LSH banding near-dup join, exact-verified.

    Signature: per (doc, seed) the min md5("<seed>#<shingle>") string —
    deterministic, engine-portable. Docs agreeing on any band of
    ``n_hashes/bands`` consecutive minhashes become candidates; only
    candidates pay the exact-Jaccard verification. This is the
    standard sub-quadratic near-dup topology for 100 TB corpora.
    """
    shingles = word_shingles(df, k=k, text_col=text_col, id_col=id_col)
    _, cand = _minhash_band_candidates(shingles, n_hashes, bands)
    j = _jaccard_for_pairs(cand, shingles)
    return j.where(F.col("jaccard_raw") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard")
    )


def _minhash_band_candidates(
    shingles: DataFrame, n_hashes: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """(minhashes, candidate pairs) shared by the LSH join and the
    estimator-calibration report. One md5 yields FOUR 8-hex-char hash
    values (32 hex chars / 8), so n_hashes=12 costs 3 md5 evaluations
    per shingle instead of 12 — hashing dominates signature cost at
    scale. Seed s reads chars [ (s%4)*8, +8 ) of
    md5("<s DIV 4>#<shingle>")."""
    r = n_hashes // bands
    n_md5 = (n_hashes + 3) // 4
    hcols = [
        F.md5(F.concat(F.lit(str(g)), F.lit("#"), F.col("shingle"))).alias(f"h{g}")
        for g in range(n_md5)
    ]
    hashed = shingles.select("doc_id", *hcols)
    pieces = [
        F.substring(F.col(f"h{s // 4}"), (s % 4) * 8 + 1, 8) for s in range(n_hashes)
    ]
    mh = (
        hashed.select("doc_id", F.posexplode(F.array(*pieces)).alias("seed", "h"))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("mh"))
    )
    band_sigs = (
        mh.withColumn("band", F.expr(f"seed DIV {r}"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("seed", "mh"))), lambda x: x["mh"]),
                "|",
            ).alias("sig")
        )
    )
    ba = band_sigs.alias("ba")
    bb = band_sigs.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.sig") == F.col("bb.sig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
    )
    return mh, cand


def minhash_estimate_error(
    df: DataFrame,
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sketch-calibration report: for every MinHash-LSH candidate pair,
    the SKETCH's Jaccard estimate (fraction of agreeing minhashes)
    beside the EXACT Jaccard over the full shingle sets and the
    absolute error — the query that tells a dedup deployment whether
    n_hashes is adequate for its threshold before it trusts the sketch
    at 100 TB (E[est] = J, σ = sqrt(J(1−J)/n_hashes); a fat error tail
    means more hashes or a tighter band design).

    No thresholding: calibration needs the full candidate range. The
    agreement count joins the (doc, seed)-keyed minhash table to the
    candidates — shuffle ∝ candidates × n_hashes; exact Jaccard rides
    the same bounded-array verify as the LSH join. Returns (doc_a,
    doc_b, est_jaccard, jaccard, abs_err).
    """
    shingles = word_shingles(df, k=k, text_col=text_col, id_col=id_col).localCheckpoint(
        eager=False
    )
    mh, cand = _minhash_band_candidates(shingles, n_hashes, bands)
    agree = (
        cand.join(mh.select(F.col("doc_id").alias("doc_a"), "seed", F.col("mh").alias("mh_a")), "doc_a")
        .join(
            mh.select(F.col("doc_id").alias("doc_b"), "seed", F.col("mh").alias("mh_b")),
            ["doc_b", "seed"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum((F.col("mh_a") == F.col("mh_b")).cast("long")).alias("n_agree"))
    )
    true_j = _jaccard_for_pairs(cand, shingles)
    est = F.col("n_agree") / F.lit(float(n_hashes))
    return (
        agree.join(true_j, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round("jaccard_raw", 6).alias("jaccard"),
            F.round(F.abs(est - F.col("jaccard_raw")), 6).alias("abs_err"),
        )
    )


def minhash_ml_crosscheck(
    df: DataFrame,
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    num_features: int | None = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Library-vs-hand-rolled MinHash agreement report: the pair set
    from this repo's banded-LSH join (md5 signatures, AND-within-band /
    OR-across-bands) against ``pyspark.ml.feature.MinHashLSH``'s
    ``approxSimilarityJoin`` (seeded affine hashes over a binary
    HashingTF shingle vector, OR-amplified tables), both exact-verified
    at the same Jaccard ``threshold``. The QA closure for the one
    family where the repo hand-rolls what MLlib also ships — a
    deployment can see how much candidate recall each scheme trades
    before trusting either at 100 TB.

    ROWS-ONLY by design (no DuckDB oracle): the library's hash
    functions are seeded JVM-internal affine maps that cannot be
    reproduced in ANSI SQL; the hand-rolled side IS oracle-checked via
    minhash_lsh_pairs / minhash_estimate_error. Both sides remain
    sub-quadratic equi-joins (band-key here, hash-table-entry key in
    MLlib — HashingTF may alias shingles into the same bucket, another
    reason exact SQL equality is out of reach).

    Returns one row: (n_ours, n_lib, n_common, agreement) where
    agreement = |common| / |union|, rounded to 6.

    ``num_features=None`` selects CORPUS-SCALED sizing: numFeatures =
    the next power of two ≥ 4× the (approx) distinct-shingle count,
    floored at the library's 2^18 default and capped at 2^30 (MLlib's
    HashingTF accepts any positive int — nothing in the API forces the
    default). The round-12 100× probe measured the pinned-2^18 leg
    going super-linear once the corpus carried ~26M distinct shingles
    (feature aliasing inflates vector overlap → MinHashLSH's
    OR-amplified buckets grow super-linearly); scaling numFeatures
    with the corpus is the remedy that report recommends, and the
    scaled variant exists so the remedy is measured, not asserted.
    The sizing pass is one approx_count_distinct over the already-
    checkpointed shingle stream (a sketch aggregation — no extra
    shuffle of the corpus), but it does cost one scheduler round-trip
    plus a driver sync, which is why the default stays the library
    constant at fixture scale.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingles = word_shingles(df, k=k).localCheckpoint(eager=False)
    if num_features is None:
        n_distinct = shingles.agg(
            F.approx_count_distinct("shingle").alias("n")
        ).first()["n"]
        num_features = max(1 << 18, min(1 << 30, 1 << (4 * max(n_distinct, 1) - 1).bit_length()))
    _, cand = _minhash_band_candidates(shingles, n_hashes, bands)
    # the per-doc shingle-set table is needed TWICE — exact-Jaccard
    # verify of our band candidates and HashingTF's input — and both
    # consumers are set-semantic (array_intersect size; binary TF), so
    # both legs share this one lazy collect_list table. It is not
    # checkpointed: within the final action ReusedExchange runs its
    # groupBy exchange once for both legs (outputs unchanged for any
    # element order). MinHashLSH.fit's head() probe for the vector size
    # is a separate job and recomputes part of the aggregation.
    sets_ = shingles.groupBy("doc_id").agg(F.collect_list("shingle").alias("sh"))
    ours = (
        _jaccard_for_pairs(
            cand, shingles, sets_=sets_.select("doc_id", F.col("sh").alias("sh_set"))
        )
        .where(F.col("jaccard_raw") >= threshold)
        .select("doc_a", "doc_b")
    )

    feats = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=num_features, binary=True
    ).transform(sets_)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=n_hashes, seed=seed
    ).fit(feats)
    lib = (
        model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="jd")
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )

    both = (
        ours.withColumn("m", F.lit(1)).join(
            lib.withColumn("l", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
        )
    )
    # coalesce AFTER the sums: a zero-row input must report 0s, not NULLs
    n_ours = F.coalesce(F.sum(F.coalesce(F.col("m"), F.lit(0))), F.lit(0))
    n_lib = F.coalesce(F.sum(F.coalesce(F.col("l"), F.lit(0))), F.lit(0))
    n_common = F.coalesce(
        F.sum((F.col("m").isNotNull() & F.col("l").isNotNull()).cast("int")), F.lit(0)
    )
    n_union = F.count("*")
    return both.agg(
        n_ours.cast("long").alias("n_ours"),
        n_lib.cast("long").alias("n_lib"),
        n_common.cast("long").alias("n_common"),
        F.round(
            F.when(n_union > 0, n_common / n_union).otherwise(F.lit(1.0)), 6
        ).alias("agreement"),
    )


def near_dup_survivors(
    df: DataFrame, pairs: DataFrame | None = None, id_col: str = "doc_id"
) -> DataFrame:
    """Greedy near-dup removal: drop every doc that appears as the
    larger id of a qualifying pair (keep-lowest-id heuristic — the
    standard single-pass policy; use near_dup_components for the
    transitive version). Returns the surviving (doc_id) set.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    dropped = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.select(id_col).join(dropped, id_col, "left_anti")


#: target rows per partition for iterated graph tables — small enough
#: to stay comfortably in executor memory with join/agg overhead.
GRAPH_ROWS_PER_PARTITION = 2_000_000

#: measured-row cap under which the graph loops attach an explicit
#: broadcast hint to their per-round side tables (ranks, labels,
#: neighborhood minima, degree-keep lists). Same discipline as
#: similarity.BROADCAST_CENTROIDS_MAX: the hint is attached ONLY when
#: the loop setup has MEASURED the table within this constant (≤ ~16
#: MB at 16 B/row — far under the broadcast hard cap), so it can never
#: become a corpus-proportional driver-side collect at scale. Below
#: the cap a round costs ONE shuffle (the neighborhood aggregation)
#: instead of re-exchanging the checkpointed edge list every round —
#: under AQE each exchange is a separate scheduled job, which is the
#: entire cost of these loops on a right-sized (small) graph
#: (round-11 verdict #4). Above the cap the loops keep the
#: co-partitioned shuffle-join path unchanged.
GRAPH_BROADCAST_MAX_ROWS = 1_000_000


def checkpoint_counted(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """Eagerly localCheckpoint ``df`` with ``aggs`` observed on that same
    job; returns (checkpointed frame, metrics). One scheduler round-trip
    instead of checkpoint + a separate count action. ``Observation.get``
    blocks until the observed plan has run, so the eager action and the
    read stay together here: a lazy checkpoint would hang the caller.
    Over an empty frame ``count`` reads 0 and ``sum`` reads None."""
    from pyspark.sql import Observation

    obs = Observation()
    d = df.observe(obs, *aggs).localCheckpoint(eager=True)
    return d, obs.get


def right_size_graph(
    df: DataFrame, key: str, min_parts: int = 4, max_parts: int = 2048
) -> tuple[DataFrame, int]:
    """Materialize a graph-loop table and hash-partition it on ``key``
    at a width derived from its MEASURED size — not the session's
    corpus-sized shuffle width (waste: a tiny pair graph through 200
    shuffle partitions per round) and not a fixture-sized constant (a
    billion-edge graph through 4 partitions is a serial bottleneck).
    Returns the table and its row count, which the loops need anyway
    (n_nodes, edge fixpoint detection); the count rides the checkpoint
    job as an observed metric."""
    d, m = checkpoint_counted(df, F.count(F.lit(1)).alias("n"))
    n = int(m["n"])
    k = int(max(min_parts, min(max_parts, n // GRAPH_ROWS_PER_PARTITION + 1)))
    if k != d.rdd.getNumPartitions():
        d = d.repartition(k, key).localCheckpoint(eager=True)
    return d, n


def _sym_edges(
    pairs: DataFrame, src: str = "u", dst: str = "v", extra: tuple[str, ...] = ()
) -> DataFrame:
    """The undirected pair graph as directed edges: (doc_a→doc_b) ∪
    (doc_b→doc_a) named (``src``, ``dst``), ``extra`` columns carried on
    both directions. No distinct; callers that need one add it."""
    return pairs.select(F.col("doc_a").alias(src), F.col("doc_b").alias(dst), *extra).union(
        pairs.select(F.col("doc_b").alias(src), F.col("doc_a").alias(dst), *extra)
    )


def _graph_bc(t: DataFrame, n: int) -> DataFrame:
    """Broadcast hint for a loop side table whose rows are bounded by the
    measured ``n``; left unhinted above GRAPH_BROADCAST_MAX_ROWS."""
    return F.broadcast(t) if n <= GRAPH_BROADCAST_MAX_ROWS else t


def near_dup_components(
    df: DataFrame, pairs: DataFrame | None = None, id_col: str = "doc_id", max_iter: int = 15
) -> DataFrame:
    """Connected components over the near-dup pair graph via iterative
    min-label propagation — the transitive dedup grouping (a cluster =
    one original + all its fuzzed copies). Returns (doc_id,
    component_id) for every doc; singletons map to themselves.

    Iterative DataFrame algorithm (not SQL-expressible in one query):
    each hop joins labels to edges, takes the min over the
    neighborhood, then POINTER-JUMPS (label <- label of label) so long
    chains collapse in O(log diameter) hops, bounded by ``max_iter``.
    Loop discipline (round-11 verdict #4 — the iterative family's cost
    is scheduler round-trips, not data): below the measured broadcast
    gate each hop's joins are broadcast-hash, so a hop costs one
    shuffle; one hop per checkpointed job (a fused 2-hop job measured
    SLOWER — see the loop comment); and the convergence check is a
    flag-count on the just-checkpointed result (the previous label
    rides along the round as ``old``, so no extra join against the
    prior labels table — labels are monotone non-increasing, making
    ``label != old`` exactly "changed").
    Edges/labels are hash-partitioned at a width derived from their
    measured size (``right_size_graph``) before iterating. If the loop
    exits without converging (needs > max_iter hops) a RuntimeError is
    raised rather than silently returning non-fixpoint labels — the
    DuckDB oracle computes the full transitive closure, and the
    documented semantics are the fixpoint.

    Contract (round-13 advice): an externally supplied ``pairs`` must
    draw BOTH endpoints from ``df``'s doc ids. Since round 13 the
    label frontier is initialized from the edge endpoints (so the loop
    shuffles only the pair graph, not the corpus); an out-of-corpus
    endpoint would therefore participate in min-label propagation —
    it can bridge components and even become the winning min label, so
    a returned component_id could name a doc absent from ``df``
    (pre-round-13 such edges were inert because non-``df`` nodes had
    no label row). Every in-repo caller derives ``pairs`` from the
    same ``df``; a caller with a stale/broader pairs table must
    semi-join both endpoint columns against ``df``'s ids first.
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df)
    edges, _ = right_size_graph(_sym_edges(pairs), "v")  # reused every round
    # the loop iterates over PAIR-GRAPH NODES only (round 13): a doc
    # with no near-dup edge can never change labels — it is a
    # singleton by construction — so singletons rejoin ONCE after
    # convergence instead of riding every hop's joins, checkpoint and
    # convergence count. At 100 TB this is the difference between
    # shuffling/broadcasting the CORPUS per hop and only the dup-graph
    # nodes (dups are the minority by design of a deduped pipeline);
    # at sf0.1 it A/B'd a wash (scripts/ab_loop_nodes.py at commit
    # a48fc12: min-of-6 1.13 vs 1.02 s components-alone, identical on
    # the hist composition — the fixture loop is scheduler-bound, not
    # data-bound), landed for the scale shape with outputs proven
    # identical either way.
    labels, n_labels = right_size_graph(
        edges.select("u").distinct().withColumn("label", F.col("u")), "u"
    )

    # every per-hop side table is ≤ n_labels rows, so below the gate each
    # hop's joins go broadcast-hash and a hop costs one shuffle
    def hop(lab: DataFrame) -> DataFrame:
        """One propagation + pointer-jump step over (u, label, old);
        ``old`` (the label before this ROUND) rides along untouched."""
        neighbor_min = (
            edges.join(
                _graph_bc(lab.select(F.col("u").alias("v"), "label"), n_labels), "v"
            )
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        prop = lab.join(_graph_bc(neighbor_min, n_labels), "u", "left").select(
            "u", "old", F.least("label", F.coalesce("nmin", "label")).alias("label")
        )
        # pointer jump: label(u) <- label(label(u)). label(u) is always
        # a node id inside u's component (starts as u; neighborhood
        # mins preserve it), so the shortcut stays in-component and is
        # monotone non-increasing — combined with the propagation step,
        # convergence is O(log diameter) hops instead of O(diameter)
        # (a 10^6-long near-dup chain converges in ~20 hops, not 10^6).
        # KNOWN + MEASURED-ACCEPTABLE (round-12 advice #2): on the
        # small/broadcast path, ``lookup``'s broadcast build re-derives
        # the un-materialized prop subtree, so propagation + neighbor-
        # min run twice per hop. Materializing prop per hop instead
        # (localCheckpoint before the jump) A/B'd SLIGHTLY SLOWER at
        # sf0.1 — min-of-6 interleaved 1.00 vs 0.96 s per loop
        # (scripts/ab_pointer_jump.py at commit a48fc12; identical
        # outputs) — the extra
        # per-hop materialization job costs more than the recompute of
        # a ≤ GRAPH_BROADCAST_MAX_ROWS subtree. Above the gate the
        # joins are shuffle joins and ReusedExchange shares the
        # subtree's exchange, so the double-compute is small-path-only.
        lookup = prop.select(F.col("u").alias("label"), F.col("label").alias("ll"))
        return prop.join(_graph_bc(lookup, n_labels), "label", "left").select(
            "u", "old", F.least("label", F.coalesce("ll", "label")).alias("label")
        )

    changed = -1
    for _ in range(max_iter):
        # ONE hop per checkpointed job — an A/B against a fused 2-hop
        # job measured the fusion SLOWER (3.7 s vs 1.9 s warm at
        # sf0.1): hop 2 references hop 1's un-materialized output from
        # three broadcast-build subtrees, and those rebuild the whole
        # hop-1 chain each (broadcast stages don't share un-shuffled
        # subtrees the way ReusedExchange shares shuffles).
        # The convergence count rides the checkpoint job as an observed
        # metric: sum over an empty frame is NULL → 0.
        stepped = hop(labels.select("u", F.col("label").alias("old"), "label"))
        new_labels, m = checkpoint_counted(
            stepped.select("u", "label", (F.col("label") != F.col("old")).alias("moved")),
            F.sum(F.col("moved").cast("long")).alias("changed"),
        )
        changed = int(m["changed"] or 0)
        labels = new_labels.select("u", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"near_dup_components did not converge within max_iter={max_iter} "
            f"({changed} labels still changing); raise max_iter — with "
            "pointer jumping convergence needs O(log component diameter) hops"
        )
    # singletons (docs with no qualifying pair) rejoin once, mapped to
    # themselves — the same labels they'd have earned riding the loop.
    # The converged labels table is ≤ dup-graph-node rows, so below the
    # gate this is one broadcast join over the corpus scan.
    return (
        df.select(F.col(id_col).alias("u"))
        .join(_graph_bc(labels, n_labels), "u", "left")
        .select(
            F.col("u").alias(id_col),
            F.coalesce("label", F.col("u")).alias("component_id"),
        )
    )


def near_dup_pipeline(
    df: DataFrame, id_col: str = "doc_id", max_iter: int = 15,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Materialize-once near-dup pipeline: the pair graph is computed
    ONCE (``localCheckpoint(eager=True)`` — the in-session analogue of
    writing the pairs table to parquet between pipeline stages) and
    feeds BOTH downstream consumers — connected components and the
    keep-lowest-id survivor policy — plus per-component sizes.

    Standalone, each consumer recomputes ``ngram_jaccard_pairs`` from
    scratch (shingle explode + posting-list join); at 100 TB that is
    the dominant cost, so a real pipeline pays it once and shares the
    result. Returns one row per doc:
    (doc_id, component_id, component_size, is_survivor).
    """
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, id_col=id_col).localCheckpoint(eager=True)
    comp = near_dup_components(df, pairs=pairs, id_col=id_col, max_iter=max_iter)
    surv = near_dup_survivors(df, pairs=pairs, id_col=id_col).withColumn(
        "is_survivor", F.lit(1)
    )
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("long").alias("component_size")
    )
    return (
        comp.join(sizes, "component_id")
        .join(surv, id_col, "left")
        .select(
            id_col,
            "component_id",
            "component_size",
            F.coalesce("is_survivor", F.lit(0)).cast("long").alias("is_survivor"),
        )
    )


def incremental_dedup(
    df: DataFrame,
    batch_mod: int = 10,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedupe a NEW ingest batch against an EXISTING corpus — the shape
    every continuously-fed training pipeline actually runs: the corpus
    is already deduped; only new-vs-corpus and new-vs-new comparisons
    are needed, never corpus-vs-corpus again.

    The batch is ``doc_id % batch_mod == 0`` (a deterministic,
    scale-invariant stand-in for an ingest date partition). Returns one
    row per batch doc: (doc_id, status) with status ∈
    'dup_exact' (normalized hash already in corpus, or a smaller batch
    id has it) → 'dup_near' (shingle Jaccard ≥ threshold against some
    corpus doc) → 'kept'. Exact wins over near.

    Scale design: the exact stage is a hash semi-join (batch-side
    build). The near stage joins the BATCH posting list against the
    CORPUS posting list on shingle — cost ∝ batch × matched postings,
    never corpus²; ``max_doc_freq`` (computed over the whole corpus,
    same guard semantics as ngram_jaccard_pairs) caps the per-shingle
    blow-up, and Jaccard is verified over FULL shingle sets so reported
    similarity is never underestimated. The verify is count-based with
    the same lossless upper-bound prune as _guarded_pair_stats
    (n_common ≤ n_cold + min(|hot_a|, |hot_b|); J monotone in
    n_common): per-doc (n_sh, n_hot) ride the posting streams, the
    pair join aggregates straight to n_cold, and only UB-surviving
    pairs touch the per-doc hot sets — no candidate-distinct pass, no
    full shingle arrays shipped per pair.
    """
    is_new = F.pmod(F.col(id_col), F.lit(batch_mod)) == 0
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("h"),
        is_new.alias("is_new"),
    )
    corpus_h = hashed.where(~F.col("is_new")).select("h").distinct()
    batch_h = hashed.where(F.col("is_new"))
    w = Window.partitionBy("h").orderBy("doc_id")
    exact = (
        batch_h.withColumn("rn", F.row_number().over(w))
        .join(corpus_h.withColumn("in_corpus", F.lit(1)), "h", "left")
        .select(
            "doc_id",
            ((F.col("rn") > 1) | F.col("in_corpus").isNotNull()).alias("is_exact_dup"),
        )
    )
    # One materialization feeds the doc-freq guard, BOTH posting-list
    # sides, and the full-set Jaccard verify — without it the
    # tokenize+explode subplan executes four times per run (measured
    # 8-9 s → ~5 s at sf0.1). Same pattern as ngram_jaccard_pairs.
    shingles = word_shingles(df, k=k, text_col=text_col, id_col=id_col).localCheckpoint(
        eager=False
    )
    if max_doc_freq is not None:
        freq = shingles.groupBy("shingle").agg(F.count("*").alias("df_")).localCheckpoint(
            eager=False
        )
        doc_stats = (
            shingles.join(freq, "shingle")
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_sh"),
                F.sum((F.col("df_") > max_doc_freq).cast("long")).alias("n_hot_sh"),
            )
        )
        capped = shingles.join(
            freq.where(F.col("df_") <= max_doc_freq).select("shingle"), "shingle"
        )
    else:
        doc_stats = (
            shingles.groupBy("doc_id")
            .agg(F.count("*").alias("n_sh"))
            .withColumn("n_hot_sh", F.lit(0).cast("long"))
        )
        capped = shingles
    capped = capped.join(doc_stats, "doc_id")
    # batch membership is a pure function of doc_id — split the capped
    # posting stream with narrow filters, not id-list joins (an earlier
    # form paid two joins of the full posting stream here)
    is_new_post = F.pmod(F.col("doc_id"), F.lit(batch_mod)) == 0
    post_new = capped.where(is_new_post).select(
        F.col("doc_id").alias("doc_b"),
        "shingle",
        F.col("n_sh").alias("n_b"),
        F.col("n_hot_sh").alias("n_hot_b"),
    )
    post_old = capped.where(~is_new_post).select(
        F.col("doc_id").alias("doc_a"),
        "shingle",
        F.col("n_sh").alias("n_a"),
        F.col("n_hot_sh").alias("n_hot_a"),
    )
    # count-based exact intersection, same shape as _guarded_pair_stats:
    # the pair join aggregates straight to the shared-COLD count (the
    # stats ride along as grouping keys — functionally dependent on the
    # ids), the UB prune drops pairs that could not reach the threshold
    # even with a fully shared hot set, and only survivors pay the
    # hot-set intersection joins. No candidate-distinct pass, no full
    # shingle arrays shipped per pair.
    common = (
        post_old.join(post_new, "shingle")
        .groupBy("doc_a", "doc_b", "n_a", "n_b", "n_hot_a", "n_hot_b")
        .agg(F.count("*").alias("n_cold"))
    )
    ub = F.col("n_cold") + F.least("n_hot_a", "n_hot_b")
    pruned = common.where(ub / (F.col("n_a") + F.col("n_b") - ub) >= threshold)
    if max_doc_freq is not None:
        hot_sets = (
            shingles.join(
                freq.where(F.col("df_") > max_doc_freq).select("shingle"), "shingle"
            )
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("hot_set"))
        )
        pruned = (
            pruned.join(
                hot_sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                    "hot_set", "hot_a"
                ),
                "doc_a",
                "left",
            )
            .join(
                hot_sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "hot_set", "hot_b"
                ),
                "doc_b",
                "left",
            )
            .withColumn(
                "n_hot",
                F.when(
                    F.col("hot_a").isNotNull() & F.col("hot_b").isNotNull(),
                    F.size(F.array_intersect("hot_a", "hot_b")),
                ).otherwise(F.lit(0)),
            )
        )
    else:
        pruned = pruned.withColumn("n_hot", F.lit(0))
    n_common = F.col("n_cold") + F.col("n_hot")
    near = (
        pruned.where(
            n_common / (F.col("n_a") + F.col("n_b") - n_common) >= threshold
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(1))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact_dup"), F.lit("dup_exact"))
            .when(F.col("is_near_dup").isNotNull(), F.lit("dup_near"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


#: hex digits whose high bit is set — used as the per-bit hash of a token.
_HI_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")

SIMHASH_BITS = 16


def _simhash_narrow(df: DataFrame, n_bits: int, contrib_expr: str, text_col: str, id_col: str, out_col: str) -> DataFrame:
    """Shared zero-shuffle SimHash kernel: the whole signature is ONE
    projection over the scan — md5 each token once, then a single
    ``aggregate`` traversal accumulates all ``n_bits`` weighted bit
    sums in an array accumulator (``zip_with`` add), and a second
    array fold turns sign bits into the integer signature.

    Summing ±1 PER OCCURRENCE is arithmetically identical to the
    textbook per-distinct-token cnt×sgn weighting, so this narrow form
    replaces an earlier explode → groupBy(doc,tok) → groupBy(doc,bit)
    → groupBy(doc) pipeline (three exchanges per signature) with ZERO
    exchanges — at 100 TB the signature stage becomes a pure map that
    rides the parquet scan.

    ``contrib_expr`` is a Spark-SQL fragment over the placeholder
    ``{H}`` (an md5-hex string) evaluating to the length-``n_bits``
    array of ±1 bit contributions of that token.

    Duplicate tokens are collapsed in-array first (sort + run-length
    boundaries) so each DISTINCT token is hashed and bit-decoded once
    and its run length becomes the weight — word-soup docs would
    otherwise pay the md5+decode per occurrence. Docs with zero tokens
    produce no row (same semantics as the explode-based oracle).

    The zero-token drop is a ``text rlike '\\p{L}'`` on the RAW column
    (⟺ the token array is non-empty: tokens are maximal letter runs),
    NOT a ``where(size(st) > 0)`` above the projection — Catalyst
    substitutes the aliased expression into the pushed-down Filter, so
    the old form ran the sort+split tokenize twice and kept the pushed
    copy BELOW the widen exchange, serial on the fixture's one parquet
    split. With the cheap predicate the widen gate finally bites on
    this zero-shuffle kernel: simhash64 2.77 → 0.44 s min-of-5 at
    sf0.1, outputs bit-identical (scripts/ab_filter_pushdup.py at
    commit 82bf044).
    """
    df = widen_for_cpu(df, key_col=text_col)
    # double the backslashes: the regex rides inside a SQL string
    # literal, where \p would otherwise be eaten as an escape
    re_sql = LETTERS_ONLY_RE.replace("\\", "\\\\")
    toks = f"array_sort(array_remove(split({text_col}, '{re_sql}'), ''))"
    base = df.where(F.col(text_col).rlike(r"\p{L}")).select(
        F.col(id_col).alias("doc_id"), F.expr(toks).alias("st")
    )
    # run boundaries over the sorted array: starts[j]..ends[j] is the
    # j-th distinct token's run; run length = weight
    starts = "filter(sequence(1, size(st)), i -> i = 1 OR element_at(st, i) != element_at(st, i - 1))"
    ends = "filter(sequence(1, size(st)), i -> i = size(st) OR element_at(st, i) != element_at(st, i + 1))"
    entries = (
        f"zip_with({starts}, {ends}, (s, e) -> "
        f"named_struct('h', md5(element_at(st, s)), 'c', CAST(e - s + 1 AS BIGINT)))"
    )
    contrib = contrib_expr.replace("{H}", "p.h")
    sums = (
        f"aggregate({entries}, "
        f"  array_repeat(CAST(0 AS BIGINT), {n_bits}), "
        f"  (acc, p) -> zip_with(acc, {contrib}, (x, y) -> x + p.c * CAST(y AS BIGINT)))"
    )
    value = (
        f"aggregate(zip_with({sums}, sequence(0, {n_bits - 1}), "
        f"  (s, i) -> IF(s >= 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
        f"  CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return base.select("doc_id", F.expr(value).alias(out_col))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit weighted SimHash per doc: (doc_id, simhash).

    Bit i of a token = high bit of hex digit i of md5(token) —
    deterministic and identical in any engine with md5. Weight =
    token count in the doc. Bit set iff weighted sum ≥ 0.
    """
    hi = ", ".join(f"'{d}'" for d in _HI_HEX)
    contrib = (
        f"transform(sequence(0, {SIMHASH_BITS - 1}), "
        f"i -> IF(substr({{H}}, i + 1, 1) IN ({hi}), 1, -1))"
    )
    return _simhash_narrow(df, SIMHASH_BITS, contrib, text_col, id_col, "simhash")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit weighted SimHash: bit i of a token is bit (i%4) of hex
    digit (i DIV 4) of md5(token) — the full-width production
    signature (16-bit `simhash` trades width for a cheaper demo).
    Still engine-portable: hex-digit value via position in
    '0123456789abcdef', no engine hash() anywhere. Bit 63 is kept
    positive (top bit unused) so the value fits a BIGINT unsigned-free.
    """
    n_bits = 63  # stay within non-negative BIGINT range
    # hex digit value without engine-specific conv(): position in the
    # hex alphabet, identical in DuckDB. Decode each of the 16 hex
    # digits ONCE and fan its 4 bits out (bit i = bit i%4 of digit
    # i DIV 4), instead of 63 independent position() probes per token.
    contrib = (
        "slice(flatten(transform("
        "  transform(sequence(0, 15), d -> position(substr({H}, d + 1, 1) IN '0123456789abcdef') - 1), "
        "  dv -> array(IF(dv % 2 = 1, 1, -1), IF((dv DIV 2) % 2 = 1, 1, -1), "
        "              IF((dv DIV 4) % 2 = 1, 1, -1), IF((dv DIV 8) % 2 = 1, 1, -1)))), "
        f"1, {n_bits})"
    )
    return _simhash_narrow(df, n_bits, contrib, text_col, id_col, "simhash64")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    Candidates via 4-bit band equality (4 bands over 16 bits): any
    pair within hamming ≤ 3 shares at least one intact band
    (pigeonhole), so banding loses nothing while avoiding the global
    self-join. Verification computes the exact hamming distance.
    """
    # the signature is now a zero-exchange narrow map, so the band
    # self-join would otherwise recompute it (and re-parse the corpus)
    # on BOTH sides — materialize the tiny (doc_id, long) signature
    # table once and join against that
    sh = (
        simhash(df, text_col=text_col, id_col=id_col).localCheckpoint(eager=False)
        if sigs is None
        else sigs
    )
    n_bands = 4
    width = SIMHASH_BITS // n_bands  # 4 bits per band
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn("band_val", F.expr(f"(simhash DIV CAST(power(2, band * {width}) AS BIGINT)) % {2 ** width}").cast("long"))
    a = banded.alias("a")
    b = banded.alias("b")
    # the hamming check rides in the join condition so the dedup
    # (distinct) only ever sees QUALIFYING pairs, not every band
    # collision — on vocab-skewed corpora band collisions dwarf real
    # near-dups and would dominate the distinct's exchange
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming <= max_hamming),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )


def embedding_cosine_pairs(embeddings: DataFrame, threshold: float = 0.4, n_blocks: int = 8) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold (vec_a < vec_b).

    Block-partitioned all-pairs: vectors hash into ``n_blocks`` blocks
    by vec_id; each row is replicated to the n_blocks block-PAIRS it
    participates in; one applyInPandas task per block pair runs a
    numpy matmul over the two sub-matrices and emits only qualifying
    pairs. Shuffle volume is N×n_blocks rows (not N²), and the O(N²)
    flops run as BLAS inside tasks — the standard distributed
    brute-force topology. (A naive pair self-join materializing 2M
    array-carrying rows measured 23–30 s here; this runs in ~2 s.)
    Pick n_blocks ≈ √(cluster cores) at scale. Threshold filtering is
    re-applied Spark-side on the ROUNDED cosine so results match the
    SQL oracle's rounding semantics exactly; the numpy side only
    pre-filters with an epsilon-slackened bound.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("cos_raw", DoubleType()),
        ]
    )
    thr = threshold

    def block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ki, kj = key
        sub_a = pdf[pdf["blk"] == ki]
        sub_b = pdf[pdf["blk"] == kj]
        if len(sub_a) == 0 or len(sub_b) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []})
        ma = np.stack(sub_a["e"].to_numpy())
        mb = np.stack(sub_b["e"].to_numpy())
        cos = (ma @ mb.T) / np.outer(
            np.sqrt(np.einsum("ij,ij->i", ma, ma)), np.sqrt(np.einsum("ij,ij->i", mb, mb))
        )
        ia, ib = np.where(cos >= thr - 1e-9)
        va = sub_a["vec_id"].to_numpy()[ia]
        vb = sub_b["vec_id"].to_numpy()[ib]
        c = cos[ia, ib]
        if ki == kj:
            # self-block: each unordered pair appears twice — keep one
            keep = va < vb
            va, vb, c = va[keep], vb[keep], c[keep]
        else:
            # cross-block ids interleave (blk = vec_id % n_blocks):
            # normalize to vec_a < vec_b, never drop
            va, vb = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "cos_raw": c})

    emb = embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        (F.col("vec_id") % n_blocks).cast("int").alias("blk"),
    )
    # replicate each row into every unordered block pair containing its block
    others = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other")
    # one row per (vector, block-pair); pairs are already distinct per
    # row since `other` fixes one coordinate — no dedup shuffle needed
    replicated = emb.select("vec_id", "e", "blk", others).select(
        "vec_id",
        "e",
        "blk",
        F.least("blk", "other").alias("ki"),
        F.greatest("blk", "other").alias("kj"),
    )
    raw = replicated.groupBy("ki", "kj").applyInPandas(block_pairs, out_schema)
    return raw.select(
        "vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def edit_distance_pairs(
    df: DataFrame,
    prefix_len: int = 16,
    len_band: int = 40,
    head_len: int = 200,
    max_dist: int = 16,
) -> DataFrame:
    """Bounded edit-distance near-dup pairs: docs sharing the same
    ``prefix_len``-char prefix whose lengths differ by ≤ ``len_band``
    and whose first ``head_len`` chars are within ``max_dist``
    Levenshtein edits — the character-level sibling of
    ngram_jaccard_pairs (shingle Jaccard misses dense single-char
    edits; Levenshtein counts them exactly).

    Scale shape: candidates come from an EQUALITY self-join on the
    prefix bucket (hash join, partitionable by bucket — never
    all-pairs), pre-filtered by the length band before the O(n·m)
    verify runs; the verify itself is bounded to head_len² per pair.
    At 100 TB, widen prefix_len (smaller buckets) and add a second
    rotated-prefix pass to recover recall lost to edits inside the
    prefix — same band-union recipe as MinHash-LSH.

    Returns (doc_a, doc_b, edit_dist).
    """
    d = df.select(
        "doc_id",
        F.substring("text", 1, prefix_len).alias("pfx"),
        F.length("text").alias("n"),
        F.substring("text", 1, head_len).alias("head"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "pfx", F.col("n").alias("na"), F.col("head").alias("ha")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "pfx", F.col("n").alias("nb"), F.col("head").alias("hb")
    )
    return (
        a.join(b, "pfx")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("na") - F.col("nb")) <= len_band)
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ha", "hb").cast("long").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= max_dist)
    )


#: overlap-coefficient threshold for containment pairs — higher than
#: the Jaccard threshold because containment is the laxer measure
#: (a short doc fully quoted inside a long one scores ~1.0 here but
#: near 0 on Jaccard).
DEFAULT_CONTAINMENT = 0.8


def overlap_containment_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = DEFAULT_CONTAINMENT,
    max_doc_freq: int = DEFAULT_MAX_DOC_FREQ,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by shingle OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) ≥ threshold — the asymmetric companion to
    ngram_jaccard_pairs that catches CONTAINMENT duplication (one doc
    quoted or embedded inside another), which symmetric Jaccard
    structurally under-scores when the two docs differ in length.

    Same scale topology as the Jaccard operator — literally the same
    machinery: ``_guarded_pair_stats`` supplies (n_common, n_a, n_b)
    per capped-posting candidate; only the normalizer differs. The
    shared path counts cold-common straight out of posting arrays and
    intersects only bounded per-doc HOT sets, so no full shingle set
    is ever shipped per candidate. The naive candidate-distinct +
    full-array verify this replaced moved every doc's complete shingle
    array through the join: 2× slower at sf0.1 and 5.1× super-linear
    across a 10× corpus (PERF.md, now 2.7× — the residual growth is
    the pair-output term shared with minhash/jaccard), with unbounded
    per-row memory on boilerplate-heavy corpora. Returns
    (doc_a, doc_b, containment), doc_a < doc_b.
    """
    shingles = word_shingles(df, k=k, text_col=text_col, id_col=id_col)
    # containment is increasing in n_common → same lossless
    # upper-bound prune as the Jaccard caller, containment-normalized
    stats = _guarded_pair_stats(
        shingles,
        max_doc_freq,
        keep_ub=lambda ub, n_a, n_b: ub / F.least(n_a, n_b) >= threshold,
    )
    contain = F.col("n_common") / F.least("n_a", "n_b")
    return stats.where(contain >= threshold).select(
        "doc_a", "doc_b", F.round(contain, 6).alias("containment")
    )


def component_best_representative(
    df: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Quality-aware dedup keep-policy: for every near-dup component,
    keep the member with the HIGHEST quality-classifier score (ties →
    lowest doc_id) instead of near_dup_survivors' keep-lowest-id — the
    policy production dedup actually wants (of five paraphrases of a
    page, ship the cleanest one, not the one that crawled first).
    Docs without a score (zero tokens) rank as 0.0 and lose to any
    scored sibling.

    Scale shape: component labels from the pointer-jumping loop; the
    scorer is the zero-exchange codegen pass; the argmax is one
    max_by agg on component_id — no window, no sort. Returns
    (component_id, doc_id, quality_score) — one row per component,
    singletons included.
    """
    from mapreduce_golang_spark.operators.mixing import quality_classifier_scores

    comp = near_dup_components(df, pairs=pairs)
    scores = quality_classifier_scores(df).select("doc_id", "quality_score")
    member = comp.join(scores, "doc_id", "left").select(
        "component_id",
        "doc_id",
        F.coalesce("quality_score", F.lit(0.0)).alias("quality_score"),
    )
    return member.groupBy("component_id").agg(
        F.max_by(
            F.struct("doc_id", "quality_score"),
            F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("neg_id")),
        ).alias("b")
    ).select(
        "component_id",
        F.col("b.doc_id").alias("doc_id"),
        F.col("b.quality_score").alias("quality_score"),
    )


def hot_shingles_report(
    df: DataFrame, max_doc_freq: int = DEFAULT_MAX_DOC_FREQ, k: int = 25
) -> DataFrame:
    """Audit twin of the posting-list cap that keeps every pair
    generator in this module bounded: the k highest-document-frequency
    shingles with their doc counts and whether the cap
    (``max_doc_freq``) excludes them from pair generation — the
    boilerplate blocklist a corpus owner reviews to see exactly WHAT
    the bounded-row invariant is dropping (license headers, navigation
    chrome) before trusting near-dup recall numbers.

    Scale shape: the zero-exchange shingle map, one hash agg on the
    shingle, and a TakeOrderedAndProject top-k — strictly cheaper than
    any consumer of the same stream. Returns (shingle, doc_freq,
    capped) ordered by doc_freq desc, shingle asc.
    """
    return (
        word_shingles(df)
        .groupBy("shingle")
        .agg(F.count("*").cast("long").alias("doc_freq"))
        .select(
            "shingle", "doc_freq", (F.col("doc_freq") > max_doc_freq).alias("capped")
        )
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(k)
    )


def part_name_near_matches(part: DataFrame, max_dist: int = 4) -> DataFrame:
    """Entity-resolution report over part names: DISTINCT name pairs
    sharing the same final word (the head noun) whose full names are
    within ``max_dist`` Levenshtein edits — classic blocking-key record
    linkage (Fellegi–Sunter blocking, the edit_distance_pairs recipe
    applied to a dimension's natural key instead of document text).

    Scale shape: names collapse to the DISTINCT-name frequency table
    first (one hash agg — the vocabulary is bounded by the catalog's
    naming scheme, not the row count), so the quadratic term is
    vocab²-within-block, never rows². Candidates come from an EQUALITY
    self-join on the blocking key; at 100 TB widen the key (noun +
    adjective initial) exactly as edit_distance_pairs widens its
    prefix. Returns (name_a, name_b, edit_dist, n_parts_a, n_parts_b).
    """
    names = (
        part.groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").cast("long").alias("n_parts"))
        .select(
            "name",
            "n_parts",
            F.regexp_extract("name", r"(\S+)$", 1).alias("blk"),
        )
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("n_parts").alias("n_parts_a"), "blk"
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("n_parts").alias("n_parts_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
        .where(F.col("edit_dist") <= max_dist)
    )


def normalized_dedup_gain(df: DataFrame) -> DataFrame:
    """Per-source normalization-gain report: how much extra duplicate
    mass a canonicalizing normalizer (lowercase, non-letter runs → one
    space, trim) surfaces beyond byte-exact hashing — the measurement
    that justifies (or kills) a normalization pass before exact dedup
    at corpus scale (CCNet/C4 both normalize before hashing).

    ONE aggregation pass: both hashes are narrow per-row expressions
    and the two distinct-counts share the same hash agg with distinct
    expansion — no joins, no second scan. Returns (source, n_docs,
    n_uniq_raw, n_uniq_norm, raw_dup_frac, norm_dup_frac, gain_frac).
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^\p{L}]+", " "))
    per_doc = df.select(
        "source",
        F.md5(F.col("text")).alias("h_raw"),
        F.md5(norm).alias("h_norm"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("h_raw").cast("long").alias("n_uniq_raw"),
            F.count_distinct("h_norm").cast("long").alias("n_uniq_norm"),
        )
        .select(
            "source",
            "n_docs",
            "n_uniq_raw",
            "n_uniq_norm",
            F.round(1.0 - F.col("n_uniq_raw") / F.col("n_docs"), 6).alias("raw_dup_frac"),
            F.round(1.0 - F.col("n_uniq_norm") / F.col("n_docs"), 6).alias("norm_dup_frac"),
            F.round(
                (F.col("n_uniq_raw") - F.col("n_uniq_norm")) / F.col("n_docs"), 6
            ).alias("gain_frac"),
        )
    )


def source_shingle_overlap(df: DataFrame, k: int = 3) -> DataFrame:
    """Cross-SOURCE shingle containment matrix — the corpus-curation
    diagnostic one grain above doc-pair Jaccard: how much of source A's
    distinct k-shingle inventory also appears in source B (crawl snapshots
    duplicating a feed, a "books" slice leaking into "web", mirrored
    sites across domains). Doc-level near-dup (ngram_jaccard_pairs)
    finds individual copies; this finds WHOLESALE overlap between
    corpus slices, which drives source mixing weights rather than
    per-doc drops.

    Scale shape: per-source distinct shingle inventories (explode +
    hash agg), then an inverted-index equality self-join on the
    shingle. Posting lists are per-source-DISTINCT, so a shingle's
    list is bounded by the number of sources (a fixed catalog, not a
    corpus-scaling quantity) — the hot-shingle blowup that doc-grain
    pair joins must cap away (``max_doc_freq``) cannot happen at this
    grain. Returns (source_a, source_b, n_common, jaccard,
    containment_a_in_b, containment_b_in_a), floats rounded to 6.
    """
    sh = (
        word_shingles(df, k=k, id_col="source")
        .withColumnRenamed("doc_id", "source")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").cast("long").alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6).alias("jaccard"),
            F.round(F.col("n_common") / F.col("na"), 6).alias("containment_a_in_b"),
            F.round(F.col("n_common") / F.col("nb"), 6).alias("containment_b_in_a"),
        )
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    tau_num: int = 4,
    tau_den: int = 5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT near-dup pairs at Jaccard ≥ tau_num/tau_den via prefix
    filtering (PPJoin-style): index only each doc's rarest shingles.

    The guarantee: order the universe of shingles globally (here by
    ascending document frequency, shingle text as tiebreak). If
    J(A,B) ≥ τ then |A∩B| ≥ τ·|A|, so A's prefix of its
    |A| − ⌈τ·|A|⌉ + 1 FIRST shingles in that order must contain at
    least one element of A∩B — and symmetrically for B. Two qualifying
    docs therefore always collide on some indexed shingle: unlike the
    ``max_doc_freq`` posting cap of :func:`ngram_jaccard_pairs` (which
    can miss pairs sharing only boilerplate), prefix filtering is
    LOSSLESS at the chosen threshold while indexing only ~(1−τ) of
    each doc's shingles — and because the prefix keeps the RAREST
    shingles, posting lists are short by construction, so the
    candidate join cannot blow up on hot shingles at any corpus size.

    τ is a rational (tau_num/tau_den) and the prefix length uses pure
    integer arithmetic — ``n − ⌈τ·n⌉ + 1`` as
    ``n − (tau_num·n + tau_den − 1) div tau_den + 1`` — because
    float(0.8)·5 = 4.000000000000001 would ceil to 5 and silently
    shrink the prefix (a missed-pair bug AND a cross-engine mismatch).

    Scale shape: doc-frequency is one hash agg on shingle; the rank
    window partitions per doc (narrow); the candidate self-join runs
    only over the short rare-shingle postings; verification re-joins
    each doc's FULL shingle set once per surviving candidate. Returns
    (doc_a, doc_b, jaccard ≥ τ, rounded 6).

    Reference parity: extends the dedup family (SURVEY.md §2.4) with
    the textbook exact-similarity-join alternative to LSH.
    """
    shingles = word_shingles(df, k=k, text_col=text_col, id_col=id_col)
    freq = shingles.groupBy("shingle").agg(F.count("*").alias("df_"))
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ranked = (
        shingles.join(freq, "shingle")
        .join(sizes, "doc_id")
        .select(
            "doc_id",
            "shingle",
            "n_sh",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("df_", "shingle"))
            .alias("rk"),
        )
    )
    prefix_len = (
        F.col("n_sh")
        - F.expr(f"({tau_num} * n_sh + {tau_den - 1}) div {tau_den}")
        + F.lit(1)
    )
    prefix = ranked.where(F.col("rk") <= prefix_len).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    tau = float(tau_num) / float(tau_den)
    return (
        _jaccard_for_pairs(cand, shingles)
        .where(F.col("jaccard_raw") >= tau)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )
