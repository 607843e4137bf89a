"""Data-mixing / selection operators — the corpus-composition stage of
an LLM training-data pipeline: DSIR-style importance weighting toward a
target distribution, a linear quality-classifier scoring pass,
dedup-aware temperature mixing weights per source, and CCNet-style
perplexity bucketing.

All public-knowledge algorithms (DSIR: Xie et al. 2023 "Data Selection
for Language Models via Importance Resampling"; CCNet: Wenzek et al.
2020; temperature sampling: multilingual-corpus practice since
XLM/mBERT; fastText-style linear scorer: Joulin et al. 2016). Every
operator is a pure DataFrame expression with an exact DuckDB oracle —
hashing goes through md5 (engine-portable, same convention as
operators/dedup.py) rather than engine builtins.

Complements the reference's corpus surface the same way
operators/corpus.py does (reference scope: whole-file map/reduce over
text, /root/reference/src/mrapps/wc.go:28-43 — these are the
selection passes a user of that engine would run next).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_golang_spark.functions.tokenize import LETTERS_ONLY_RE
from mapreduce_golang_spark.operators.corpus import KNUTH_HASH_CONST

#: default hashed-feature space sizes — small enough that the bucket
#: stats table is always a broadcastable dimension (DSIR's own default
#: is 10k buckets; the table stays O(buckets) regardless of corpus SF)
DSIR_BUCKETS = 512
QUALITY_FEATURES = 256


def _tokens(text_col):
    """Lower-cased letters-only token array (shared tokenizer regex)."""
    return F.array_remove(F.split(F.lower(text_col), LETTERS_ONLY_RE), "")


def _md5_bucket(col, n_buckets: int):
    """Engine-portable hashed-feature bucket: first 8 hex chars of md5
    → int → mod n_buckets. Same md5-prefix idiom as the minhash and
    weighted-sampling operators (engine hash() builtins differ and
    would not oracle-check)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    )


def dsir_importance_weights(
    df: DataFrame,
    target_sources: tuple = ("src0", "src1"),
    n_buckets: int = DSIR_BUCKETS,
    k_smooth: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weights: score each raw-corpus doc by the
    log-likelihood ratio of its hashed-unigram bag under the target
    distribution vs the raw distribution — the importance-resampling
    selection pass that tilts a web-scale corpus toward a trusted
    target corpus (Xie et al. 2023, hashed n-gram variant).

    λ_b = ln((c_target_b + k)/(T + kB)) − ln((c_raw_b + k)/(R + kB))
    per feature bucket b (add-k smoothing over B buckets); a doc's
    log-weight is Σ λ_{h(tok)} over its token occurrences (bag
    semantics, as in the paper — resampling then draws ∝ exp(weight)).

    Scale shape: one token explode feeds a hash agg on the BOUNDED
    bucket key (≤ n_buckets rows regardless of SF) with conditional
    target/raw sums; the λ map plus the 1-row totals come back as
    broadcasts onto the raw token stream, and the per-doc sum is the
    single doc-keyed exchange. Sum magnitude is O(tokens·|λ|) ≈ 1e3,
    far inside round(6) cross-engine float reproducibility.

    Returns (doc_id, source, n_feats, dsir_logweight) for raw-split
    docs with ≥1 token, logweight rounded to 6.
    """
    is_target = F.col("source").isin(list(target_sources))
    toks = df.select(
        "doc_id", "source", is_target.alias("is_t"), F.explode(_tokens(F.col("text"))).alias("tok")
    ).select("doc_id", "source", "is_t", _md5_bucket(F.col("tok"), n_buckets).alias("b"))

    stats = toks.groupBy("b").agg(
        F.sum(F.col("is_t").cast("long")).alias("c_t"),
        F.sum((~F.col("is_t")).cast("long")).alias("c_r"),
    )
    totals = stats.agg(
        F.sum("c_t").cast("double").alias("T"), F.sum("c_r").cast("double").alias("R")
    )
    kB = float(k_smooth) * n_buckets
    lam = (
        F.log((F.col("c_t") + k_smooth) / (F.col("T") + kB))
        - F.log((F.col("c_r") + k_smooth) / (F.col("R") + kB))
    ).alias("lam")
    lam_map = stats.crossJoin(F.broadcast(totals)).select("b", lam)

    return (
        toks.where(~F.col("is_t"))
        .join(F.broadcast(lam_map), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.sum("lam"), 6).alias("dsir_logweight"),
        )
    )


def quality_classifier_scores(df: DataFrame, n_features: int = QUALITY_FEATURES) -> DataFrame:
    """Linear quality-classifier scoring pass (fastText-style, Joulin
    et al. 2016): sigmoid of the mean hashed-feature weight over the
    doc's tokens — the model-free plumbing twin of the quality
    classifiers (e.g. a wiki-vs-web logistic head) production
    pipelines run over every document before selection.

    The weight VECTOR here is the deterministic stand-in
    w_b = ((b·KNUTH) mod 2001 − 1000)/1000 ∈ [−1, 1] so the operator
    is fixture-free and oracle-checkable; swapping in trained weights
    is a broadcast join against a (bucket, weight) table with the
    identical plan (documented seam, like the multimodal decoder).

    Scale shape: ZERO exchanges — the token array is transformed to
    weights and summed IN-ARRAY (`aggregate`), so the whole score is
    one codegen projection on the scan; no explode, no shuffle, no
    Python. Returns (doc_id, source, n_tokens, quality_score,
    is_quality) for docs with ≥1 token, score rounded to 6.
    """
    w_expr = (
        f"transform(_toks, t -> "
        f"((pmod(pmod(cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint), {n_features}) "
        f"* {KNUTH_HASH_CONST}, 2001)) - 1000) / 1000.0)"
    )
    z = F.expr(f"aggregate({w_expr}, cast(0.0 as double), (acc, x) -> acc + x)") / F.col(
        "n_tokens"
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (
        df.select(
            "doc_id", "source", _tokens(F.col("text")).alias("_toks")
        )
        .select("doc_id", "source", "_toks", F.size("_toks").cast("long").alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round(score, 6).alias("quality_score"),
            (score >= 0.5).alias("is_quality"),
        )
    )


def source_mixing_weights(df: DataFrame, alpha: float = 0.7) -> DataFrame:
    """Dedup-aware temperature mixing weights per source: weight ∝
    (unique docs)^α normalized across sources, plus the effective
    epoch count each source is replayed at under that mix — the
    corpus-composition table (α < 1 upsamples small trusted sources,
    standard multilingual/multi-source practice).

    Uniqueness is exact-dedup grain (distinct md5 of normalized text),
    so boilerplate-heavy sources don't buy weight with copies.

    Scale shape: one count-distinct agg per source (Spark plans the
    two-level partial expansion itself), then the α-power normalization
    against a 1-row total broadcast — output is O(sources).

    Returns (source, n_docs, n_unique, mix_weight, effective_epochs),
    floats rounded to 6.
    """
    per_src = df.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct(F.md5(F.lower(F.trim(F.col("text"))))).cast("long").alias("n_unique"),
    )
    tot = per_src.agg(
        F.sum(F.pow(F.col("n_unique").cast("double"), F.lit(alpha))).alias("wsum"),
        F.sum("n_unique").cast("double").alias("u_total"),
    )
    w = F.pow(F.col("n_unique").cast("double"), F.lit(alpha)) / F.col("wsum")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_unique",
        F.round(w, 6).alias("mix_weight"),
        F.round(w * F.col("u_total") / F.col("n_unique"), 6).alias("effective_epochs"),
    )


def ccnet_perplexity_buckets(df: DataFrame, nll: DataFrame | None = None) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020): each doc's LM-quality proxy (the corpus char-trigram
    average NLL from char_trigram_logprob) is cut at its language's
    33rd/66th percentiles into head/middle/tail, and the report gives
    each (lang, bucket)'s size and mean score — the table a pipeline
    uses to keep head, sample middle, drop tail.

    Scale shape: bucketing goes through per-language PERCENTILE
    THRESHOLDS (one bounded agg, ≤ n_langs rows, broadcast back) —
    NOT an ntile over a per-language global sort, which would
    serialize each language through one partition at corpus scale.
    Exact interpolated percentiles keep it oracle-checkable; at
    extreme SF swap in approx_percentile with the same plan.

    Returns (lang, ppl_bucket, n_docs, mean_nll), mean rounded to 6.
    """
    from mapreduce_golang_spark.operators.text_analysis import char_trigram_logprob

    if nll is None:
        nll = char_trigram_logprob(df)
    scored = df.select("doc_id", "lang").join(nll.select("doc_id", "avg_nll"), "doc_id")
    cuts = scored.groupBy("lang").agg(
        F.percentile("avg_nll", F.lit(1.0 / 3.0)).alias("p33"),
        F.percentile("avg_nll", F.lit(2.0 / 3.0)).alias("p66"),
    )
    bucket = (
        F.when(F.col("avg_nll") <= F.col("p33"), "head")
        .when(F.col("avg_nll") <= F.col("p66"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select("lang", bucket.alias("ppl_bucket"), "avg_nll")
        .groupBy("lang", "ppl_bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("avg_nll"), 6).alias("mean_nll"),
        )
    )


def quality_weighted_sample(df: DataFrame, k: int = 5) -> DataFrame:
    """Quality-weighted sampling without replacement, ``k`` docs per
    source, inclusion probability ∝ the linear classifier's quality
    score — the selection step that consumes quality_classifier_scores
    (keep good docs preferentially, but keep SOME low-scoring mass for
    diversity — the reason production pipelines sample by weight
    instead of thresholding). Efraimidis–Spirakis exponential ranks:
    key = ln(u)/score with u the md5-derived uniform (same recipe as
    corpus.weighted_doc_sample), k largest keys per source win.

    Deterministic and engine-portable: hash-derived uniform, the
    ROUNDED score from the scoring pass feeds the key (round-before-
    downstream discipline), key rounded to 12 with a doc_id tie-break.

    Scale shape: scoring is the zero-exchange codegen pass; the key is
    one more narrow expression; selection is one exchange on source +
    a bounded top-k window. Returns (source, doc_id, quality_score,
    wkey, rk).
    """
    scored = quality_classifier_scores(df)
    uniform = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(16**8))
    keyed = scored.select(
        "source",
        "doc_id",
        "quality_score",
        F.round(F.log(uniform) / F.col("quality_score"), 12).alias("wkey"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("wkey"), F.asc("doc_id"))
    return keyed.withColumn("rk", F.row_number().over(w).cast("long")).where(F.col("rk") <= k)


def corpus_top_p_selection(df: DataFrame, p: float = 0.5) -> DataFrame:
    """Nucleus-style (top-p) corpus truncation per source: order docs
    by classifier quality descending and keep the smallest prefix
    whose score mass reaches ``p`` of the source's total — the
    budgeted selection policy that keeps the best docs while spending
    a fixed fraction of the quality mass (a doc is kept iff the mass
    BEFORE it is < p·total, so the boundary doc is included).

    Determinism: the window cumsum folds scores in one defined order
    (score desc, doc_id asc) in both engines, so the running mass is
    bit-identical, not merely round-close; output rounds to 6.

    Scale shape: scoring is the zero-exchange codegen pass; selection
    is one exchange on source + an ordered window per source. A
    per-source ordered scan serializes that source through one
    partition at extreme SF — at 100 TB replace the exact prefix with
    a score-threshold search (2–3 aggregate passes bisecting the
    threshold), same answer to within one doc; the exact form here is
    what makes the operator oracle-checkable.

    Returns (source, doc_id, quality_score, cum_mass) for kept docs.
    """
    scored = quality_classifier_scores(df)
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    cum = F.sum("quality_score").over(w.rowsBetween(Window.unboundedPreceding, 0))
    total = F.sum("quality_score").over(Window.partitionBy("source"))
    return (
        scored.select(
            "source",
            "doc_id",
            "quality_score",
            cum.alias("_cum"),
            total.alias("_tot"),
        )
        .where(F.col("_cum") - F.col("quality_score") < F.lit(p) * F.col("_tot"))
        .select("source", "doc_id", "quality_score", F.round("_cum", 6).alias("cum_mass"))
    )


def leakage_safe_splits(
    df: DataFrame,
    pairs: DataFrame | None = None,
    val_permille: int = 100,
    test_permille: int = 100,
) -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates
    across splits: the unit of assignment is the near-dup connected
    COMPONENT, not the document. Every doc inherits its component's
    deterministic hash bucket, so a doc and its fuzzed copies land in
    the same split by construction — the policy eval-integrity work
    demands (doc-level random splits put one paraphrase in train and
    its twin in test, inflating eval scores; see the contamination
    literature, e.g. Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better").

    Buckets: md5(component_id) mod 1000 — first ``test_permille``
    buckets → test, next ``val_permille`` → val, rest → train; the
    same engine-portable md5 idiom as deterministic_doc_sample, so
    the assignment is reproducible run-to-run and engine-to-engine.

    Scale shape: the component labels come from the pointer-jumping
    loop (O(log diameter) rounds over the banded pair graph — never
    all-pairs); the assignment itself is one narrow projection on the
    labels, no extra exchange. Returns (doc_id, component_id, split).
    """
    from mapreduce_golang_spark.operators.dedup import near_dup_components

    comp = near_dup_components(df, pairs=pairs)
    bucket = _md5_bucket(F.col("component_id").cast("string"), 1000)
    split = (
        F.when(bucket < F.lit(test_permille), "test")
        .when(bucket < F.lit(test_permille + val_permille), "val")
        .otherwise("train")
    )
    return comp.select("doc_id", "component_id", split.alias("split"))


def split_leakage_audit(
    df: DataFrame,
    pairs: DataFrame | None = None,
    val_permille: int = 100,
    test_permille: int = 100,
) -> DataFrame:
    """Side-by-side leakage audit of two split policies over the SAME
    near-dup pair graph: ``doc_hash`` (the naive policy — bucket each
    doc independently by md5(doc_id)) vs ``component`` (the
    leakage-safe policy above). For each policy it counts the pairs
    whose endpoints landed in different splits — the number the
    component policy drives to zero by construction and the naive
    policy does not; shipping both in one report is the QA artifact
    that justifies the more expensive policy.

    Scale shape: both assignments are narrow maps over doc_id /
    component labels; the audit is two broadcast-free equi-joins of
    the (bounded, banded) pair graph against the assignment table and
    a 2-row agg. Returns (policy, n_pairs, n_cross_pairs,
    leakage_frac) with leakage_frac rounded to 6.
    """
    from mapreduce_golang_spark.operators.dedup import ngram_jaccard_pairs

    if pairs is None:
        # materialize ONCE (the near_dup_pipeline idiom, dedup.py): the
        # components leg eagerly right-sizes its edges in a SEPARATE
        # job at construction time, and separate jobs cannot share
        # exchanges — un-checkpointed, the pair derivation ran once for
        # that setup and again for the two audit legs. Round-14 A/B
        # (scripts/ab_split_audit_ckpt.py at commit 82bf044): 8.83 →
        # 6.30 s min-of-6 interleaved, outputs identical.
        pairs = ngram_jaccard_pairs(df).localCheckpoint(eager=True)

    def _bucket_to_split(bucket):
        return (
            F.when(bucket < F.lit(test_permille), "test")
            .when(bucket < F.lit(test_permille + val_permille), "val")
            .otherwise("train")
        )

    comp_splits = leakage_safe_splits(
        df, pairs=pairs, val_permille=val_permille, test_permille=test_permille
    ).select("doc_id", "split")
    doc_splits = df.select(
        "doc_id",
        _bucket_to_split(_md5_bucket(F.col("doc_id").cast("string"), 1000)).alias("split"),
    )

    def _audit(assign: DataFrame, policy: str) -> DataFrame:
        a = assign.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
        b = assign.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
        return (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .agg(
                F.count("*").cast("long").alias("n_pairs"),
                F.coalesce(
                    F.sum((F.col("split_a") != F.col("split_b")).cast("long")), F.lit(0)
                )
                .cast("long")
                .alias("n_cross_pairs"),
            )
            .select(
                F.lit(policy).alias("policy"),
                "n_pairs",
                "n_cross_pairs",
                F.round(
                    F.when(
                        F.col("n_pairs") > 0,
                        F.col("n_cross_pairs") / F.col("n_pairs"),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("leakage_frac"),
            )
        )

    return _audit(doc_splits, "doc_hash").unionByName(_audit(comp_splits, "component"))


def token_budget_allocation(
    df: DataFrame, budget_ratio: float = 0.5, alpha: float = 0.7
) -> DataFrame:
    """Token-grain training-budget allocation across sources under a
    temperature-α mix: each source's share of a ``budget_ratio``·total
    token budget is (tokens_α-weighted), and the report states how
    many EPOCHS of each source that allocation implies — the
    corpus-composition table an LLM run is actually configured from
    (the per-dataset epochs column in GPT-3/Llama-style data tables;
    α < 1 upsamples small sources, so their epochs exceed 1 while
    giant web crawls train for a fraction of an epoch).

    Scale shape: one per-source token-sum agg (map-side partials),
    a 1-row total broadcast, then an O(sources) projection — the
    whole report is bounded by the number of sources regardless of
    corpus size. Returns (source, n_tokens, mix_weight, alloc_tokens,
    epochs, oversampled), floats rounded to 6; alloc_tokens is kept
    fractional (rounding policy belongs to the consumer).
    """
    toks = _tokens(F.col("text"))
    per_src = (
        df.select("source", F.size(toks).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
    tot = per_src.agg(
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias("wsum"),
        F.sum("n_tokens").cast("double").alias("t_total"),
    )
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)) / F.col("wsum")
    alloc = w * F.lit(budget_ratio) * F.col("t_total")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(w, 6).alias("mix_weight"),
        F.round(alloc, 6).alias("alloc_tokens"),
        F.round(alloc / F.col("n_tokens"), 6).alias("epochs"),
        (alloc > F.col("n_tokens")).alias("oversampled"),
    )


def ccnet_bucket_sample(
    df: DataFrame, keep_middle_permille: int = 500, nll: DataFrame | None = None
) -> DataFrame:
    """Apply the CCNet bucket POLICY (the step after
    ccnet_perplexity_buckets' report): keep every head doc, keep a
    deterministic ``keep_middle_permille``/1000 hash-sample of the
    middle, drop the tail — the keep/sample/drop selection CCNet
    (Wenzek et al. 2020) actually ships downstream, as opposed to the
    bucket-size report beside it.

    The middle sample buckets md5(doc_id) — doc-grain, NOT score-grain
    — so re-scoring the corpus with a better LM changes which docs sit
    in the middle but never re-rolls the sampling dice on docs that
    stay there (stable incremental behavior).

    Scale shape: identical to the report operator — the trigram-NLL
    scoring pass, a ≤ n_langs percentile-cuts broadcast, then one
    narrow filter; the sample adds zero exchanges. Returns (doc_id,
    lang, ppl_bucket) for the kept docs.
    """
    from mapreduce_golang_spark.operators.text_analysis import char_trigram_logprob

    if nll is None:
        nll = char_trigram_logprob(df)
    scored = df.select("doc_id", "lang").join(nll.select("doc_id", "avg_nll"), "doc_id")
    cuts = scored.groupBy("lang").agg(
        F.percentile("avg_nll", F.lit(1.0 / 3.0)).alias("p33"),
        F.percentile("avg_nll", F.lit(2.0 / 3.0)).alias("p66"),
    )
    bucket = (
        F.when(F.col("avg_nll") <= F.col("p33"), "head")
        .when(F.col("avg_nll") <= F.col("p66"), "middle")
        .otherwise("tail")
    )
    keep = (F.col("ppl_bucket") == "head") | (
        (F.col("ppl_bucket") == "middle")
        & (_md5_bucket(F.col("doc_id").cast("string"), 1000) < F.lit(keep_middle_permille))
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select("doc_id", "lang", bucket.alias("ppl_bucket"))
        .where(keep)
    )


def source_token_js_divergence(df: DataFrame, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Jensen–Shannon divergence of each source's token distribution
    vs the REST of the corpus — the symmetric, bounded ([0, ln 2])
    companion to source_quality_drift's KS statistic, computed over
    hashed-token buckets so the contingency table is O(sources ×
    n_buckets) REGARDLESS of vocabulary size (the same
    dimensionality-bounding trick as dsir_importance_weights; a raw
    per-token JS would expand sources × vocab at 100 TB).

    JS(P‖R) = ½Σ P ln(P/M) + ½Σ R ln(R/M), M = (P+R)/2, over the
    full observed bucket grid (a bucket the source never hits still
    contributes its rest-mass term — the grid is densified exactly
    like event_weekday_chi2's). Zero-count conventions: P=0 terms
    drop from the P-sum, R=0 from the R-sum; a single-source corpus
    (empty rest) reports NULL rather than a fake 0.

    Scale shape: one token explode into a hash agg on the BOUNDED
    (source, bucket) key; everything after operates on that ≤
    sources×buckets table — the dense grid is a broadcast cross of
    two tiny dims. Returns (source, n_tokens, js_divergence) rounded
    to 6.
    """
    tok = df.select("source", F.explode(_tokens(F.col("text"))).alias("tok"))
    sb = tok.select("source", _md5_bucket(F.col("tok"), n_buckets).alias("b")).groupBy(
        "source", "b"
    ).agg(F.count("*").cast("double").alias("c_sb"))
    per_b = sb.groupBy("b").agg(F.sum("c_sb").alias("c_b"))
    per_s = sb.groupBy("source").agg(F.sum("c_sb").alias("c_s"))
    total = per_b.agg(F.sum("c_b").alias("c_tot"))
    grid = per_s.crossJoin(F.broadcast(per_b)).crossJoin(F.broadcast(total))
    dense = grid.join(sb, ["source", "b"], "left").select(
        "source",
        "c_s",
        (F.col("c_tot") - F.col("c_s")).alias("c_rest"),
        F.coalesce("c_sb", F.lit(0.0)).alias("p_cnt"),
        (F.col("c_b") - F.coalesce("c_sb", F.lit(0.0))).alias("r_cnt"),
    )
    p = F.col("p_cnt") / F.col("c_s")
    r = F.when(F.col("c_rest") > 0, F.col("r_cnt") / F.col("c_rest"))
    m = (p + r) / 2
    term_p = F.when(F.col("p_cnt") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    term_r = F.when(F.col("r_cnt") > 0, r * F.log(r / m)).otherwise(F.lit(0.0))
    return (
        dense.groupBy("source")
        .agg(
            F.first("c_s").alias("_n"),
            ((F.sum(term_p) + F.sum(term_r)) / 2).alias("_js"),
        )
        .select(
            "source",
            F.col("_n").cast("long").alias("n_tokens"),
            F.round("_js", 6).alias("js_divergence"),
        )
    )
