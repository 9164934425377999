"""Corpus-curation operators for training-data pipelines, beyond the
dedup family: eval-set decontamination, domain-mixture sampling, and
deterministic shard assignment for training-data layout.

Reference parity: the reference repo (template.py, generate_hudi_table.py)
has no corpus curation at all — these are part of the driver's
LLM-pipeline extension mandate, same family as operators/dedup.py and
operators/mlprep.py.

Scale design, per operator:
  * ``contamination_report`` / ``decontaminate`` — the eval side of a
    real decontamination pass is a benchmark suite (10³–10⁶ docs, i.e.
    ≤ a few GB of n-grams), so its distinct n-grams BROADCAST and the
    corpus side stays one embarrassingly-parallel scan + explode with a
    map-side (broadcast) join; the only shuffle is the per-doc hit
    aggregation, keyed by the uniform doc_id.
  * ``mixture_sample`` — per-source keep-probabilities come from one
    tiny aggregate (#sources rows to the driver); the sample itself is
    a stateless filter on a portable 60-bit md5 hash: deterministic,
    zero-shuffle, and reproducible by any engine that has md5 (the
    dedup.py portable-hash playbook).
  * ``assign_shards`` / ``write_training_shards`` — shard = hash(key)
    mod num_shards: uniform by construction, one shuffle keyed by the
    shard id to lay files out, and the assignment is a pure column
    expression any later job can recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query
from .dedup import _shingle_array, _tokens

#: decontamination shingle width. 5 tokens over the fixtures' ~30-word
#: vocabulary gives ~24M possible shingles — random co-occurrence is
#: negligible, so a hit means genuinely shared phrasing (production
#: pipelines use 8-13-gram windows over a 50k-token vocab for the same
#: reason: the window must make chance collisions vanishing).
_DECON_N = 5

#: pseudo-eval split for the driver entry: doc_id % 10 == 7 (10% of the
#: corpus) stands in for the held-out benchmark suite so the entry is
#: self-contained on the fixtures. Production passes a real eval corpus
#: to the library functions instead.
_EVAL_MOD, _EVAL_REM = 10, 7


def _doc_shingles(
    docs: DataFrame, n: int, id_col: str, text_col: str, *, distinct: bool
) -> DataFrame:
    """(id, shingle) pairs of ``docs`` — one narrow projection
    (dedup.py's materialized-token-array rule) + explode.

    ``distinct`` is for the SMALL (eval) side only: it shrinks the
    broadcast. The corpus side must NOT pay that full-corpus shuffle —
    the per-doc ``countDistinct`` downstream dedups anyway, so the
    corpus stays shuffle-free until the final doc_id aggregation."""
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    out = src.withColumn("toks", _tokens()).select(
        "doc_id", F.explode(_shingle_array(F.col("toks"), n)).alias("shingle")
    )
    return out.distinct() if distinct else out


def contamination_report(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = _DECON_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-document eval-set overlap: for every doc in ``docs`` sharing
    at least one n-gram with ``eval_docs``, return
    (doc_id, n_hit_shingles, n_eval_docs) — how many distinct n-grams
    leak and how many distinct eval documents they touch.

    This is the standard test-set-decontamination primitive: before
    training, any document that reproduces benchmark phrasing is
    flagged (and usually dropped — ``decontaminate``). The eval side is
    small by nature (a benchmark suite), so its distinct n-grams are
    broadcast by default; the corpus is scanned once.

    ``broadcast_eval=False`` is the size guard for eval suites too big
    to pin on every executor (the broadcast hint FORCES a build-side
    materialization regardless of size — past a few GB that is an
    executor OOM, not a slowdown): the join falls back to an unhinted
    shuffle join, where AQE still promotes a small-enough eval side to
    a runtime broadcast and a genuinely huge one shuffles safely.
    """
    corpus_sh = _doc_shingles(docs, n, id_col, text_col, distinct=False)
    eval_sh = _doc_shingles(
        eval_docs, n, id_col, text_col, distinct=True
    ).withColumnRenamed("doc_id", "eval_doc_id")
    build = F.broadcast(eval_sh) if broadcast_eval else eval_sh
    return (
        corpus_sh.join(build, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = _DECON_N,
    max_hits: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop every doc whose eval-set n-gram overlap exceeds ``max_hits``
    (default 0: any shared n-gram disqualifies). Returns ``docs`` rows
    that survive, schema unchanged — one broadcast join + one anti-join,
    no corpus shuffle."""
    flagged = (
        contamination_report(docs, eval_docs, n, id_col, text_col)
        .filter(F.col("n_hit_shingles") > max_hits)
        .select(F.col("doc_id").alias(id_col))
    )
    return docs.join(flagged, id_col, "left_anti")


def decontaminate_fuzzy(
    docs: DataFrame,
    eval_docs: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
    max_eval_postings: int = 64,
    cap_report: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """Paraphrase-robust decontamination: drop every doc whose EXACT
    document-level n-gram Jaccard against ANY eval doc is ≥
    ``threshold``.

    Why this exists: exact n-gram decontamination (``decontaminate``)
    only catches VERBATIM benchmark phrasing — a paraphrase that swaps
    a word every ≤4 tokens breaks every 5-gram and walks through it.
    Why it is NOT the banded-MinHash composition the dedup family uses:
    the paraphrase regime that defeats exact 5-grams (changes ≤4
    tokens apart) caps the 3-gram Jaccard near 0.25 — and at J≈0.25
    an 8-band×4-row signature agrees on some band with probability
    1−(1−J⁴)⁸ ≈ 3%; even 16×2 banding recalls <50%. LSH banding is
    the right tool for finding near-DUPLICATES (J ≥ 0.5) inside a
    corpus too big to compare pairwise; here the eval side is a
    benchmark suite — small enough to broadcast — so the exact Jaccard
    is affordable and deterministic where banding would coin-flip.

    Shape: the corpus pays ONE scan emitting 16-byte (doc_id,
    shingle-hash) rows; the distinct, the per-doc size aggregate, and
    the hit join's probe all run over that narrow stream (the same
    shuffle volume the MinHash signature build pays), the eval side
    broadcasts, and everything stays in whole-stage codegen — per-doc
    array surgery (array_distinct∘transform) was measured 8× slower
    because stacked higher-order lambdas evaluate interpreted.
    ``broadcast_eval=False`` is the same big-suite guard as
    ``contamination_report``'s. Run the exact pass too: it is cheaper
    and catches verbatim leakage at any length.

    Scale bound: with ``broadcast_eval=True`` the corpus stream is
    hash-partitioned by doc id, so ONE partition holds all of a
    document's shingles (one 16-byte row per distinct shingle) — fine
    for web documents, a skew hazard only for book-length ones. With
    ``broadcast_eval=False`` the join reshuffles by shingle hash
    anyway, so that doc-id exchange is skipped (it would be pure extra
    shuffle) and no partition needs a whole document.

    Returns ``(clean, report)``: surviving ``docs`` rows (schema
    unchanged) and (doc_id, matched_doc_id, jaccard) naming the
    strongest-matching eval doc per dropped row (max jaccard, min
    eval id tie-break). Shared ids between the frames are NOT excluded
    — matching your own eval twin is precisely a leak.

    ``max_eval_postings`` guards the join fan-out: a shingle present in
    more than that many EVAL docs is boilerplate (or, on a small-
    vocabulary corpus, a chance n-gram) and is dropped from the hit
    join — without it the output is Σ_shingle corpus_postings ×
    eval_postings rows, which on a 30-word-vocabulary fixture measured
    ~30 s at sf0.1 where the capped form takes ~1 s. Same lossy
    trade, same reason, as exact_substring_pairs' postings cap; docs
    whose ONLY overlap is boilerplate shingles score a lower Jaccard
    (denominators are computed before the cap).

    ``cap_report=True`` appends a third returned frame: one lazy row
    (n_hot_shingles, dropped_eval_postings, max_eval_postings)
    quantifying what the eval cap ate — computed off the (small) eval
    shingle table, no corpus cost; the no-silent-caps principle as
    data rather than a docstring.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if max_eval_postings <= 0:
        raise ValueError(
            f"max_eval_postings must be positive, got {max_eval_postings}"
        )
    from .dedup import _shingle_array, _tokens

    # ONE HOF layer then explode, and hash AFTER the explode: shingle
    # identity becomes a 64-bit xxhash (collision-free in practice, the
    # exact_substring_pairs argument) evaluated as a plain codegen'd
    # function over exploded rows. The tempting pure-array form —
    # array_distinct(transform(grams, xxhash)) per doc — stacks
    # higher-order lambdas, which Spark evaluates INTERPRETED
    # (no codegen for HOFs): measured 8.7 s single-task at sf0.1 vs
    # ~1 s for this shape.
    def shingled(
        frame: DataFrame, out_id: str, pre_partition: bool = False
    ) -> DataFrame:
        src = frame.select(
            F.col(id_col).alias(out_id), F.col(text_col).alias("text")
        )
        exploded = (
            src.withColumn("toks", _tokens())
            .select(
                out_id,
                F.explode(_shingle_array(F.col("toks"), n)).alias("shingle"),
            )
            .select(out_id, F.xxhash64("shingle").alias("h"))
        )
        # pre_partition (r12, guide §2.4): hash-partition the exploded
        # stream by doc id BEFORE the distinct. hashpartitioning(doc_id)
        # satisfies the ClusteredDistribution of EVERY downstream
        # corpus-side operator — the (doc_id, h) distinct, the
        # (doc_id, eval_doc_id) pair aggregate, the per-doc size
        # aggregate, the sizes join, and the strongest-match window —
        # so the whole corpus path runs on ONE exchange where the
        # (doc_id, h)-keyed distinct shape paid three (distinct + pair
        # agg + window; A/B at sf0.1: ~30-40% off the query). Trade-off:
        # the map-side partial distinct no longer thins within-doc
        # duplicate shingles before the shuffle (a few % extra bytes on
        # natural text) — two whole corpus-stream shuffles removed buy
        # that back many times over.
        if pre_partition:
            exploded = exploded.repartition(out_id)
        return exploded.distinct()

    # the corpus-side distinct + size aggregation shuffle 16-byte
    # (doc_id, h) rows — the same narrow-shuffle volume the MinHash
    # signature build pays, and far cheaper than per-doc interpreted
    # array surgery
    corpus_sh = shingled(docs, "doc_id", pre_partition=broadcast_eval)
    corpus_sizes = corpus_sh.groupBy("doc_id").agg(
        F.count("*").alias("n_a")
    )
    eval_sh = shingled(eval_docs, "eval_doc_id")
    eval_sizes = eval_sh.groupBy("eval_doc_id").agg(F.count("*").alias("n_b"))
    # fan-out guard (docstring): drop shingles hot on the EVAL side —
    # an aggregate over the (small) eval shingle table, no corpus cost
    hot = (
        eval_sh.groupBy("h")
        .agg(F.count("*").alias("__n_posting"))
        .filter(F.col("__n_posting") > max_eval_postings)
    )
    eval_kept = eval_sh.join(hot.select("h"), "h", "left_anti")
    cap = hot.agg(
        F.count("*").alias("n_hot_shingles"),
        F.coalesce(F.sum("__n_posting"), F.lit(0)).alias(
            "dropped_eval_postings"
        ),
        F.lit(max_eval_postings).alias("max_eval_postings"),
    )
    build = F.broadcast(eval_kept) if broadcast_eval else eval_kept
    # shingle hashes are doc-distinct, so count(*) over the hit join
    # = |A ∩ B|; the size tables complete the Jaccard
    pair = (
        corpus_sh.join(build, "h")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .join(corpus_sizes, "doc_id")
        .join(F.broadcast(eval_sizes), "eval_doc_id")
        .withColumn(
            "jaccard",
            F.col("n_shared")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("eval_doc_id")
    )
    report = (
        pair.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id",
            F.col("eval_doc_id").alias("matched_doc_id"),
            F.round("jaccard", 4).cast("double").alias("jaccard"),
        )
    )
    clean = docs.join(
        report.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )
    return (clean, report, cap) if cap_report else (clean, report)


def _decon_oracle() -> str:
    """DuckDB twin of the driver entry: same normalization/tokenization
    as dedup.py's oracles (single definition of truth for the token
    stream), 5-token shingles via positional self-joins, 10%-of-corpus
    pseudo-eval split, per-doc distinct hit counts."""
    shingle_cols = " || ' ' || ".join(f"t{j}.tok" for j in range(_DECON_N))
    pos_joins = "\n".join(
        f"      JOIN toks t{j} ON t{j}.doc_id = t0.doc_id AND t{j}.pos = t0.pos + {j}"
        for j in range(1, _DECON_N)
    )
    return rf"""
    WITH toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok,
                           generate_subscripts(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), 1) AS pos) t
    ), shingles AS (
      SELECT DISTINCT t0.doc_id, {shingle_cols} AS shingle
      FROM toks t0
{pos_joins}
    ), eval_sh AS (
      SELECT DISTINCT doc_id AS eval_doc_id, shingle FROM shingles
      WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}
    ), train_sh AS (
      SELECT doc_id, shingle FROM shingles
      WHERE doc_id % {_EVAL_MOD} <> {_EVAL_REM}
    )
    SELECT s.doc_id,
           count(DISTINCT s.shingle) AS n_hit_shingles,
           count(DISTINCT e.eval_doc_id) AS n_eval_docs
    FROM train_sh s JOIN eval_sh e ON e.shingle = s.shingle
    GROUP BY s.doc_id
    """


@query("decontaminate", oracle=_decon_oracle())
def decontaminate_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: flag training docs leaking 5-gram phrasing into
    the held-out 10% pseudo-eval split (doc_id % 10 == 7). Returns the
    contamination report — (doc_id, n_hit_shingles, n_eval_docs) for
    every contaminated doc; ``decontaminate`` is the same computation
    ending in an anti-join instead of a report."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _EVAL_MOD == _EVAL_REM
    return contamination_report(d.filter(~is_eval), d.filter(is_eval))


#: doc-level 3-gram Jaccard threshold for the fuzzy driver entry. 0.2
#: sits in a wide gap of the fixture corpora's score distribution (the
#: planted near-dups score ≥ ~0.95, the organic background tops out at
#: ~0.11 at sf0.1, ~0.06 at sf0.001) — a threshold equal to an attained
#: value would be ulp-flaky across plan shapes.
_FUZZY_T = 0.2

#: decontaminate_fuzzy's default eval-postings hot cap — interpolated
#: into the DuckDB twin below so retuning the default cannot silently
#: split the two sides (every other shared constant here already is).
_MAX_EVAL_POSTINGS = 64


def _decon_fuzzy_oracle() -> str:
    """Hash-free DuckDB twin of the fuzzy driver entry: exact doc-level
    3-gram Jaccard from distinct shingle STRINGS (the Spark side
    dedups xxhash64 values — collision-free in practice, so the two
    relations agree), same 10% pseudo-eval split, same eval-side hot
    cap, same max-jaccard/min-id attribution."""
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS s
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)
    ), train_sh AS (
      SELECT doc_id, s FROM sh WHERE doc_id % {_EVAL_MOD} <> {_EVAL_REM}
    ), eval_sh AS (
      SELECT doc_id AS eval_doc_id, s FROM sh
      WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}
    ), sizes_t AS (
      SELECT doc_id, count(*) AS n_a FROM train_sh GROUP BY doc_id
    ), sizes_e AS (
      SELECT eval_doc_id, count(*) AS n_b FROM eval_sh GROUP BY eval_doc_id
    ), hot AS (
      -- the eval-postings fan-out cap (denominators already computed)
      SELECT s FROM eval_sh GROUP BY s HAVING count(*) > {_MAX_EVAL_POSTINGS}
    ), pair AS (
      SELECT t.doc_id, e.eval_doc_id, count(*) AS n_shared
      FROM train_sh t
      JOIN (SELECT e0.* FROM eval_sh e0 LEFT JOIN hot USING (s)
            WHERE hot.s IS NULL) e USING (s)
      GROUP BY t.doc_id, e.eval_doc_id
    ), scored AS (
      SELECT p.doc_id, p.eval_doc_id,
             CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) AS j
      FROM pair p
      JOIN sizes_t USING (doc_id) JOIN sizes_e USING (eval_doc_id)
    ), ranked AS (
      SELECT doc_id, eval_doc_id, j, row_number() OVER (
               PARTITION BY doc_id ORDER BY j DESC, eval_doc_id ASC) AS rn
      FROM scored WHERE j >= {_FUZZY_T}
    )
    SELECT doc_id, eval_doc_id AS matched_doc_id,
           CAST(round(j, 4) AS DOUBLE) AS jaccard
    FROM ranked WHERE rn = 1
    """


@query("decontaminate_fuzzy", oracle=_decon_fuzzy_oracle())
def decontaminate_fuzzy_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`decontaminate_fuzzy` (registered r7,
    funded by retiring ``daily_value_outliers``): exact doc-level
    3-gram Jaccard of the training split against the held-out 10%
    pseudo-eval split (doc_id % 10 == 7), threshold ``_FUZZY_T``.
    Returns the drop report — (doc_id, matched_doc_id, jaccard) naming
    the strongest-matching eval doc for every doc the fuzzy pass would
    remove; the ``clean`` half is the same computation ending in an
    anti-join. The fixture corpora's planted near-dup documents cross
    the modulo split at every SF, so the entry exercises real hits, not
    an empty relation."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _EVAL_MOD == _EVAL_REM
    _clean, report = decontaminate_fuzzy(
        d.filter(~is_eval),
        d.filter(is_eval),
        threshold=_FUZZY_T,
        n=3,
        max_eval_postings=_MAX_EVAL_POSTINGS,  # pinned to the oracle's cap
    )
    return report


# --------------------------------------------------------------------
# domain-mixture sampling
# --------------------------------------------------------------------

#: denominator of the portable 60-bit uniform: hash / 2^60 ∈ [0, 1).
_U_DENOM = float(1 << 60)


def _portable_uniform(key: F.Column, seed: str) -> F.Column:
    """Deterministic uniform [0,1) from a key column: first 15 hex chars
    of md5(key || ':' || seed) as a 60-bit integer. Portable SQL (md5 +
    string + integer ops), same trick as dedup.py's minhash family —
    any engine can recompute membership."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f":{seed}")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") / F.lit(_U_DENOM)


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    seed: str = "mix0",
    source_col: str = "source",
    token_col: str | None = None,
    id_col: str = "doc_id",
) -> tuple[DataFrame, list[dict]]:
    """Downsample a multi-source corpus to a target domain mixture.

    ``weights`` maps source → target share (normalized internally).
    The sample size is the LARGEST total M such that no source is
    oversampled: M = min_s(T_s / w_s) where T_s is the source's
    available mass (row count, or token sum when ``token_col`` is
    given) — i.e. the binding source is kept in full and every other
    source is thinned to match the mixture. Sources absent from
    ``weights`` are dropped (weight 0).

    Membership is a stateless filter: keep iff
    ``u(id, seed) < w_s·M / T_s`` with ``u`` a portable md5-derived
    uniform — deterministic, engine-portable, zero-shuffle, and stable
    under corpus growth (a doc's fate never depends on other docs'
    hashes). Returns (sampled docs, per-source plan rows) — the plan
    records T_s, the keep probability, and the expected mass so the
    pipeline can log its mixture decision.

    Scale: one small aggregate (#sources rows to the driver) plans the
    sample; the sample itself is a filter fused into the scan.
    """
    if not weights:
        raise ValueError("mixture_sample: weights must name at least one source")
    bad = {s: w for s, w in weights.items() if w <= 0}
    if bad:
        raise ValueError(f"mixture_sample: non-positive weights {bad}")
    total_w = sum(weights.values())
    norm = {s: w / total_w for s, w in weights.items()}

    mass = (
        F.sum(F.col(token_col)) if token_col is not None else F.count("*")
    ).alias("mass")
    avail = {
        r["s"]: float(r["mass"])
        for r in docs.groupBy(F.col(source_col).alias("s")).agg(mass).collect()
    }
    missing = sorted(set(norm) - set(avail))
    if missing:
        raise ValueError(f"mixture_sample: sources not in corpus: {missing}")

    M = min(avail[s] / w for s, w in norm.items())
    plan = [
        {
            "source": s,
            "available": avail[s],
            "keep_prob": min(1.0, norm[s] * M / avail[s]),
            "expected": norm[s] * M,
        }
        for s in sorted(norm)
    ]

    expr = None
    for row in plan:
        cond = F.col(source_col) == row["source"]
        expr = (
            F.when(cond, F.lit(row["keep_prob"]))
            if expr is None
            else expr.when(cond, F.lit(row["keep_prob"]))
        )
    prob = expr.otherwise(F.lit(0.0))  # unlisted sources: weight 0, dropped
    sampled = docs.filter(_portable_uniform(F.col(id_col), seed) < prob)
    return sampled, plan


# --------------------------------------------------------------------
# per-source quality-quantile gating
# --------------------------------------------------------------------

#: driver-entry keep fraction: top quarter of each source by quality.
_GATE_KEEP = 0.25


def quality_quantile_gate(
    docs: DataFrame,
    keep_frac: float,
    score_col: str = "quality",
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT per-group quality-quantile gate: keep the top
    ``keep_frac`` of each ``by`` group ranked by ``score_col``
    (descending, ties broken by ``id_col`` ascending so the cut is
    deterministic and engine-portable). Adds ``quality_rank`` (1-based
    within the group). The per-source-quantile policy (rather than one
    global threshold) is the published FineWeb-Edu / DataComp-LM recipe:
    a global cut would empty low-scoring-but-wanted sources entirely.

    Scale: the window partitions by ``by`` — group cardinality is the
    skew axis. With a handful of giant sources (the 100 TB common
    case), each group becomes ONE sort partition; use
    :func:`quality_threshold_gate` there, which replaces the per-group
    sort with a mergeable sketch + broadcast threshold join and keeps
    *approximately* ``keep_frac``. This exact path is for moderate
    group sizes or when an exact, reproducible cut is required
    (e.g. fixed-size curated subsets).
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    w = Window.partitionBy(by).orderBy(F.desc(score_col), F.asc(id_col))
    ranked = docs.withColumn(
        "quality_rank", F.row_number().over(w).cast("bigint")
    ).withColumn("_n_grp", F.count("*").over(Window.partitionBy(by)))
    return ranked.filter(
        F.col("quality_rank") <= F.ceil(F.lit(keep_frac) * F.col("_n_grp"))
    ).drop("_n_grp")


def quality_threshold_gate(
    docs: DataFrame,
    keep_frac: float,
    score_col: str = "quality",
    by: str = "source",
    accuracy: int = 10000,
) -> DataFrame:
    """APPROXIMATE per-group quality gate, the 100 TB path: one
    ``approx_percentile`` aggregation (mergeable sketch — map-side
    partial, #groups rows out) computes each group's score threshold at
    the (1 - keep_frac) quantile, the tiny threshold table broadcasts,
    and the gate is a stateless ``score >= threshold`` filter. No
    per-group sort, no skew exposure: the only shuffle is the sketch
    merge, whose reduce side is #groups rows.

    Keeps *approximately* ``keep_frac`` per group (sketch error ~
    1/accuracy, plus ALL docs tying the threshold score are kept — the
    filter is a clean cut in score space, never an arbitrary split of
    equal-quality docs). Adds the applied ``q_threshold`` so the cut is
    auditable downstream.

    ``docs`` is scanned TWICE — once feeding the sketch, once feeding
    the filter. With a cheap or already-materialized ``score_col``
    that's two narrow column-pruned scans and exactly what you want at
    100 TB. If the score is an expensive expression (the full-text
    regex heuristic, a model score), materialize it first — compute it
    into a table/persisted projection the way ``prepare_training_data``
    computes ``text_profile`` once — or the expression runs twice
    (measured 1.7× end-to-end on the organic 10× corpus, BASELINE.md
    r7).
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    thr = docs.groupBy(by).agg(
        F.percentile_approx(score_col, 1.0 - keep_frac, accuracy).alias(
            "q_threshold"
        )
    )
    # null-SAFE join key: groupBy emits a NULL group (matching the
    # exact gate, whose window treats NULL as a partition value), so a
    # null-unsafe equality here would silently delete every NULL-group
    # doc — the one place the two gates would diverge beyond sketch
    # error
    thr = thr.withColumnRenamed(by, "_gate_by")
    return (
        docs.join(
            F.broadcast(thr),
            on=F.col(by).eqNullSafe(F.col("_gate_by")),
            how="inner",
        )
        .filter(F.col(score_col) >= F.col("q_threshold"))
        .drop("_gate_by")
    )


def _quality_gate_oracle() -> str:
    """DuckDB twin of the driver entry: same shared quality expression
    (textual.quality_sql — single definition of truth with
    ``text_profile``), same round-to-6 before ranking so both engines
    order identical doubles, same (quality DESC, doc_id ASC) tie-break."""
    from .textual import quality_sql

    return f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(round({quality_sql("text")}, 6) AS DOUBLE) AS quality
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id ASC) AS quality_rank,
             count(*) OVER (PARTITION BY source) AS n_grp
      FROM scored)
    SELECT doc_id, source, quality, quality_rank
    FROM ranked
    WHERE quality_rank <= ceil({_GATE_KEEP} * n_grp)
    """


@query("quality_quantile_gate", oracle=_quality_gate_oracle())
def quality_quantile_gate_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: keep each source's top 25% of documents by the
    shared quality heuristic (textual.quality_score_column). Exact
    rank-window path — the oracle-scale variant of the
    ``quality_threshold_gate`` sketch+broadcast design documented (and
    pytest-compared) as the 100 TB plan."""
    from .textual import quality_score_column

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.round(quality_score_column(F.col("text")), 6)
        .cast("double")
        .alias("quality"),
    )
    return quality_quantile_gate(scored, _GATE_KEEP).select(
        "doc_id", "source", "quality", "quality_rank"
    )


# --------------------------------------------------------------------
# deterministic training shards
# --------------------------------------------------------------------


def prepare_training_data(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    max_tokens: int = 256,
    num_shards: int = 4,
    min_quality: float = 0.3,
    mixture: dict[str, float] | None = None,
    max_perplexity: float | None = None,
    lm_vocab_size: int = 1 << 14,
    line_dedup_min_occurrences: int | None = None,
    line_dedup_keep: str = "first",
    line_dedup_count_mode: str = "occurrences",
    substring_dedup_k: int | None = None,
    compression_bounds: tuple[float, float] | None = None,
    compression_min_bytes: int = 256,
    url_col: str | None = None,
    blocked_domains: list | DataFrame | None = None,
    max_docs_per_domain: int | None = None,
    bpe_tokenizer=None,  # BPEModel | int (vocab size to train) | None
    input_quality_rules: list | None = None,
) -> dict:
    """End-to-end training-data preparation over ``documents`` — the
    composition the individual operators exist for:

      0. optional URL stage (``url_col`` names a URL column on the
         documents table): canonical-URL dedup (min-doc_id keep — the
         quality score doesn't exist yet at this point; compose
         ``weburl.url_dedup(quality_col=…)`` manually for
         quality-aware URL dedup), then optional domain blocklist
         (``blocked_domains``) and per-domain cap
         (``max_docs_per_domain``). URL curation runs FIRST because it
         is the cheapest cut — a few hundred bytes per doc, no text
         read (C4/RefinedWeb stage order);
      1. profile + quality gate (``text_profile``'s score ≥ min_quality,
         PII scrubbed — one scan, all JVM expressions);
      1a. optional compressibility gate (``compression_bounds=(lo,
         hi)``): docs whose zlib ratio falls outside the band are
         dropped — low = boilerplate walls the token-level signals can
         miss, ≈1 = incompressible non-text
         (``textual.compression_ratio_column``, fused into the same
         scan as a filter — no extra join or shuffle). Docs under
         ``compression_min_bytes`` BYPASS the band: zlib's fixed
         ~11-byte overhead makes short-doc ratios meaningless (a
         50-byte sentence scores ~1.2) — length policy belongs to the
         quality gate, not this one;
      1b. optional LM-perplexity gate (``max_perplexity``): a unigram LM
         (``scoring.train_unigram_lm``) is fit on the quality-gated
         corpus itself and docs scoring above the threshold are dropped
         — SELF-perplexity mode, which removes only the corpus's own
         weird tail (noise, boilerplate, wrong-language shards). The
         CCNet form — scoring against a curated reference LM — is the
         same machinery with the LM trained on a reference frame
         instead; callers wanting it use scoring.py directly;
      2. exact dedup (keep the min-doc_id row per content fingerprint);
      2a. optional corpus-wide LINE dedup (``line_dedup_min_occurrences``
         — the CCNet/RefinedWeb boilerplate pass, ``dedup.dedup_lines``
         with ``line_dedup_keep`` 'first' or 'none'): lines whose
         normalized form repeats across the corpus are cut, and
         ``n_tokens_ws`` is recomputed so packing sees post-cut
         lengths. Runs BEFORE the substring cut: it is the cheaper
         pass (one hash groupBy, no window explosion) and removing
         whole boilerplate blocks first shrinks the substring stage's
         window stream;
      2b. optional substring dedup (``substring_dedup_k``): duplicated
         k-token spans are CUT from all but one canonical occurrence
         (``dedup.remove_shared_substrings``, the Lee et al. removal
         pass) and ``n_tokens_ws`` is recomputed from the cleaned text
         so the packing budgets downstream see post-cut lengths;
      3. eval-set decontamination (the 10% pseudo-eval split held out
         AND its 5-gram phrasing anti-joined away);
      3b. optional EXACT token accounting (``bpe_tokenizer``): a
         :mod:`tokenizer` BPE model — passed trained, or an int vocab
         size to train on the surviving corpus itself (one histogram
         scan + bounded driver loop) — recounts every doc, and the
         mixture weights, pack budgets, and shard token stats all
         switch from the whitespace estimate to the counts the
         training run will actually see. Runs after decontamination
         so a trained-here model never sees dropped text;
      4. optional domain-mixture downsampling (``mixture`` weights);
      5. sequence packing to ``max_tokens`` (``mlprep.pack_sequences``);
      6. deterministic shard layout (``write_training_shards``) with
         doc text + pack assignment, ready for a data-parallel trainer.

    Returns a stats dict with per-stage row counts and the per-shard
    stats rows — the pipeline's audit record. Stage counts are one
    cheap job each on the cached survivor frame; at petabyte scale
    you would log the same counts from the final write's metrics
    instead.

    Stage ORDER is the standard one for a reason: the quality gate and
    dedup shrink the corpus before the (broadcast-join) decontamination
    pass, and packing runs last so pack budgets see only surviving
    docs.
    """
    from .mlprep import pack_sequences
    from .textual import text_profile
    from ..functions.text import scrub_pii

    # fail-fast on stage-2a params: both are known before any Spark
    # job, and dedup_lines would otherwise raise only AFTER the quality
    # gate / zlib scan / LM train have burned hours at corpus scale
    if line_dedup_min_occurrences is not None:
        if line_dedup_min_occurrences < 2:
            raise ValueError(
                "line_dedup_min_occurrences must be ≥ 2, got "
                f"{line_dedup_min_occurrences}"
            )
        if line_dedup_keep not in ("first", "none"):
            raise ValueError(
                f"line_dedup_keep must be 'first' or 'none', got "
                f"{line_dedup_keep!r}"
            )
        if line_dedup_count_mode not in ("occurrences", "docs"):
            raise ValueError(
                "line_dedup_count_mode must be 'occurrences' or 'docs', "
                f"got {line_dedup_count_mode!r}"
            )

    d = load_table(spark, sf_dir, "documents")
    # `is not None`, not truthiness: an EMPTY list (a mis-keyed config
    # section) must raise run_checks's "empty rule list", not silently
    # skip the gate the operator believes is in force
    if input_quality_rules is not None:
        from .quality import expect

        # DQ circuit breaker on the INPUT table before any funnel
        # stage spends compute: a half-loaded or schema-drifted
        # documents table fails here in one cheap aggregate, not three
        # stages deep (and never as silently-garbage training shards)
        expect(d, input_quality_rules)
    # the decontamination eval split must come from the FULL table —
    # a URL-deduped/blocked/capped eval doc still must have its
    # phrasing anti-joined out of training (stage 3's contract)
    d_full = d
    n_url_dedup = n_domain_filter = n_domain_cap = None
    url_cache = None
    if url_col is not None:
        from .weburl import cap_per_domain, domain_filter, url_dedup

        if url_col not in d.columns:
            raise ValueError(
                f"url_col {url_col!r} not in documents columns {d.columns}"
            )
        # persist BEFORE the stage counts: the counts are the first
        # actions on this chain, and each would otherwise replay the
        # canonicalize + window-dedup shuffle from the table scan (3
        # extra full URL passes at corpus scale). The cache sits at the
        # dedup output — the one expensive shuffle; the filter/cap
        # stages on top of it are broadcast joins, cheap to re-run both
        # for their own counts and for the downstream funnel.
        url_cache = url_dedup(d, url_col=url_col).drop(
            "canon_url", "n_url_dups"
        ).persist()
        d = url_cache
        n_url_dedup = d.count()
        if blocked_domains is not None:
            d = domain_filter(d, blocked_domains, url_col=url_col)
            n_domain_filter = d.count()
        if max_docs_per_domain is not None:
            d = cap_per_domain(d, max_docs_per_domain, url_col=url_col)
            n_domain_cap = d.count()
    elif blocked_domains is not None or max_docs_per_domain is not None:
        raise ValueError(
            "blocked_domains / max_docs_per_domain require url_col"
        )
    # NOTE: text_profile scans the full table; URL-dropped rows vanish
    # at the doc_id join below. At petabyte scale, push the URL stage
    # into the profile scan (score only survivors) by materializing the
    # URL-curated frame first — the join keeps this composition correct
    # either way.
    profile = text_profile(spark, sf_dir).select(
        "doc_id", "fingerprint", "quality", "n_tokens_ws", "lang_pred"
    )
    docs = d.join(profile, "doc_id").withColumn("text", scrub_pii("text"))
    n_input = docs.count()

    gated = docs.filter(F.col("quality") >= min_quality)
    n_quality = gated.count()

    n_compression = n_quality
    n_perplexity = n_quality
    gate_cache = None
    line_cache = None
    substring_cache = None
    train = None
    # finally-scoped unpersists: the funnel between the gate's persist
    # and the final stats is long and has real error paths (mixture
    # validation, empty-corpus LM train) — an exception must not leak
    # a cached full-corpus frame for the session's lifetime
    try:
        if compression_bounds is not None:
            lo, hi = compression_bounds
            if not (0.0 <= lo < hi):
                raise ValueError(
                    "compression_bounds must satisfy 0 <= lo < hi, got "
                    f"({lo}, {hi})"
                )
            from .textual import compression_ratio_column

            # short docs bypass the band (docstring: zlib's fixed
            # overhead makes their ratio meaningless); persist the
            # survivors — the zlib scan is the funnel's most expensive
            # single pass and every downstream stage count would
            # otherwise replay it
            gated = gated.filter(
                (F.octet_length(F.coalesce(F.col("text"), F.lit("")))
                 < compression_min_bytes)
                | compression_ratio_column("text").between(lo, hi)
            )
            gate_cache = gated.persist()
            n_compression = gated.count()
            n_perplexity = n_compression

        if max_perplexity is not None:
            if max_perplexity <= 1.0:
                # unigram self-perplexity is exp(−avg ln p) over p < 1,
                # so it is ALWAYS > 1 — a threshold at or below 1
                # silently drops the whole corpus, never what was meant
                raise ValueError(
                    f"max_perplexity must be > 1, got {max_perplexity}"
                )
            from .scoring import lm_score, train_unigram_lm

            # cache the gated frame for the WHOLE remaining funnel, not
            # just the gate: it feeds the LM train, the score join (both
            # sides), and — through the survivor join — every later
            # stage's action (dedup count, decontaminate, mixture
            # planning, the final cache), each of which would otherwise
            # replay the profile join + LM scoring from scratch.
            # Released early once the survivors' own cache materializes
            # (n_sampled below); the finally covers error paths.
            # Zero-token docs (empty after scrubbing) score perplexity
            # +inf and are dropped here explicitly when the gate is on.
            # (The compression gate may have persisted already — reuse.)
            if gate_cache is None:
                gate_cache = gated.persist()
            vocab, lm_stats = train_unigram_lm(
                gate_cache, vocab_size=lm_vocab_size
            )
            keep = (
                lm_score(gate_cache, vocab, lm_stats["oov_logp"])
                .filter(F.col("perplexity") <= max_perplexity)
                .select("doc_id")
            )
            gated = gate_cache.join(keep, "doc_id")
            n_perplexity = gated.count()

        # exact dedup: min doc_id per fingerprint (dedup.py keeper rule)
        keeper = gated.groupBy("fingerprint").agg(
            F.min("doc_id").alias("doc_id")
        )
        deduped = gated.join(keeper, ["fingerprint", "doc_id"])
        n_dedup = deduped.count()

        n_lines_removed = 0
        if line_dedup_min_occurrences is not None:
            from .dedup import dedup_lines

            cut_lines = dedup_lines(
                deduped,
                min_occurrences=line_dedup_min_occurrences,
                keep=line_dedup_keep,
                count_mode=line_dedup_count_mode,
            ).withColumn(
                # packing reads n_tokens_ws — recompute from the cut
                # text (same contract as the substring stage below)
                "n_tokens_ws",
                F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")),
            )
            # persist for the same reason as the substring stage: the
            # removed-line stat, every later stage count, and the
            # survivors' cache would otherwise each replay the line
            # hash groupBy + surgery. Released once `train`
            # materializes; finally covers errors.
            line_cache = cut_lines.persist()
            n_lines_removed = (
                line_cache.agg(F.sum("n_lines_removed")).first()[0] or 0
            )
            deduped = line_cache.drop("n_lines_removed")

        n_substring_tokens_removed = 0
        if substring_dedup_k is not None:
            from .dedup import remove_shared_substrings

            cut = remove_shared_substrings(
                deduped, k=substring_dedup_k
            ).withColumn(
                # packing reads n_tokens_ws — it must reflect the CUT
                # text, or pack budgets overcount removed spans
                "n_tokens_ws",
                F.size(F.filter(F.split("text", r"\s+"), lambda t: t != "")),
            )
            # persist the surgery output: the removed-token stat below,
            # the decontaminate count, and the survivors' cache would
            # otherwise each replay the window-hash marking + token
            # surgery (the iterative-replay trap, funnel edition).
            # Released once `train` materializes; finally covers errors.
            substring_cache = cut.persist()
            n_substring_tokens_removed = (
                substring_cache.agg(F.sum("n_tokens_removed")).first()[0] or 0
            )
            deduped = substring_cache.drop("n_tokens_removed")

        is_eval = F.col("doc_id") % _EVAL_MOD == _EVAL_REM
        # scrub the eval side too: train text is already scrubbed, and
        # decontamination must compare like-for-like (a PII placeholder
        # on one side only would silently break shingle matches)
        eval_docs = d_full.filter(is_eval).withColumn("text", scrub_pii("text"))
        train = decontaminate(deduped.filter(~is_eval), eval_docs)
        n_decontam = train.count()

        token_col = "n_tokens_ws"
        bpe_report = None
        if bpe_tokenizer is not None:
            from .tokenizer import BPEModel, tokenize_bpe, train_bpe

            model = (
                bpe_tokenizer
                if isinstance(bpe_tokenizer, BPEModel)
                else train_bpe(train, vocab_size=int(bpe_tokenizer))
            )
            bpe_report = dict(model.train_report)
            # count-only mode: the token arrays would bloat every
            # shard AND cost the Arrow transfer of the full subword
            # list per doc — the funnel packs/weighs by count alone
            train = tokenize_bpe(
                train, model, out_col=None, count_col="n_tokens_bpe"
            )
            token_col = "n_tokens_bpe"
            # cache the tokenized frame BEFORE mixture_sample's eager
            # per-source-mass collect: the BPE pass is the costliest
            # stage in the funnel and would otherwise run twice (once
            # for the masses, once when `train` materializes below)
            train = train.cache()
            bpe_cache = train
        else:
            bpe_cache = None

        plan = None
        if mixture:
            train, plan = mixture_sample(
                train, mixture, token_col=token_col
            )
        train = train.cache()
        n_sampled = train.count()
        if bpe_cache is not None and bpe_cache is not train:
            bpe_cache.unpersist()  # survivors materialized in `train`
        if gate_cache is not None:
            gate_cache.unpersist()  # survivors materialized in `train`
        if line_cache is not None:
            line_cache.unpersist()  # ditto for the line-cut output
        if substring_cache is not None:
            substring_cache.unpersist()  # ditto for the surgery output

        packs = pack_sequences(train, max_tokens, token_col=token_col)
        final = train.join(
            packs.select("doc_id", "pack_id", "seq_offset"), "doc_id"
        )
        shard_stats = write_training_shards(
            final, out_path, num_shards, token_col=token_col
        )
        return {
            "n_after_url_dedup": n_url_dedup,
            "n_after_domain_filter": n_domain_filter,
            "n_after_domain_cap": n_domain_cap,
            "n_input": n_input,
            "n_after_quality": n_quality,
            "n_after_compression": n_compression,
            "n_after_perplexity": n_perplexity,
            "n_after_dedup": n_dedup,
            "n_lines_removed": n_lines_removed,
            "n_substring_tokens_removed": n_substring_tokens_removed,
            "n_after_decontam": n_decontam,
            "n_after_mixture": n_sampled,
            "mixture_plan": plan,
            "bpe_report": bpe_report,
            "shards": [r.asDict() for r in shard_stats.collect()],
        }
    finally:
        if url_cache is not None:
            url_cache.unpersist()
        if gate_cache is not None:
            gate_cache.unpersist()  # no-op when already released above
        if line_cache is not None:
            line_cache.unpersist()  # no-op when already released
        if substring_cache is not None:
            substring_cache.unpersist()  # no-op when already released
        if train is not None:
            train.unpersist()


def assign_shards(
    df: DataFrame,
    num_shards: int,
    seed: int = 0,
    key_col: str = "doc_id",
    shard_col: str = "shard",
) -> DataFrame:
    """Add a deterministic shard id: xxhash64(key, seed) mod num_shards.
    Uniform by construction (64-bit avalanche over num_shards buckets),
    recomputable by any later job as a pure column expression — the
    training-data layout key, not a random split."""
    if num_shards <= 0:
        raise ValueError(f"num_shards must be positive, got {num_shards}")
    return df.withColumn(
        shard_col,
        F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(num_shards)).cast("int"),
    )


def write_training_shards(
    df: DataFrame,
    out_path: str,
    num_shards: int,
    seed: int = 0,
    key_col: str = "doc_id",
    token_col: str | None = None,
) -> DataFrame:
    """Shard-partitioned training layout: assign shards, cluster rows by
    shard (one shuffle keyed by the uniform shard id), write hive-style
    ``shard=<k>/`` directories, and return per-shard stats
    (shard, n_rows[, n_tokens]) read back from the written layout —
    stats come from the files, not the plan, so they certify what
    actually landed.

    A trainer then reads ``shard=<k>`` with partition pruning — each
    data-parallel rank's input is a directory listing, no global
    shuffle at read time."""
    sharded = assign_shards(df, num_shards, seed, key_col)
    sharded.repartition(num_shards, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(out_path)
    # explicit schema: an EMPTY input writes only the _SUCCESS marker,
    # and schema inference over zero files raises — an empty corpus
    # must yield empty stats, not a crash (the funnel's impossible-gate
    # path hits this)
    written = df.sparkSession.read.schema(sharded.schema).parquet(out_path)
    aggs = [F.count("*").alias("n_rows")]
    if token_col is not None:
        aggs.append(F.sum(token_col).alias("n_tokens"))
    return written.groupBy("shard").agg(*aggs)
