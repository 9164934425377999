"""Text-analysis operators over ``documents`` (SURVEY.md §2.7 X10 and the
LLM-pipeline extension set): token statistics, quality scoring,
language-ID heuristic, document fingerprinting, term frequencies /
TF-IDF, winnowing fingerprints, chunking, sampling + split assignment.

Everything is built-in-function only (JVM-side, codegen) — regexes and
hashes, no Python UDFs in the hot path. That keeps a 100 TB document
sweep a single embarrassingly-parallel scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query, session_memo

#: tiny stopword marker sets for the language-ID heuristic (public
#: common-word lists; intentionally minimal — the heuristic, not the
#: lexicon, is the operator).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def _word_re(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def quality_score_column(text: F.Column) -> F.Column:
    """The corpus quality heuristic, UNROUNDED: a weighted blend of
    length saturation (docs ≥500 chars max out), alpha-char ratio, and
    ' the ' stopword density (capped at 5 occurrences). One definition
    shared by ``text_profile``, the training funnel's quality gate, and
    ``curation.quality_quantile_gate`` — a local copy in any of them
    would silently drift the gate from the reported score. Callers
    round (``F.round(..., 6)``) before comparing or ordering so both
    engines agree bit-for-bit. SQL twin: :func:`quality_sql`."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    the_count = (
        F.length(padded) - F.length(F.replace(padded, F.lit(" the "), F.lit("")))
    ) / 5.0
    return (
        0.4 * F.least(F.length(text) / 500.0, F.lit(1.0))
        + 0.3
        * (
            F.length(F.regexp_replace(text, "[^a-zA-Z ]", "")).cast("double")
            / F.greatest(F.length(text), F.lit(1))
        )
        + 0.3 * F.least(the_count / 5.0, F.lit(1.0))
    )


def quality_sql(c: str = "text") -> str:
    """DuckDB twin of :func:`quality_score_column` (same term order —
    float addition is not associative, so reordering would break the
    bit-identical round(…, 6) contract the oracles rely on)."""
    return (
        f"0.4 * least(length({c}) / 500.0, 1.0)\n"
        f"           + 0.3 * (length(regexp_replace({c}, '[^a-zA-Z ]', '', 'g'))"
        f" * 1.0 / greatest(length({c}), 1))\n"
        f"           + 0.3 * least((length(' ' || {c} || ' ')\n"
        f"                          - length(replace(' ' || {c} || ' ', ' the ', ''))) / 5.0 / 5.0, 1.0)"
    )


# normalization/tokenization come FROM dedup so the fingerprint and
# token stream can never desynchronize from the dedup family (they are
# documented as the same key; a local copy would drift silently)
from .dedup import _norm_text, _tokens  # noqa: E402


@query(
    "text_profile",
    oracle=rf"""
    WITH scored AS (
      SELECT doc_id, lang, source, text,
             len(regexp_extract_all(lower(text), '{_word_re(_LANG_MARKERS["en"])}')) AS s_en,
             len(regexp_extract_all(lower(text), '{_word_re(_LANG_MARKERS["es"])}')) AS s_es,
             len(regexp_extract_all(lower(text), '{_word_re(_LANG_MARKERS["fr"])}')) AS s_fr,
             len(regexp_extract_all(lower(text), '{_word_re(_LANG_MARKERS["de"])}')) AS s_de
      FROM documents)
    SELECT doc_id, lang, source,
           length(text) AS n_chars,
           length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS n_tokens_ws,
           CAST(floor(length(replace(text, ' ', '')) / 4.0) AS BIGINT)
             AS n_tokens_bpe_est,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
           CAST(round(
             {quality_sql("text")}
           , 6) AS DOUBLE) AS quality,
           s_en, s_es, s_fr, s_de,
           CASE greatest(s_en, s_es, s_fr, s_de)
             WHEN 0 THEN 'und'
             WHEN s_en THEN 'en'
             WHEN s_es THEN 'es'
             WHEN s_fr THEN 'fr'
             ELSE 'de' END AS lang_pred
    FROM scored
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile in ONE scan: token counting (whitespace
    count + the chars/4 BPE-ish estimate, via length arithmetic so both
    engines' semantics are trivially identical), the MD5 content
    fingerprint (the exact-dedup key of operators/dedup.py), a quality
    score (weighted blend of length saturation, alpha-char ratio and
    stopword density — the standard cheap pre-filter before expensive
    LLM-pipeline stages), and the language-ID heuristic (marker-stopword
    counts per language, argmax with fixed priority order en>es>fr>de,
    'und' when nothing hits)."""
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    trimmed = F.trim(text)
    norm = _norm_text()
    low = F.lower(text)
    quality = quality_score_column(text)
    scores = {
        lang: F.size(F.regexp_extract_all(low, F.lit(_word_re(words)), 0))
        for lang, words in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = (
        F.when(best == 0, F.lit("und"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["es"] == best, F.lit("es"))
        .when(scores["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.length(text).alias("n_chars"),
        (
            F.length(trimmed) - F.length(F.replace(trimmed, F.lit(" "), F.lit(""))) + 1
        ).alias("n_tokens_ws"),
        F.floor(F.length(F.replace(text, F.lit(" "), F.lit(""))) / 4.0)
        .cast("bigint")
        .alias("n_tokens_bpe_est"),
        F.md5(norm).alias("fingerprint"),
        F.round(quality, 6).cast("double").alias("quality"),
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["fr"].alias("s_fr"),
        scores["de"].alias("s_de"),
        pred.alias("lang_pred"),
    )


@query(
    "doc_winnowing_fingerprints",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok,
             generate_subscripts(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), 1) AS pos
      FROM documents
    ), grams AS (
      SELECT a.doc_id, a.pos,
             md5(a.tok || ' ' || b.tok || ' ' || c.tok) AS h
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ), windowed AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS win_min
      FROM grams
    )
    SELECT doc_id, count(DISTINCT win_min) AS n_fingerprints,
           min(win_min) AS min_fingerprint
    FROM windowed
    WHERE pos >= 4
    GROUP BY doc_id
    """,
    retired=True,  # r11: slot funded stream_ivm_star_report (VERDICT
    # r10 #4); the window-hash machinery stays driver-green via the
    # substring-dedup family (exact_substring_pairs,
    # substring_incremental share the rolling-window-min primitives),
    # and this entry keeps its full oracle under test_retired_parity
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (the MOSS local-fingerprint scheme, published by
    Schleimer/Wilkerson/Aiken): hash every 3-gram, slide a window of 4
    hashes, keep each window's minimum — a position-robust fingerprint
    set whose size is ~1/4 of the grams. md5 keeps the hash identical
    across engines so the whole pipeline is oracle-checkable.

    Per-doc window = one partition of a window frame keyed by doc_id —
    embarrassingly parallel at any corpus size.
    """
    from .dedup import _shingle_array

    d = load_table(spark, sf_dir, "documents").withColumn("__toks", _tokens())
    grams = d.select(
        "doc_id", F.posexplode(_shingle_array(F.col("__toks"))).alias("pos0", "g")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("g").alias("h")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-3, Window.currentRow)
    )
    windowed = grams.withColumn("win_min", F.min("h").over(w))
    return (
        windowed.filter(F.col("pos") >= 4)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("win_min").alias("n_fingerprints"),
            F.min("win_min").alias("min_fingerprint"),
        )
    )


@query(
    "tf_idf",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM toks WHERE tok <> '' GROUP BY tok
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok, tf.tf, df.df,
           CAST(round(tf.tf * ln((SELECT n_docs FROM n) * 1.0 / df.df), 6) AS DOUBLE)
             AS tf_idf
    FROM tf JOIN df USING (tok)
    WHERE df.df <= 0.5 * (SELECT n_docs FROM n)
    """,
)
def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term/document frequency + TF-IDF per (doc, term), dropping terms
    present in more than half the corpus (standard stop-term cut). The
    explode multiplies rows ~100×, but partial aggregation collapses
    them again before the shuffle; then one broadcast join on the
    (small) document-frequency table. ln() is IEEE-identical across
    engines and the product is rounded for hash parity."""
    d = load_table(spark, sf_dir, "documents")
    # corpus size as a LAZY 1-row aggregate broadcast into the plan (a
    # driver-side d.count() here would run a job during plan BUILD and
    # serialize callers — VERDICT r4 nit)
    n = d.agg(F.count("*").alias("n_docs"))
    toks = d.select("doc_id", F.explode(_tokens()).alias("tok")).filter(
        F.col("tok") != ""
    )
    from pyspark import StorageLevel

    # cached per (applicationId, sf_dir) so repeat invocations reuse
    # one persisted tf table instead of pinning a new session-lifetime
    # copy per call
    tf = session_memo(
        spark,
        "tf_table",
        sf_dir,
        lambda: toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    # df derives from tf (one row per (doc, tok) ⇒ count(*) per tok ==
    # countDistinct(doc)), NOT from a second explode of the corpus —
    # saves a full tokenize+explode pass and shuffles the already-
    # aggregated set; tf itself feeds both df and the final join
    df = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") <= 0.5 * F.col("n_docs"))
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            )
            .cast("double")
            .alias("tf_idf"),
        )
    )


@query(
    "sample_split_assign",
    retired=True,  # r7: slot funded bloom_point_lookup — the portable-
    # hash split/sample arithmetic stays value-checked here via the
    # retired registry (tests/test_retired_parity.py) and the same
    # md5-prefix hash convention is driver-checked inside
    # dedup_minhash_lsh/knn_approx
    oracle="""
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                  THEN 'train' ELSE 'val' END AS split,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0)
               AS sampled
      FROM documents)
    SELECT lang, split,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM assigned GROUP BY lang, split
    """,
)
def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling + train/val split in one pass, stratified
    by lang: a 90/10 split and a 10% sample gate, both by
    content-independent key hash (md5 of doc_id — stable across runs,
    engines, and partitionings; never random() which reshuffles every
    run). The per-row gate is a pushable scan-side predicate expression
    — no shuffle to sample; the summary shape is oracle-checked and the
    per-row assignment is the same expression."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
    )
    assigned = d.select(
        "doc_id",
        "lang",
        F.when(bucket % 100 < 90, "train").otherwise("val").alias("split"),
        (bucket % 10 == 0).alias("sampled"),
    )
    return assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("sampled"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "doc_chunking",
    retired=True,  # r7: slot funded url_canonical_dedup; the substr
    # arithmetic / explode(sequence) primitives stay driver-green via
    # exact_substring_pairs (windowing) and the shingle explodes in
    # decontaminate/tf_idf, this entry via test_retired_parity
    oracle="""
    WITH params AS (SELECT 200 AS chunk, 50 AS stride)
    SELECT doc_id, chunk_idx,
           substr(text, chunk_idx * (SELECT chunk - stride FROM params) + 1,
                  (SELECT chunk FROM params)) AS chunk_text,
           length(substr(text, chunk_idx * (SELECT chunk - stride FROM params) + 1,
                         (SELECT chunk FROM params))) AS chunk_len
    FROM documents,
         LATERAL (SELECT unnest(generate_series(0,
                    CAST(ceil(greatest(length(text) - 50, 1) / 150.0) AS BIGINT) - 1))
                  AS chunk_idx)
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (chunk 200 chars, stride 150 =
    overlap 50) — the standard long-document preprocessing for LLM
    training/embedding. Pure sequence+substring expressions; explode
    multiplies rows but each chunk is emitted exactly once with a
    deterministic index."""
    chunk, overlap = 200, 50
    stride = chunk - overlap
    d = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(
        F.greatest(F.length("text") - overlap, F.lit(1)) / float(stride)
    ).cast("bigint")
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(f"substr(text, chunk_idx * {stride} + 1, {chunk})").alias(
                "chunk_text"
            ),
            F.length(
                F.expr(f"substr(text, chunk_idx * {stride} + 1, {chunk})")
            ).alias("chunk_len"),
        )
    )


def repetition_signals(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style n-gram repetition quality signals, per document:

      * ``top_ngram_frac`` — fraction of the doc's tokens covered by
        occurrences of its single most frequent n-gram (high = the doc
        loops on one phrase);
      * ``dup_ngram_frac`` — fraction of tokens covered by n-grams that
        occur more than once (high = templated/boilerplate text).

    Returns (id, n_tokens, top_ngram_frac, dup_ngram_frac). Docs
    shorter than ``n`` tokens score 0 on both (nothing to repeat).

    These are the published Gopher/MassiveText repetition filters
    re-expressed over token counts; thresholds (e.g. drop when the
    top 2-gram covers > 0.2) are corpus policy, not operator logic.

    Scale: one explode + ONE shuffle keyed by (doc, gram) — uniform
    keys (docs bound the per-key fan-in), then a per-doc combine. The
    cheap zero-shuffle siblings (``repetition_ratio``,
    ``duplicate_line_fraction``, functions/text.py) gate first;
    this operator is the precise second-pass signal.
    """
    from .dedup import _shingle_array, _tokens

    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    toks = src.withColumn("toks", _tokens()).select(
        "doc_id", F.size("toks").alias("n_tokens"), F.col("toks")
    )
    grams = toks.select(
        "doc_id",
        "n_tokens",
        F.explode(_shingle_array(F.col("toks"), n)).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "n_tokens", "gram").agg(
        F.count("*").alias("cnt")
    )
    per_doc = per_gram.groupBy("doc_id", "n_tokens").agg(
        F.max("cnt").alias("top_cnt"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).alias(
            "dup_cnt"
        ),
    )
    signals = per_doc.select(
        "doc_id",
        "n_tokens",
        F.least(F.col("top_cnt") * n / F.col("n_tokens"), F.lit(1.0)).alias(
            "top_ngram_frac"
        ),
        F.least(F.col("dup_cnt") * n / F.col("n_tokens"), F.lit(1.0)).alias(
            "dup_ngram_frac"
        ),
    )
    # docs with < n tokens produce no grams, and docs with ≥ n tokens
    # always produce at least one — the two populations are disjoint
    # and exhaustive, so restoring short docs is a UNION of a filtered
    # second scan, not a join back to the aggregate (a join would add a
    # whole corpus-keyed shuffle to every run for the same rows)
    short = toks.filter(F.col("n_tokens") < F.lit(n)).select(
        "doc_id",
        "n_tokens",
        F.lit(0.0).alias("top_ngram_frac"),
        F.lit(0.0).alias("dup_ngram_frac"),
    )
    return signals.unionByName(short)


def _zlib_sizes(level: int, max_bytes: int | None = None):
    """Arrow-batched (measured_bytes, compressed_bytes) pandas UDF at a
    pinned DEFLATE level — shared by :func:`compression_signals` and
    the inline :func:`compression_ratio_column`. With ``max_bytes``,
    only the doc's first ``max_bytes`` UTF-8 bytes are compressed and
    measured (a byte-boundary truncation may split a multibyte char —
    harmless, zlib sees bytes); ``None`` compresses everything."""
    if max_bytes is not None and max_bytes <= 0:
        raise ValueError(f"max_bytes must be positive or None, got {max_bytes}")

    @F.pandas_udf("array<long>")
    def _sizes(s: pd.Series) -> pd.Series:
        import zlib

        def one(t: str | None) -> list[int]:
            if not t:
                return [0, 0]
            b = t.encode("utf-8")
            if max_bytes is not None:
                b = b[:max_bytes]
            return [len(b), len(zlib.compress(b, level))]

        return pd.Series([one(t) for t in s])

    return _sizes


def _ratio_from_sizes(sz):
    """compressed/raw from a (raw, compressed) sizes array; empty/NULL
    text (raw 0) scores the neutral 1.0. ONE definition shared by the
    frame operator and the fused column so the two can never drift."""
    return F.when(F.element_at(sz, 1) <= 0, F.lit(1.0)).otherwise(
        F.element_at(sz, 2).cast("double") / F.element_at(sz, 1).cast("double")
    )


def compression_ratio_column(
    text_col: str = "text", level: int = 6, max_bytes: int | None = 65536
):
    """The compression ratio as a plain COLUMN expression (empty/NULL
    → 1.0), for fusing the gate into an existing scan — e.g.
    ``prepare_training_data``'s quality stage — without the separate
    frame + join that :func:`compression_signals` implies. Mind the
    short-doc caveat on :func:`compression_signals` when thresholding;
    ``max_bytes`` caps the measured prefix the same way (see there)."""
    return _ratio_from_sizes(_zlib_sizes(level, max_bytes)(F.col(text_col)))


def compression_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    max_bytes: int | None = 65536,
) -> DataFrame:
    """Per-document zlib compression ratio — the published
    "compressibility" quality signal (used alongside the Gopher
    repetition rules: highly repetitive/templated text compresses far
    below natural prose, machine-generated gibberish barely compresses
    at all). Returns (id, n_bytes, compressed_bytes, compression_ratio)
    where ratio = compressed/uncompressed — LOW ratios flag boilerplate
    walls, HIGH ratios (≈1 for long docs, incompressible) flag
    random-ish non-text; both tails are drop candidates. Thresholds
    are corpus policy, not operator logic.

    SHORT-DOC caveat: zlib's fixed ~11-byte header/checksum overhead
    dominates small inputs, so a legitimate 50-byte sentence scores
    ~1.2 and an 11-byte one ~1.7 — the ratio is only meaningful once
    ``n_bytes`` is a few hundred. Threshold ON TOP of a length floor
    (``prepare_training_data``'s gate bypasses docs under
    ``compression_min_bytes`` for exactly this reason) rather than
    assuming the ratio is ≤ ~1.1 for all real text.

    Empty/NULL text scores ratio 1.0 with 0 bytes (neutral — the
    length gates, not this one, handle empties). DEFLATE level is
    pinned (default 6) so the signal is deterministic across runs and
    platforms (zlib output at a fixed level is stable for a given
    input).

    ``max_bytes`` (default 64 KB) caps the measured prefix: only the
    doc's first ``max_bytes`` UTF-8 bytes are compressed, so the zlib
    pass costs O(min(doc, cap)) per doc — at 100 TB the compression
    scan is the funnel's most expensive signal, and the ratio
    saturates long before 64 KB on real text (repetition/entropy are
    document-global properties; a boilerplate wall or gibberish stream
    looks the same in its first 64 KB as in its first 10 MB). The
    reported ``n_bytes``/``compressed_bytes`` and their ratio all
    refer to the measured prefix — a threshold tuned on capped runs
    compares like with like — and the appended ``truncated`` flag
    marks every doc the cap touched (no-silent-caps: the truncation is
    visible per row, and ``truncated.sum()`` is the corpus-level cap
    report). Pass ``max_bytes=None`` for the uncapped signal — do so
    for thresholds TUNED ON FULL-DOCUMENT ratios before this cap
    existed, or for corpora of pathological docs whose tail diverges
    from their head; the default changed from uncapped in r7.

    Scale: one Arrow-batched pandas UDF scan (zlib is C-speed, ~100
    MB/s/core — the scan is compression-bound, not Python-bound), zero
    shuffles, composes with the zero-shuffle gates in
    functions/text.py. No JVM expression can do this: compression is
    the one quality signal that genuinely needs a library call, which
    is exactly what the Arrow batch path is for.
    """
    sized = docs.select(
        F.col(id_col).alias("doc_id"),
        _zlib_sizes(level, max_bytes)(F.col(text_col)).alias("sz"),
        # full UTF-8 length JVM-side — one octet_length, no second
        # Python pass — so the cap's effect is observable per row
        F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).alias(
            "__full"
        ),
    )
    return sized.select(
        "doc_id",
        F.element_at("sz", 1).alias("n_bytes"),
        F.element_at("sz", 2).alias("compressed_bytes"),
        _ratio_from_sizes(F.col("sz")).alias("compression_ratio"),
        (F.col("__full") > F.element_at("sz", 1)).alias("truncated"),
    )
