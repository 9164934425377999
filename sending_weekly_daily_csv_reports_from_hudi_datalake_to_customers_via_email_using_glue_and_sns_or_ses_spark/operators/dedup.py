"""Deduplication operators over ``documents`` (LLM-pipeline extension
set): exact hash-dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash.

Scale design:
  * exact dedup — hash-groupBy on the md5 fingerprint: one shuffle keyed
    by a uniform 128-bit hash → no skew, perfectly parallel.
  * n-gram Jaccard — shingle inverted index: explode distinct shingles,
    self-join on shingle, count co-occurrences. Cost is Σ(postings²) per
    shingle, so ultra-common shingles are capped (stopword shingles
    contribute nothing to near-dup detection anyway — standard trick).
  * MinHash LSH — banding: b bands × r rows of minhashes; candidate
    pairs share a band bucket; candidates verified with exact Jaccard.
    Shuffle is keyed by (band, bucket-hash) — data-size-proportional,
    never O(n²).
  * SimHash — 64-bit weighted-token hash; near-dups = small Hamming
    distance; bucketing on 4 16-bit chunks finds all pairs within
    distance 3 (pigeonhole).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query, session_memo

#: Shingles appearing in more than this many docs are dropped from the
#: Jaccard index (they connect everything to everything). Value chosen
#: high enough that sf0.01's 5k synthetic docs keep all signal shingles.
_MAX_POSTINGS = 10_000


def _norm_text() -> F.Column:
    """Single definition site for the text-normalization key (textual.py
    imports it — the fingerprint must never fork between families).

    Portability note: ``\\s`` is Java's class here and RE2's in the
    DuckDB oracles; they differ on exotic whitespace (\\x0B is \\s in
    Java, not in RE2). Fine for the fixtures (plain space/newline);
    normalizing a corpus with vertical tabs would need an explicit
    ``[ \\t\\n\\f\\r]`` class on BOTH sides."""
    return F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))



def _tokens() -> F.Column:
    return F.split(_norm_text(), " ")


def _shingle_array(arr: F.Column, n: int = 3) -> F.Column:
    """All n-gram shingles of a MATERIALIZED token-array column in one
    narrow projection (transform over an index sequence + element_at) —
    replaces the two positional self-joins a naive construction needs:
    zero shuffles, zero row explosion before the shingle explode.

    ``arr`` must be a plain column reference (withColumn it first):
    expressions inside collection lambdas are NOT common-subexpression-
    eliminated, so passing the tokenizer expression directly re-runs the
    regex per element_at — a ~10× slowdown measured at sf0.1."""
    idx = F.sequence(F.lit(1), F.size(arr) - (n - 1))
    # slice + array_join, not n× element_at + concat_ws: one bulk copy
    # per window instead of n positional lookups — measured 9% (n=3) to
    # 16% (n=20) faster on the postings build at sf0.1 (HOF lambdas run
    # interpreted, so per-element expression count is what costs)
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(arr, i, n), " ")
    )
    # sequence(1, k) DESCENDS when k < 1 — guard short docs explicitly
    return F.when(F.size(arr) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


@query(
    "dedup_exact",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
      FROM documents)
    SELECT fingerprint, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (X7): group by content fingerprint, keep the smallest
    doc_id (deterministic keeper). n_copies > 1 rows are the duplicate
    clusters."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(_norm_text()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


#: shared CTE body: exact 3-gram Jaccard ≥ 0.35 pairs (used by the
#: dedup_ngram_jaccard oracle and, as the edge set, by dedup_clusters').
_JACCARD_CTES = r"""
    toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok,
                           generate_subscripts(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), 1) AS pos) t
    ), shingles AS (
      SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      FROM shingles x JOIN shingles y
        ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY doc_a, doc_b
    ), jaccard_pairs AS (
      SELECT i.doc_a, i.doc_b,
             i.n_common * 1.0 / (sa.n_sh + sb.n_sh - i.n_common) AS jac
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE i.n_common * 1.0 / (sa.n_sh + sb.n_sh - i.n_common) >= 0.35
    )
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b, CAST(round(jac, 6) AS DOUBLE) AS jaccard
    FROM jaccard_pairs
    """,
    retired=True,  # r10: slot funded stream_ivm_report (VERDICT r9 #1);
    # the shingle pipeline stays driver-green via dedup_minhash_lsh and
    # dedup_clusters (which consumes this very pair graph), and this
    # entry keeps its full oracle under test_retired_parity
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, strategy: str = "index"
) -> DataFrame:
    """Near-dup detection by exact 3-gram Jaccard ≥ 0.35.

    Two exact strategies (identical output, different scale regimes —
    measured in BASELINE.md's r4 organic appendix):

    * ``"index"`` (default): shingle inverted index (explode →
      self-join on shingle → count). Join cost is Σ postings²; the
      postings cap (_MAX_POSTINGS) drops pathological shingles — LOSSY
      above the cap, and on saturated (low-entropy) vocabularies the
      cost grows quadratically with corpus size because every posting
      list grows linearly. For that regime dedup_minhash_lsh below is
      the scale path (measured 10× slope 2.1 vs 9.5 here).
    * ``"prefix"``: AllPairs/PPJoin prefix filtering — shingles
      globally ordered by rarity (df asc), each doc indexes only its
      ⌊(1−t)·|S|⌋+1 rarest shingles (any J≥t pair must share one), and
      candidates are verified with array_intersect over the full
      shingle sets. EXACT with NO postings cap: on Zipf-like (real)
      corpora the prefix index skips the head of the distribution
      entirely, replacing the lossy cap with a recall-lossless filter.
      On the SATURATED synthetic vocabulary it measures far slower
      than "index" (BASELINE.md r4: every shingle is common, so the
      rarity prefix selects nothing and verification materializes what
      the index strategy merely counts) — hence not the default here.
    """
    if strategy not in ("index", "prefix"):
        raise ValueError(
            f"dedup_ngram_jaccard: unknown strategy {strategy!r} "
            "(expected 'index' or 'prefix')"
        )
    if strategy == "prefix":
        return _jaccard_pairs_prefix(spark, sf_dir)
    df, _caches = _jaccard_pairs_and_caches(spark, sf_dir)
    # the shingle cache stays alive for the session: the returned frame
    # is lazy, so the caches it feeds can only be released by a caller
    # that materializes first (dedup_clusters does exactly that).
    # MEMORY_AND_DISK + LRU keeps the entry bounded.
    return df


#: persist handles for _window_postings frames (one per operator call;
#: Spark's CacheManager dedupes canonically-equal plans, so repeat
#: calls on the same corpus share one physical cache entry). BOUNDED:
#: CacheManager entries are only freed by explicit unpersist — never by
#: GC/ContextCleaner — so a long-lived session looping over distinct
#: corpora would otherwise accumulate memory-and-disk cache entries
#: forever. Appending past the cap unpersists the oldest handle (a
#: cache miss and recompute for that corpus, never a wrong result —
#: these handles are never LOOKED UP, so there is no correctness
#: exposure). clear_intermediate_caches empties it outright.
_POSTINGS_HANDLES: list[DataFrame] = []
_POSTINGS_HANDLES_MAX = 8


def _track_postings_handle(frame: DataFrame) -> None:
    _POSTINGS_HANDLES.append(frame)
    while len(_POSTINGS_HANDLES) > _POSTINGS_HANDLES_MAX:
        stale = _POSTINGS_HANDLES.pop(0)
        try:
            stale.unpersist()
        except Exception:  # noqa: BLE001 — dead context: forget it
            pass


def _jaccard_pairs_and_caches(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The jaccard pair graph plus handles on the frames it persisted,
    so callers that materialize the result (localCheckpoint/write) can
    unpersist them instead of leaking a second session-lifetime cache
    entry per invocation. Cache hits return no releasable frames.

    The pair graph is memoized per (applicationId, sf_dir): the pair
    set feeds TWO registered queries (dedup_ngram_jaccard returns it,
    dedup_clusters consumes it as the edge set) plus the minhash recall
    test — one evaluation of the expensive shingle self-join per
    (session, sf) instead of one per caller. Safe because the test
    corpora are immutable per path; the frame is persisted so the first
    materialization populates executor blocks all later readers share.
    The memo value is ``[pairs, shingle index]``: the shingle index's
    persist handle is released on the first HIT — by then the (much
    smaller) pair frame has been materialized by the first caller, so
    the wide intermediate no longer earns its memory."""
    built: list[DataFrame] = []  # the shingle handle, on a miss only

    def build() -> list[DataFrame]:
        pairs, shingles = _jaccard_pair_graph(spark, sf_dir)
        built.append(shingles)
        return [pairs, shingles]

    entry = session_memo(spark, "jaccard_pairs", sf_dir, build)
    if not built:
        stale, entry[1] = entry[1], None
        if stale is not None:
            stale.unpersist()
    return entry[0], built


def _jaccard_pair_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The persisted pair graph and the persisted shingle index it was
    derived from."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents").withColumn("__toks", _tokens())
    # array_distinct over the gram array is an interpreted HOF chain
    # (the decontaminate_fuzzy r6 finding), but A/B at sf0.1 kept it:
    # the explode-then-.distinct() alternative shuffles the full
    # shingle-string stream and measured ~25% SLOWER end-to-end here —
    # one interpreted pass over a frame persisted for four consumers
    # beats an extra exchange. (minhash dropped its distinct entirely;
    # exact Jaccard needs doc-distinct postings, so this one stays.)
    cached_shingles = d.select(
        "doc_id",
        F.explode(F.array_distinct(_shingle_array(F.col("__toks")))).alias("shingle"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    shingles = cached_shingles
    # ^ the inverted index feeds FOUR consumers (postings, sizes, both
    # sides of the self-join); persisting it replaces four
    # tokenize+explode passes over the corpus with one (measured ~20%
    # on the whole query at sf0.1; at cluster scale it also cuts three
    # full document scans). MEMORY_AND_DISK: shingle sets larger than
    # executor memory spill instead of recomputing.
    # drop ultra-common shingles (posting-list cap — no-op at test SFs)
    postings = shingles.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    shingles = shingles.join(
        F.broadcast(postings.filter(F.col("n_docs") > _MAX_POSTINGS)),
        "shingle",
        "left_anti",
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    x, y = shingles.alias("x"), shingles.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jacc = F.col("n_common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common"))
    pairs = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jacc >= 0.35)
        .select(
            "doc_a",
            "doc_b",
            F.round(jacc, 6).cast("double").alias("jaccard"),
        )
    )
    return pairs.persist(StorageLevel.MEMORY_AND_DISK), cached_shingles


#: exact-Jaccard threshold shared by both strategies and the oracle
_JACCARD_T = 0.35


def _jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard (AllPairs/PPJoin candidate rule).

    Under ANY global total order on shingles, two sets A, B with
    J(A,B) ≥ t must share a shingle within their prefixes of length
    |A| − ⌈t·|A|⌉ + 1 (resp. B): if the prefixes were disjoint, the
    overlap is confined to the suffixes and is provably < t-large.
    Ordering by ascending document frequency makes those prefixes the
    RAREST shingles, so prefix posting lists stay short on Zipf-like
    corpora — the index join skips the head of the df distribution
    without the recall loss of a hard postings cap.

    Verification needs the FULL shingle sets, which come as per-doc
    arrays straight out of the tokenizer (zero extra shuffle) —
    candidates join the two arrays and count the exact intersection.

    Plan shape: df aggregation (1 shuffle) → per-doc rarity rank
    (1 shuffle, window by doc) → prefix self-join (1 shuffle, keyed by
    prefix shingle) → verify joins on doc ids. Every stage is
    data-size-proportional in the prefix index, not the full index.
    """
    d = load_table(spark, sf_dir, "documents").withColumn("__toks", _tokens())
    sets = d.select(
        "doc_id",
        F.array_distinct(_shingle_array(F.col("__toks"))).alias("sh_set"),
    ).withColumn("n_sh", F.size("sh_set"))
    sh = sets.select("doc_id", "n_sh", F.explode("sh_set").alias("shingle"))
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    prefix_len = (
        F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(_JACCARD_T)) + 1
    )
    prefix = (
        sh.join(df_counts, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("doc_id", "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("set_a", "set_b")))
        .withColumn(
            "jac",
            F.col("n_common")
            / (F.size("set_a") + F.size("set_b") - F.col("n_common")),
        )
        .filter(F.col("jac") >= _JACCARD_T)
    )
    return verified.select(
        "doc_a", "doc_b", F.round("jac", 6).cast("double").alias("jaccard")
    )


#: MinHash universal-hash family -- h_i(x) = (A[i]*x + B[i]) mod P over
#: the 32-bit md5 prefix of each shingle. Chosen over xxhash64 because
#: EVERY term is portable SQL (md5, +, *, %), so DuckDB reproduces the
#: signatures bit-for-bit and the whole LSH pipeline is hash-checkable.
#: Constants from a fixed-seed generator, embedded in the oracle too.
import random as _random

_MH_N, _MH_BANDS = 32, 8
_MH_P = 4_294_967_291  # largest prime < 2^32: A*x + B stays < 2^63
_mh_rng = _random.Random(20260813)
_MH_A = [_mh_rng.randrange(1, 1 << 31) for _ in range(_MH_N)]
_MH_B = [_mh_rng.randrange(0, 1 << 31) for _ in range(_MH_N)]


def _minhash_signature() -> list[F.Column]:
    """min over a doc's shingles of each universal hash; the md5 prefix
    is computed once per shingle, the 32 hashes are cheap affine
    arithmetic on it (all JVM codegen)."""
    x = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
    return [
        F.min((F.lit(_MH_A[i]) * x + F.lit(_MH_B[i])) % _MH_P).alias(f"mh_{i}")
        for i in range(_MH_N)
    ]


def _minhash_oracle() -> str:
    """Generated DuckDB twin of the full MinHash+LSH pipeline: same
    shingling, same md5-prefix base value, same affine hash constants,
    band agreement as an 8-way UNION of 4-column equi-joins, signature
    agreement as the estimate."""
    r = _MH_N // _MH_BANDS
    mins = ",\n             ".join(
        f"min(({_MH_A[i]} * x + {_MH_B[i]}) % {_MH_P}) AS mh_{i}"
        for i in range(_MH_N)
    )
    band_joins = "\n      UNION\n".join(
        "      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b\n"
        "        ON a.doc_id < b.doc_id AND "
        + " AND ".join(
            f"a.mh_{b * r + j} = b.mh_{b * r + j}" for j in range(r)
        )
        for b in range(_MH_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(_MH_N)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok,
             generate_subscripts(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), 1) AS pos
      FROM documents
    ), shingles AS (
      SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                  JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ), xs AS (
      SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS x
      FROM shingles
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM xs GROUP BY doc_id
    ), cands AS (
{band_joins}
    )
    SELECT c.doc_a, c.doc_b,
           CAST(({agree}) / 32.0 AS DOUBLE) AS est_jaccard
    FROM cands c
    JOIN sig a ON a.doc_id = c.doc_a
    JOIN sig b ON b.doc_id = c.doc_b
    WHERE ({agree}) / 32.0 >= 0.5
    """


def _minhash_sig_table(docs: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_N) minhash signatures for an arbitrary
    (doc_id, text) frame — the derivation dedup_minhash_lsh caches,
    reusable for incremental indexing (``build_corpus_index``)."""
    d = docs.withColumn("__toks", _tokens())
    # NO distinct: the signature is a min-aggregation over hashed
    # shingles, which duplicate occurrences cannot change — and
    # array_distinct stacked on the shingle transform would push the
    # whole projection out of codegen (interpreted HOF chain, the
    # decontaminate_fuzzy r6 finding)
    shingles = d.select(
        "doc_id",
        F.explode(_shingle_array(F.col("__toks"))).alias("shingle"),
    )
    return shingles.groupBy("doc_id").agg(*_minhash_signature())


def _band_struct_col() -> F.Column:
    """The exploded (band, minhash-slice) struct array that both the
    self-join banding (dedup_minhash_lsh) and the incremental
    new-vs-index banding key on — one definition so the two can never
    bucket differently."""
    r = _MH_N // _MH_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[F.col(f"mh_{b * r + j}").alias(f"k{j}") for j in range(r)],
            )
            for b in range(_MH_BANDS)
        ]
    )


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates, verified with exact
    Jaccard over the MinHash signature agreement rate.

    32 universal min-hashes per doc (affine family over a 32-bit md5
    prefix -- portable arithmetic, so the DuckDB oracle reproduces every
    signature exactly and the driver value-hash checks the WHOLE
    pipeline: shingling -> signatures -> banding -> candidate verify) ->
    8 bands x 4 rows; docs agreeing on all 4 minhashes of any band
    become candidate pairs; pairs are scored by signature agreement
    (estimate of Jaccard) >= 0.5. pytest additionally verifies recall
    against dedup_ngram_jaccard's exact output.
    """
    from pyspark import StorageLevel

    # persisted signature table per (applicationId, sf_dir), the pair
    # graph's pattern: the signature derivation (tokenize → shingle →
    # 32-min aggregation) is the expensive half of the query and feeds
    # every branch; a long-running session (bench steady state, repeat
    # driver invocations, dedup_clusters' minhash edge source) reuses
    # ONE materialized copy. One row per doc × 32 longs — negligible
    # footprint.
    sig = session_memo(
        spark,
        "minhash_signatures",
        sf_dir,
        lambda: _minhash_sig_table(load_table(spark, sf_dir, "documents")).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )
    # ^ the signature table feeds 10 plan branches (8 band arms + both
    # sides of the candidate verify); without the persist each branch
    # recomputes the full shingle scan + 32-min aggregation. One row per
    # doc x 32 longs -- tiny relative to the corpus at any scale, and
    # cached per (session, sf) like the pair graph so repeat invocations
    # (bench steady state, the minhash edge source) skip the derivation.

    # banding: candidates agree on a band's full minhash slice. Each doc
    # explodes into one (band, minhash-slice) struct row and a SINGLE
    # self-equi-join on that struct finds all band agreements — one
    # shuffle keyed by the band tuple (data-size-proportional, 8n rows)
    # instead of eight per-band join branches (8 shuffles + union).
    bands = sig.select("doc_id", F.explode(_band_struct_col()).alias("bk"))
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cands = (
        ba.join(
            bb,
            (F.col("ba.bk") == F.col("bb.bk"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )

    # verify candidates: fraction of agreeing minhashes ~= Jaccard
    sa, sb = sig.alias("sa"), sig.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.mh_{i}") == F.col(f"sb.mh_{i}"), 1).otherwise(0)
        for i in range(_MH_N)
    )
    return (
        cands.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (agree / F.lit(float(_MH_N))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
    )


def _simhash_oracle() -> str:
    """Generated DuckDB twin of the simhash pipeline: identical 60-bit
    md5-prefix token hashes, the same sign-of-weighted-bit-sum signature
    (exact integer arithmetic on both engines -- no float instability),
    pigeonhole chunk candidates, Hamming scoring."""
    bit_sum = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN w ELSE -w END) > 0"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(60)
    )
    return f"""
    WITH toks0 AS (
      SELECT doc_id,
             unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
      FROM documents
    ), tw AS (
      SELECT doc_id, tok, count(*) AS w FROM toks0 GROUP BY doc_id, tok
    ), th AS (
      SELECT doc_id, w, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM tw
    ), sig AS (
      SELECT doc_id, {bit_sum} AS simhash
      FROM th GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, simhash,
             (simhash >> 0)  & 65535 AS c0,
             (simhash >> 16) & 65535 AS c1,
             (simhash >> 32) & 65535 AS c2,
             (simhash >> 48) & 65535 AS c3
      FROM sig
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id AND a.c0 = b.c0
      UNION
      SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
      FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id AND a.c1 = b.c1
      UNION
      SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
      FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id AND a.c2 = b.c2
      UNION
      SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
      FROM chunks a JOIN chunks b ON a.doc_id < b.doc_id AND a.c3 = b.c3
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


@query("dedup_simhash", oracle=_simhash_oracle(), retired=True)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit signature = sign-sum of token hash bits
    (token hash = md5 prefix -- portable, so the DuckDB oracle rebuilds
    every signature bit-for-bit and the driver value-hash checks the
    whole pipeline; the arithmetic is exact-integer on both engines);
    candidate pairs share at least one of four 16-bit chunks (pigeonhole
    => finds all pairs with Hamming distance <= 3); pairs scored by
    exact Hamming distance of the signatures.

    pytest additionally checks the Hamming property on seeded
    duplicates.
    """
    # memoized per (applicationId, sf_dir), the minhash signatures'
    # rationale: the signature pass (tokenize → weight → collect_list →
    # numpy bit-sum) is the expensive half; 4 rows × 2 longs per doc
    chunks = session_memo(
        spark, "simhash_chunks", sf_dir, lambda: _simhash_chunks(spark, sf_dir)
    )
    le, ri = chunks.alias("le"), chunks.alias("ri")
    pairs = le.join(
        ri,
        (F.col("le.ck") == F.col("ri.ck"))
        & (F.col("le.doc_id") < F.col("ri.doc_id")),
    ).select(
        F.col("le.doc_id").alias("doc_a"),
        F.col("ri.doc_id").alias("doc_b"),
        F.col("le.simhash").alias("sh_a"),
        F.col("ri.simhash").alias("sh_b"),
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (
        pairs.distinct()
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


def _simhash_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, simhash, exploded chunk struct) table the
    banding self-join consumes — the expensive signature pass, built
    once per (session, sf) via the session memo."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(_tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("w"))
        .withColumn(
            "h",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"),
        )
    )

    # Per-doc signature in ONE vectorized pandas UDF over collected
    # (hash, weight) lists: 64 separate sum(when(bit)) aggregates kept
    # the whole stage out of efficient codegen (measured 4.3 s for 116k
    # rows at sf0.1); the numpy bit-unpack does the same math in ~0.3 s.
    @F.pandas_udf("long")
    def simhash_from_lists(hs: pd.Series, ws: pd.Series) -> pd.Series:
        out = []
        shifts = np.arange(64, dtype=np.uint64)
        for h_list, w_list in zip(hs, ws):
            h = np.asarray(h_list, dtype=np.int64).astype(np.uint64)
            w = np.asarray(w_list, dtype=np.int64)
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            sums = (bits * 2 - 1).T @ w
            sig = int(np.packbits((sums > 0)[::-1]).view(">u8")[0])
            if sig >= 1 << 63:
                sig -= 1 << 64
            out.append(sig)
        return pd.Series(out, dtype="int64")

    grouped = toks.groupBy("doc_id").agg(
        F.collect_list("h").alias("hs"), F.collect_list("w").alias("ws")
    )
    simhash = grouped.select(
        "doc_id", simhash_from_lists("hs", "ws").alias("simhash")
    )
    from pyspark import StorageLevel

    # banding, minhash-style (dedup_minhash_lsh above): each doc explodes
    # into four (chunk-id, chunk-value) struct rows and ONE self-equi-join
    # on that struct finds every pigeonhole agreement — a single shuffle
    # keyed by the chunk tuple (4n rows) instead of four per-chunk join
    # branches (4 shuffles + union). The 64-bit signature rides along in
    # the exploded rows, so no join back to the signature table is needed.
    chunk_structs = [
        F.struct(
            F.lit(c).alias("cid"),
            F.shiftrightunsigned(F.col("simhash"), 16 * c)
            .bitwiseAND(F.lit(0xFFFF))
            .alias("v"),
        )
        for c in range(4)
    ]
    return simhash.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("ck")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ^ both sides of the self-join consume it; the persist computes the
    # collect_list + numpy signature pass ONCE (4 rows x 2 longs per doc
    # -- negligible footprint at any scale)


@query(
    "dedup_latest_per_key",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup, the Hudi precombine rule (P2): latest event per user
    (deterministic tie-break) — dropDuplicates done right (dropDuplicates
    keeps an *arbitrary* row; this keeps a *defined* one)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


def embedding_cosine_pairs(e: DataFrame, threshold: float = 0.95) -> DataFrame:
    """PURE embedding-cosine near-dup detection: pairs of vectors in the
    given (vec_id, embedding) frame with cosine ≥ ``threshold``, found
    via LSH band-bucketing (same seeded-hyperplane scheme as
    knn_approx's LSH path) instead of the O(n²) all-pairs join. The
    input is used AS-IS — no synthetic rows are ever added here (the
    r3 in-operator twin injection was a defect; see VERDICT r3 #1).

    Near-identical vectors agree on almost every hyperplane sign, so
    requiring a full 12-bit band match keeps buckets tiny while recall
    for ≥0.95 pairs stays ~1 (P[sign agree] = 1 − θ/π ≈ 0.9 per plane
    at cos 0.95 ⇒ ≥1-of-4 bands ≈ 0.97). Exact cosine verifies each
    candidate pair. Planted-pair recall is pinned by
    tests/test_extensions.py::test_embedding_cosine_dedup_planted_pairs,
    which drives THIS function on a corpus with known ≥0.95 pairs.
    """
    e = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    n_planes, band_bits = 48, 12
    n_bands = n_planes // band_bits
    rng = np.random.default_rng(7_2024)
    P = rng.standard_normal((n_planes, 64))

    @F.pandas_udf("array<long>")
    def band_keys(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(emb.to_numpy()).astype(np.float64)
        bits = (X @ P.T > 0).astype(np.int64)  # n × 48
        keys = []
        for b in range(n_bands):
            chunk = bits[:, b * band_bits : (b + 1) * band_bits]
            w = 1 << np.arange(band_bits)
            keys.append((chunk @ w) + (b << band_bits + 4))  # disjoint key spaces
        return pd.Series(list(np.stack(keys, axis=1)))

    from ..functions.vector import cosine_similarity

    # Persist BEFORE the explode (r11): the self-join consumes the
    # signature frame on BOTH sides, and without a cache each side
    # re-runs the band_keys matmul and re-scans the input — the
    # AQE-final plan showed two ArrowEvalPython nodes and four file
    # scans for one logical signature pass. Caching the PRE-explode
    # frame keeps the footprint at ~1× the corpus (embedding + 4
    # longs per row; the r3-era experiment that measured caching
    # net-negative cached the EXPLODED rows, 4× the corpus), the UDF
    # runs once, and the per-side explode is cheap JVM codegen over
    # cached batches. Handle-tracked, not keyed: every call rebuilds
    # — this is dataflow reuse within one evaluation, not a memo.
    sig_base = e.select(
        "vec_id", "embedding", band_keys("embedding").alias("bks")
    ).persist()
    _track_postings_handle(sig_base)
    sig = sig_base.select(
        "vec_id", "embedding", F.explode("bks").alias("bucket")
    )
    a, b = sig.alias("a"), sig.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cos = cosine_similarity(F.col("emb_a"), F.col("emb_b"))
    return (
        cands.select("vec_a", "vec_b", F.round(cos, 4).cast("double").alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    e AS (
      SELECT vec_id, emb FROM base
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(emb, x -> x + 0.02 * x * x) AS emb
      FROM base WHERE vec_id < 8
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.95
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-harness entry for :func:`embedding_cosine_pairs`.

    The synthetic corpus's max organic pairwise cosine is ~0.60, which
    made the r2 driver row vacuous (0 rows = 0 rows proves only
    no-false-positives). This WRAPPER — and only the wrapper; the
    operator itself is pure — unions in deterministic near-dup twins
    (VERDICT r2 #2 / r3 #1): vectors 0..7 re-appear as
    vec_id+1_000_000 with each element perturbed x → x + 0.02·x²
    (identical double-precision expression on both sides, cosine
    ≈ 0.9997 to its source), then runs the pure operator over the
    augmented corpus. The sf0.01 hash check thus pins eight REAL
    detected pairs end-to-end through the LSH banding, candidate join,
    and exact verify (plus continued absence of false positives) —
    while library callers of ``embedding_cosine_pairs`` never see a
    fabricated row.
    """
    return embedding_cosine_pairs(_augmented_embeddings(spark, sf_dir))


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table plus eight deterministic near-dup twins
    (vec_id+1_000_000, x → x + 0.02·x² per element) — the shared
    test-harness corpus of ``dedup_embedding_cosine`` and the
    ``semantic_dedup`` driver entry; the organic corpus's max pairwise
    cosine (~0.60) would make either entry's driver row vacuous."""
    base = load_table(spark, sf_dir, "embeddings")
    perturbed = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            # same association order as the oracle's x + 0.02*x*x:
            # x + ((0.02·x)·x), all in double — bit-identical results
            lambda x: x.cast("double")
            + F.lit(0.02) * x.cast("double") * x.cast("double"),
        ).alias("embedding"),
    )
    return base.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    ).unionByName(perturbed)


def _star_components(pairs, _cut, max_rounds: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al. 2014): each large-star pass attaches every node's LARGER
    neighbors to its neighborhood minimum, each small-star pass its
    smaller-or-equal ones (and itself) — components contract to stars
    rooted at their minimum id in O(log² n) full rounds regardless of
    diameter. See :func:`connected_components` (``algorithm="star"``)
    for when to prefer this over Hash-Min.

    ``pairs`` is the already-materialized (doc_a, doc_b) frame from the
    caller's lineage cut. Convergence = the canonical edge set is
    unchanged across one full round, detected by a (count, 2×
    independent-hash-sum) signature — one tiny aggregate per round; a
    false stop needs two distinct edge sets agreeing on the count AND
    both 64-bit sums (~2⁻¹²⁸, the double-window-hash argument). Stars
    are fixed points of both passes, and the only ones, so signature
    equality ⇒ converged star state. Per round: one eager cut after
    the large pass (its output feeds four plan paths in the small
    pass), one lazy cut materialized by the signature aggregate.
    """
    # canonical undirected edge set: (u, v) with u > v
    E = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )

    def _pass(E, large: bool) -> DataFrame:
        sym = E.unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        if large:
            # every larger neighbor attaches to the neighborhood min;
            # m ≤ u < v, so (v, m) is already canonically ordered
            out = (
                sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
        else:
            # smaller neighbors AND the node itself attach to the min;
            # m ≤ every neighbor, so (x, m) is canonically ordered
            out = (
                sym.join(m, "u")
                .filter(F.col("v") < F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(
                    m.select(F.col("u").alias("u"), F.col("m").alias("v"))
                )
            )
        return out.filter(F.col("u") != F.col("v")).distinct()

    sig_agg = [
        F.count(F.lit(1)),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        # salt-FIRST for an independent second sum (the sequential-fold
        # caveat documented on exact_substring_pairs)
        F.sum(F.xxhash64(F.lit(7), "u", "v").cast("decimal(38,0)")),
    ]
    prev_sig = None
    for _round in range(max_rounds):
        E = _cut(_pass(E, large=True))  # eager: 4 consumers below
        E = _cut(_pass(E, large=False), eager=False)
        sig = tuple(E.agg(*sig_agg).first())  # materializes the cut
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: star contraction did not converge in "
            f"{max_rounds} rounds — raise max_rounds rather than ship "
            "half-contracted cluster labels"
        )
    # converged state is a union of stars rooted at component minima:
    # every non-root appears exactly once as u with its root as v
    roots = nodes.join(
        E.select(F.col("u").alias("doc_id")), "doc_id", "left_anti"
    )
    return (
        E.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionByName(
            roots.select("doc_id", F.col("doc_id").alias("cluster_id"))
        )
    )


def _hashmin_edge_layout(pairs: DataFrame) -> DataFrame:
    """The Hash-Min loop's STATIC side, laid out once (r11): the
    undirected edge set, hash-partitioned AND sorted by the join key,
    cached in that layout. A cached frame's output partitioning and
    ordering satisfy a sort-merge join's requirements, so every
    propagation step joins against it with NO edge-side exchange and
    NO edge-side sort — per-step shuffle bytes drop from |E|+|V| to
    |V| (labels only). Caller owns the unpersist.

    Config dependency (ADVICE r11): the no-edge-shuffle guarantee
    relies on ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    keeping its DEFAULT (false). If a deployment flips it, AQE may
    re-partition the cached layout and every step silently re-shuffles
    the edge side — perf-only, caught by the plan-pinning test in CI
    (test_cc_edge_layout_joins_without_edge_shuffle) but not at
    runtime."""
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    return (
        edges.repartition("doc_b").sortWithinPartitions("doc_b").persist()
    )


#: conservative broadcast-size estimate for one (doc_id, label) row in
#: a built hash relation — two 8-byte values plus UnsafeRow + hashmap
#: overhead; string doc_ids run larger, which only flips the decision
#: toward shuffled-hash EARLIER (the safe direction at scale).
_LABEL_ROW_BYTES = 64


def _labels_would_broadcast(spark, n_nodes: int) -> bool:
    """Whether a |V|-row label frame is small enough for the planner's
    broadcast path: n_nodes * estimated row bytes under the session's
    autoBroadcastJoinThreshold (<=0 ⇒ broadcast disabled)."""
    try:
        thr = int(
            spark._jsparkSession.sessionState()
            .conf()
            .autoBroadcastJoinThreshold()
        )
    except Exception:  # noqa: BLE001 — connect-mode etc.: assume default
        thr = 10 * 1024 * 1024
    return thr > 0 and n_nodes * _LABEL_ROW_BYTES <= thr


def _hashmin_step(
    edges: DataFrame, labels: DataFrame, shuffle_hash: bool = False
) -> DataFrame:
    """One min-label propagation step: each node adopts the minimum
    label among itself and its neighbors.

    ``shuffle_hash=True`` (VERDICT r11 #4, guide §3.1) hints the LABEL
    side of the join as the shuffled-hash build side — the non-broadcast
    cluster shape. Against the pre-partitioned/pre-sorted cached edge
    layout a sort-merge join already skips the edge-side exchange and
    sort, but still SORTS the |V|-row label side every step; a
    shuffled-hash join drops that per-step sort (build the per-partition
    label hash map, stream the cached edges), and the label build side
    is |V|/numPartitions rows — the small, memory-safe side by
    construction. The caller only sets this when the labels are too big
    to broadcast (a broadcast join beats both and keeps winning on
    small graphs)."""
    build = labels.hint("shuffle_hash") if shuffle_hash else labels
    neighbor_labels = (
        edges.join(build, edges.doc_b == build.doc_id)
        .select(F.col("doc_a").alias("doc_id"), build.label)
    )
    return (
        labels.select("doc_id", "label")
        .unionByName(neighbor_labels)
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )


def connected_components(
    pair_graph: DataFrame,
    checkpoint_dir: str | None = None,
    release_after_cut: list[DataFrame] | None = None,
    algorithm: str = "hashmin",
    max_rounds: int = 100,
) -> DataFrame:
    """PUBLIC connected-components operator over an undirected pair
    frame ``(doc_a, doc_b)``: every node labeled with the smallest
    doc_id in its component — the step that turns pairwise near-dup
    hits into keep/drop decisions, usable with ANY edge source (exact
    Jaccard, MinHash candidates, embedding-cosine pairs).

    Iterative Hash-Min label propagation, hardened for scale:
      * a lineage CUT each round materializes the label frame — without
        it round k replays rounds 1..k-1 (the classic iterative-
        algorithm trap). Two cut modes (VERDICT r2 #5 / r3 #5):
        default ``localCheckpoint`` (fast; blocks cached on executors —
        lost if an executor dies), or, when ``checkpoint_dir`` is given,
        RELIABLE ``checkpoint()`` to that directory (HDFS/S3 in
        production) so a 1000-executor run survives executor loss;
      * convergence is detected WITHOUT joining new labels against old
        ones: labels are monotonically non-increasing under min-
        propagation, so the label SUM is strictly decreasing until the
        fixed point — comparing one tiny aggregate per round against
        the previous round's replaces the old-vs-new join (one fewer
        shuffle join per round, measured ~15% off the round cost);
      * each propagation step is one shuffle keyed by doc_id, linear
        in edges, and each materialized round chains TWO steps into a
        single action (r11) — half the driver barriers, convergence
        jobs and label checkpoint writes for the same per-step
        shuffle count;
      * ``max_rounds`` counts single propagation steps, and the rail
        allows ONE extra confirming round past the budget (ADVICE
        r11): detecting the fixed point takes a no-op step after the
        last changing one, so labels that settle exactly at the budget
        converge instead of raising — a label still moving past
        ``max_rounds`` raises;
      * once |V| is known (free off the convergence aggregate), steps
        whose label side is too big to broadcast take a SHUFFLE_HASH-
        hinted join against the cached edge layout (r12, guide §3.1):
        no edge-side exchange/sort (the cached layout satisfies both)
        and no per-step SORT of the |V|-row label side — per-step work
        at cluster scale becomes one label shuffle + hash build.

    Near-dup components have tiny diameter, so the loop converges in
    2-3 rounds; it runs to convergence (bounded only by a
    ``max_rounds`` safety rail, default 100, that RAISES rather than
    return half-propagated labels — a chain of templated docs longer
    than the old fixed cap must not silently disagree with the exact
    closure).

    ``algorithm`` picks the iteration scheme:
      * ``"hashmin"`` (default) — the label-propagation loop above;
        O(diameter) rounds, ONE shuffle per round. Right for near-dup
        graphs, whose components are star-or-clique-shaped (diameter
        2-3).
      * ``"star"`` — alternating large-star/small-star edge rewriting
        (Kiveris et al. 2014, "Connected Components in MapReduce and
        Beyond"): each pass reattaches nodes to their neighborhood
        minimum, contracting components to stars in O(log² n) rounds
        REGARDLESS of diameter — the scale path for pathological
        graphs (a 10⁶-doc chain of each-doc-near-dups-its-predecessor
        needs 10⁶ Hash-Min rounds but ~20 star rounds). Costlier per
        round (two passes, each a groupBy + join + distinct), so
        hashmin stays the default for the low-diameter dedup graphs
        every caller here builds.

    ``release_after_cut``: persisted frames the edge plan depended on,
    unpersisted once the pair frame is materialized by the first cut.

    Checkpoint-dir semantics (ADVICE r4): ``setCheckpointDir`` is
    SESSION-GLOBAL, and Spark does not delete reliable checkpoint files
    by default (``spark.cleaner.referenceTracking.cleanCheckpoints`` is
    false) — the CALLER owns the directory's lifecycle and should
    remove it once the labels are written out. To keep one caller from
    silently hijacking another's checkpoint location mid-session, this
    function RAISES if a different checkpoint dir is already set on the
    context rather than overwrite it.
    """
    if algorithm not in ("hashmin", "star"):
        raise ValueError(
            f"connected_components: unknown algorithm {algorithm!r} "
            "(expected 'hashmin' or 'star')"
        )
    spark = pair_graph.sparkSession
    if checkpoint_dir is not None:
        import os
        from urllib.parse import urlparse

        opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        existing = opt.get() if opt.isDefined() else None
        if existing is not None:
            # setCheckpointDir(d) registers a UUID CHILD of d; "same
            # requested dir" ⇒ existing's parent == requested dir. The
            # comparison is URI-AWARE: scheme and authority must match
            # too (a local path vs an hdfs:// dir is a REAL conflict,
            # and a repeated hdfs:// dir is NOT one).
            ex, req = urlparse(existing), urlparse(checkpoint_dir)
            ex_parent = os.path.normpath(
                os.path.dirname(ex.path.rstrip("/"))
            )
            req_path = (
                os.path.normpath(os.path.abspath(req.path))
                if (req.scheme or "file") == "file"
                else os.path.normpath(req.path.rstrip("/") or "/")
            )
            same = (
                (ex.scheme or "file") == (req.scheme or "file")
                and (ex.netloc or "") == (req.netloc or "")
                and ex_parent == req_path
            )
            if not same:
                raise ValueError(
                    "connected_components: SparkContext already has "
                    f"checkpoint dir {existing!r}; refusing to replace it "
                    f"with {checkpoint_dir!r} (setCheckpointDir is "
                    "session-global). Pass that dir, or omit "
                    "checkpoint_dir to use localCheckpoint."
                )
        else:
            spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _cut(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.checkpoint(eager=eager)

    else:

        def _cut(df: DataFrame, eager: bool = True) -> DataFrame:
            return df.localCheckpoint(eager=eager)

    # materialize the EXPENSIVE pair plan exactly once; the undirected
    # edge set is derived from the checkpointed frame (a union of two
    # projections over materialized data — recomputing it per round is
    # free, whereas checkpointing after the union would evaluate the
    # full edge plan once per union branch)
    pairs = _cut(pair_graph.select("doc_a", "doc_b"))
    # pairs are materialized now — release upstream persists instead of
    # leaking session-lifetime cache entries
    for frame in release_after_cut or ():
        frame.unpersist()
    if algorithm == "star":
        return _star_components(pairs, _cut, max_rounds)
    # The edge set is STATIC across every propagation step but is the
    # biggest per-step input (|E| ≥ |V|). Pre-partition AND pre-sort it
    # by the join key once, then cache that layout (r11,
    # _hashmin_edge_layout): each step's sort-merge join then shuffles
    # and sorts ONLY the label side — per-step shuffle bytes drop from
    # |E|+|V| to |V| (plan-pinned by
    # test_cc_edge_layout_joins_without_edge_shuffle). At local bench
    # scale the labels broadcast and this is neutral; at cluster scale
    # labels are |V| rows and cannot broadcast, which makes the edge
    # reshuffle the dominant per-step cost this removes. Unpersisted on
    # every exit path — the returned labels are checkpointed, so they
    # do not depend on the cache.
    edges = _hashmin_edge_layout(pairs)
    nodes = _cut(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        eager=False,  # round 0's aggregate materializes it — saves a job
    )
    prev_sum = None
    steps_done = 0
    use_shuffle_hash = False  # decided from |V| after the first round
    grace_used = False
    try:
        while True:
            # TWO propagation steps per materialized round (r11): each
            # step (join + union + min-aggregate) keeps its own shuffles,
            # but chaining two of them inside a single action halves the
            # driver barriers, the convergence-check jobs and the
            # localCheckpoint label writes — on a near-dup graph
            # (diameter 2-3) that is one fewer blocking job end to end,
            # and at cluster scale one fewer full write of the label
            # frame per two steps. Convergence detection stays sound:
            # labels are monotone non-increasing under min-propagation,
            # so an UNCHANGED label sum across a double-step means
            # neither sub-step moved a label — exactly the single-step
            # fixed point.
            stepped = nodes
            for _ in range(min(2, max(1, max_rounds - steps_done))):
                stepped = _hashmin_step(edges, stepped, use_shuffle_hash)
                steps_done += 1
            nodes = _cut(  # lazy: the convergence aggregate below is the
                # round's ONE action — it materializes the checkpoint and
                # computes the sum in the same job
                stepped,
                eager=False,
            )
            # convergence via the monotone label sum (docstring): equal sum
            # ⇔ no label moved this round. decimal(38,0) so a 10^12-node
            # graph of 64-bit labels cannot overflow the sum. count(*)
            # rides the same job: |V| drives the join-shape decision below.
            label_sum, n_nodes = nodes.agg(
                F.sum(F.col("label").cast("decimal(38,0)")),
                F.count(F.lit(1)),
            ).first()
            if label_sum == prev_sum:
                break
            prev_sum = label_sum
            # rail (ADVICE r11): detecting the fixed point needs one
            # CONFIRMING no-op step beyond the last changing one, so a
            # graph whose labels settle exactly at the budget gets one
            # extra confirming round; a label still moving past
            # max_rounds means diameter > the rail — raise rather than
            # ship half-propagated labels.
            if steps_done >= max_rounds:
                if grace_used:
                    raise RuntimeError(
                        "connected_components: Hash-Min did not converge in "
                        f"{max_rounds} steps — component diameter exceeds the "
                        "safety rail; raise it rather than ship "
                        "half-propagated cluster labels"
                    )
                grace_used = True
            # join-shape decision (VERDICT r11 #4, guide §3.1), made once
            # |V| is known from the aggregate above: labels that cannot
            # broadcast take the shuffled-hash shape against the cached
            # edge layout — no per-step sort of |V| labels (SMJ would
            # sort them every step). Locally labels broadcast and this
            # stays False, keeping the cheap BHJ plan.
            use_shuffle_hash = not _labels_would_broadcast(spark, n_nodes)
    finally:
        # the labels are checkpointed — the cached edge layout is only
        # needed while the loop still folds steps
        edges.unpersist()
    return nodes.select("doc_id", F.col("label").alias("cluster_id"))


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTES},
    pairs AS (SELECT doc_a, doc_b FROM jaccard_pairs),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str | None = None,
    edge_source: str = "jaccard",
    algorithm: str = "hashmin",
) -> DataFrame:
    """Duplicate-cluster formation: :func:`connected_components` over a
    near-dup pair graph.

    ``edge_source`` picks the regime (BASELINE.md r4 organic appendix):
      * ``"jaccard"`` (default, the oracled entry): exact 3-gram
        Jaccard ≥ 0.35 edges — hash-checked against a DuckDB
        recursive-CTE transitive closure of the same edge set; pytest
        additionally verifies a union-find reference at sf0.001 and
        drives the reliable-checkpoint path end-to-end.
      * ``"minhash"``: the MinHash-LSH pair set (est_jaccard ≥ 0.5) as
        edges — the 100 TB path for saturated/low-entropy corpora where
        the exact inverted-index join grows quadratically (measured
        organic 10× slope 2.1 vs 9.5). pytest verifies the labels
        against a union-find over the same minhash edge set.

    ``algorithm`` passes through to :func:`connected_components` —
    ``"star"`` for corpora whose duplicate chains could exceed the
    Hash-Min diameter rail.
    """
    if edge_source not in ("jaccard", "minhash"):
        raise ValueError(
            f"dedup_clusters: unknown edge_source {edge_source!r} "
            "(expected 'jaccard' or 'minhash')"
        )
    if edge_source == "minhash":
        pair_graph = dedup_minhash_lsh(spark, sf_dir).select(
            "doc_a", "doc_b"
        )
        return connected_components(
            pair_graph, checkpoint_dir, algorithm=algorithm
        )
    pair_graph, caches = _jaccard_pairs_and_caches(spark, sf_dir)
    return connected_components(
        pair_graph,
        checkpoint_dir,
        release_after_cut=caches,
        algorithm=algorithm,
    )


def _hashed_windows(
    docs: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    with_positions: bool,
) -> DataFrame:
    """One corpus scan → (doc_id[, pos], h1, h2) k-token-window rows
    (normalized tokens, double 64-bit hash, salt-FIRST ``h2`` — see
    :func:`exact_substring_pairs`). NOT deduplicated and NOT capped:
    the batch operators layer the hot cap on top
    (:func:`_window_postings`), the standing index layers distinct
    (:func:`build_window_index`)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    src = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    ).withColumn("toks", F.filter(_tokens(), lambda t: t != ""))
    if with_positions:
        occ = src.select(
            "doc_id",
            F.posexplode(_shingle_array(F.col("toks"), k)).alias("pos", "w"),
        )
        keep = ["doc_id", "pos"]
    else:
        occ = src.select(
            "doc_id", F.explode(_shingle_array(F.col("toks"), k)).alias("w")
        )
        keep = ["doc_id"]
    return occ.select(
        *keep,
        F.xxhash64("w").alias("h1"),
        # salt-FIRST: see exact_substring_pairs' independence caveat
        F.xxhash64(F.lit(1), "w").alias("h2"),
    )


def _window_postings(
    docs: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    max_postings: int,
    with_positions: bool,
) -> tuple[DataFrame, DataFrame]:
    """Shared postings builder for :func:`exact_substring_pairs` and
    :func:`shared_substring_runs`: normalized-token k-windows as narrow
    double-64-bit-hash rows (``doc_id[, pos], h1, h2`` — no window text
    in the shuffle; salt-FIRST ``h2``, see the detector's independence
    caveat), hot windows dropped by a broadcast anti-join.

    The hot cap counts POSTING ROWS per window, which bounds the
    consumers' self-join to ``max_postings²`` rows per window
    unconditionally. Without positions the postings are distinct
    (doc, window), so the cap equals the distinct-doc count; with
    positions every occurrence is a row, so a window repeated within
    one document counts each repeat — capping on distinct docs there
    would leave the join occurrences-squared (two template pages each
    repeating one boilerplate window 1,000× would emit 10⁶ joined rows
    from a "2-doc" window).

    The postings frame is PERSISTED (memory-and-disk): three plan paths
    consume it (hot count, anti-join input, and both self-join sides
    downstream) and Spark 4's AQE does not fold the identical subtrees
    into one reused exchange here, so without the persist the full
    tokenize→window→hash corpus scan runs three times (measured at
    organic 10×: ~2× end-to-end, BASELINE.md r6). Narrow 3-4-long rows
    spill fine at any scale. Handles go through the BOUNDED
    ``_track_postings_handle`` registry (CacheManager never frees
    entries on its own — see ``_POSTINGS_HANDLES``), and
    ``clear_intermediate_caches`` releases them all.

    Returns ``(kept_postings, cap_report)``: the cap_report is a
    one-row lazy frame (n_hot_windows, dropped_postings, max_postings)
    quantifying what the lossy cap ate — computed off the SAME
    persisted postings (one cheap aggregate, no extra corpus scan), so
    surfacing it costs one small job, and NOT materializing it costs
    nothing. The no-silent-caps principle as data: a 100 TB operator
    can log how many boilerplate windows (and how much posting mass)
    the cap dropped instead of trusting a docstring.
    """
    if max_postings <= 1:
        raise ValueError(f"max_postings must be > 1, got {max_postings}")
    hashed = _hashed_windows(docs, k, id_col, text_col, with_positions)
    if not with_positions:
        hashed = hashed.distinct()
    hashed = hashed.persist()
    _track_postings_handle(hashed)
    hot = (
        hashed.groupBy("h1", "h2")
        .agg(F.count("*").alias("n_post"))
        .filter(F.col("n_post") > max_postings)
    )
    kept = hashed.join(
        F.broadcast(hot.select("h1", "h2")), ["h1", "h2"], "left_anti"
    )
    cap_report = hot.agg(
        F.count("*").alias("n_hot_windows"),
        F.coalesce(F.sum("n_post"), F.lit(0)).alias("dropped_postings"),
        F.lit(max_postings).alias("max_postings"),
    )
    return kept, cap_report


def exact_substring_pairs(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 256,
    cap_report: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Exact-substring duplicate detection: pairs of documents sharing
    at least one IDENTICAL k-token window, with the count of distinct
    shared windows per pair — the practical Spark form of
    suffix-array-based training-data dedup (Lee et al. 2022,
    arXiv:2107.06499, which uses k=50 tokens): substring-level overlap
    catches quote/boilerplate reuse that whole-document similarity
    (Jaccard/MinHash/SimHash) dilutes away.

    Returns (doc_a, doc_b, n_shared_windows), doc_a < doc_b.

    Mechanics: one scan tokenizes (empty tokens filtered, NULL text as
    empty — blank documents share no windows) and emits each doc's
    k-token windows as a DOUBLE 64-bit hash: a single 64-bit key
    collides at corpus scale (~n²/2⁶⁴) while ~128 independent bits make
    collisions negligible, and hashing keeps the shuffle rows narrow
    (no window text ever shuffles). Independence caveat baked into the
    construction: Spark's multi-arg ``xxhash64(a, b)`` FOLDS
    sequentially, using hash(a) as b's seed — so ``xxhash64(w, 1)``
    is a pure function of ``xxhash64(w)`` and adds zero entropy; the
    second key must salt FIRST (``xxhash64(1, w)``), which hashes the
    window itself under a different seed. Distinct (doc, window)
    postings join on the hash pair; join cost is Σ postings² per
    window, so windows present
    in more than ``max_postings`` docs are dropped the same way (and
    for the same reason) as `dedup_ngram_jaccard`'s inverted index
    drops pathological shingles — a window shared by hundreds of docs
    is boilerplate, and the LOSSY cap is the documented trade for
    avoiding the quadratic hot-key join. One shuffle keyed by the
    window hash; volume ≈ total corpus tokens, rows of 3 longs.

    ``cap_report=True`` additionally returns the one-row
    (n_hot_windows, dropped_postings, max_postings) frame quantifying
    what the cap dropped (see :func:`_window_postings`) — the pair
    frame comes first in the returned tuple.
    """
    postings, cap = _window_postings(
        docs, k, id_col, text_col, max_postings, with_positions=False
    )
    a, b = postings.alias("a"), postings.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )
    return (pairs, cap) if cap_report else pairs


def remove_shared_substrings(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut duplicated k-token spans from a corpus, keeping ONE canonical
    occurrence — the removal half of the Lee et al. 2022 substring-dedup
    recipe (arXiv:2107.06499 §3: "remove a substring from all but one of
    the examples"), where :func:`exact_substring_pairs` is the detection
    half.

    Semantics (documented approximations follow the paper's):
      * a k-token window occurring ≥2 times corpus-wide (across OR
        within documents) is duplicated; its canonical occurrence is
        the smallest (doc_id, position) — every other occurrence is
        cut, so runs longer than k vanish wholesale from non-canonical
        docs (their overlapping windows are all marked) while the
        canonical doc keeps the whole run;
      * matching is EXACT on whitespace-delimited tokens of the RAW
        text (case-sensitive — unlike the detector's normalized
        windows) so the surviving text keeps its original casing;
        UNTOUCHED docs keep their text byte-for-byte (newlines/tabs
        intact); only docs that lost a span are rebuilt from tokens,
        with inter-token whitespace collapsed to single spaces;
      * overlap wrinkle (ditto the greedy original): a window's
        canonical occurrence can itself sit inside ANOTHER window's cut
        region and be removed with it — the pass guarantees ≤1 surviving
        occurrence per duplicated window, not exactly 1.

    Returns the input frame with ``text_col`` replaced by the cleaned
    text and an appended ``n_tokens_removed``. Docs with NULL text
    clean to '' (0 removed).

    Scale shape: one scan emits (doc_id, pos, double-64-bit window
    hash) occurrences — 4-long rows, no window text in the shuffle; one
    groupBy(hash) marks duplicates and picks canonicals (map-side
    combine absorbs hot windows — no pairwise join anywhere, unlike
    the detector); marked cut starts then MERGE into disjoint
    [start, end) intervals per doc (gaps-and-islands over the sorted
    starts — ``shared_substring_runs``' trick pointed at the cut set)
    before the token surgery, so the per-token ``exists`` probes
    O(n_merged_intervals), not O(n_cut_starts): a wholesale-duplicated
    doc has ONE interval covering it, where probing raw starts was
    O(n_tokens × n_starts) in interpreted higher-order lambdas — the
    measured 8× HOF cliff, quadratic on exactly the boilerplate-heavy
    docs this pass exists to clean (adversarial 50k-token measurement
    in BASELINE.md r7). The interval pass adds no extra shuffle: the
    window and the groupBy share the per-doc partitioning.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    others = [c for c in docs.columns if c != text_col]
    src = docs.select(
        F.col(id_col).alias("__rss_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__rss_text"),
    ).withColumn(
        "toks", F.filter(F.split("__rss_text", r"\s+"), lambda t: t != "")
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
        lambda i: F.struct(
            (i - 1).alias("pos"),
            F.array_join(F.slice("toks", i, k), " ").alias("w"),
        ),
    )
    occ = src.select(
        "__rss_id",
        # sequence(1, n) DESCENDS when n < 1 — guard short docs (the
        # _shingle_array guard, same reason)
        F.explode(
            F.when(F.size("toks") >= k, wins).otherwise(
                F.array().cast("array<struct<pos:int,w:string>>")
            )
        ).alias("o"),
    ).select(
        "__rss_id",
        F.col("o.pos").alias("pos"),
        F.xxhash64("o.w").alias("h1"),
        # salt-FIRST (exact_substring_pairs' independence caveat)
        F.xxhash64(F.lit(1), "o.w").alias("h2"),
    )
    # two plan paths consume occ (the dup aggregate and the canonical-
    # marking join) and AQE does not fold the identical subtrees — the
    # _window_postings persist rationale; without it the tokenize+
    # window+hash corpus scan ran THREE times per run (the third is
    # the text rebuild, which needs only the raw parquet scan). Narrow
    # 4-long rows; bounded handle registry, released by
    # clear_intermediate_caches.
    occ = occ.persist()
    _track_postings_handle(occ)
    dup = (
        occ.groupBy("h1", "h2")
        .agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct("__rss_id", "pos")).alias("canon"),
        )
        .filter(F.col("n_occ") >= 2)
        .select("h1", "h2", "canon")
    )
    cut_occ = occ.join(dup, ["h1", "h2"]).filter(
        ~(
            (F.col("__rss_id") == F.col("canon.__rss_id"))
            & (F.col("pos") == F.col("canon.pos"))
        )
    )
    # merge overlapping/adjacent cut windows [pos, pos+k) into disjoint
    # intervals BEFORE the per-token probe: gaps-and-islands on the
    # sorted starts — a start opens a new island iff it clears the
    # running max end of everything before it. The window and the two
    # groupBys below all key on __rss_id, so this is one shuffle total.
    iw = Window.partitionBy("__rss_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(k)).over(
        iw.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = (
        cut_occ.withColumn(
            "__isl",
            F.sum(
                F.when(
                    F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1
                ).otherwise(0)
            ).over(iw),
        )
        .groupBy("__rss_id", "__isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(k)).alias("e"),
        )
        .groupBy("__rss_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias(
                "cut_ivals"
            ),
            # intervals are disjoint and within [0, n_tokens], so the
            # removed-token count is just their total length — no need
            # to re-derive it from the surgery's output sizes
            F.sum(F.col("e") - F.col("s")).alias("__n_removed"),
        )
    )
    cleaned = (
        src.join(marked, "__rss_id", "left")
        .withColumn(
            "kept",
            F.filter(
                "toks",
                lambda t, i: ~F.exists(
                    "cut_ivals",
                    lambda v: (i >= v["s"]) & (i < v["e"]),
                ),
            ),
        )
        .select(
            "__rss_id",
            # untouched docs keep their ORIGINAL text byte-for-byte
            # (newlines/tabs intact) — only cut docs are rebuilt from
            # tokens (single-space joined, the documented collapse)
            F.when(F.col("cut_ivals").isNull(), F.col("__rss_text"))
            .otherwise(F.array_join("kept", " "))
            .alias(text_col),
            F.coalesce(F.col("__n_removed"), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )
    if others == [id_col]:
        # (id, text)-shaped input: the passthrough rejoin would be a
        # full extra shuffle join carrying every cleaned text — skip it
        return cleaned.withColumnRenamed("__rss_id", id_col).select(
            *docs.columns, "n_tokens_removed"
        )
    return (
        docs.select(*others)
        .join(cleaned.withColumnRenamed("__rss_id", id_col), id_col)
        .select(*docs.columns, "n_tokens_removed")
    )


def dedup_lines(
    docs: DataFrame,
    min_occurrences: int = 2,
    keep: str = "first",
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    count_mode: str = "occurrences",
) -> DataFrame:
    r"""Corpus-wide LINE-level dedup — the CCNet / RefinedWeb
    boilerplate-removal pass (Wenzek et al. 2019, arXiv:1911.00359 §4.1
    dedups paragraphs by hash across shards; Penedo et al. 2023,
    arXiv:2306.01116 removes duplicated lines): a line whose normalized
    form occurs ≥ ``min_occurrences`` times ACROSS THE CORPUS (any doc,
    any position — nav menus, cookie banners, share buttons) is cut
    from every doc, keeping the single smallest-(doc, line_no)
    occurrence under ``keep='first'`` or none at all under
    ``keep='none'`` (CCNet's choice — boilerplate is worthless even
    once).

    Fills the gap between two adjacent passes:
    ``functions.text.strip_repeated_lines`` is WITHIN-doc only, and
    :func:`remove_shared_substrings` cuts k-TOKEN windows — a short
    boilerplate line (< k tokens) repeated across a million pages
    sails through both.

    Semantics:
      * lines are ``text_col`` split on ``\n`` (0-based positions);
      * the match key is the line trimmed, inner whitespace collapsed,
        lowercased (``normalize=False`` keys on the raw line bytes) —
        CCNet's normalization idea minus its digit/accent folds, the
        same documented-subset stance as ``canonicalize_url``;
      * blank-KEY lines (empty or all-whitespace) are never counted or
        cut — every doc has them, and cutting them would shred
        paragraph structure, not remove boilerplate;
      * untouched docs keep their text byte-for-byte; docs that lost a
        line are rebuilt by joining the SURVIVING lines (original
        bytes — normalization only feeds the key) with ``\n``; NULL
        text cleans to ``''`` (0 removed);
      * ``count_mode`` picks what ``min_occurrences`` counts:
        ``'occurrences'`` (default — any repetition is boilerplate
        mass, within- or cross-doc) or ``'docs'`` (distinct documents
        — CCNet's cross-shard notion: a doc repeating its OWN nav
        line never makes that line corpus-hot by itself, but once the
        line IS hot every occurrence is still cut).

    Returns the input frame with ``text_col`` replaced and an appended
    ``n_lines_removed``.

    Scale shape: one scan explodes (doc, line_no, double-64-bit key
    hash) — 4-long rows, no line text in the shuffle; one
    groupBy(hash) counts occurrences corpus-wide, where map-side
    combine absorbs hot boilerplate (a 10⁶× cookie banner is 10⁶ input
    rows but ONE reduced row — no postings cap needed because nothing
    is ever joined pairwise, unlike the substring detector); cut line
    numbers merge into consecutive-run intervals per doc
    (gaps-and-islands — boilerplate arrives in blocks, so the
    per-line ``exists`` probe is O(n_blocks), not O(n_cut_lines):
    the :func:`remove_shared_substrings` HOF-cliff fix applied here
    from day one) and the surgery is array-side — the interval window
    and both groupBys key on the doc id, one shuffle total, and only
    docs that actually lost a line are rebuilt.
    """
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be ≥ 2, got {min_occurrences} "
            "(1 would cut every non-blank line in the corpus)"
        )
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if count_mode not in ("occurrences", "docs"):
        raise ValueError(
            f"count_mode must be 'occurrences' or 'docs', got {count_mode!r}"
        )
    src, occ = _line_occurrences(docs, id_col, text_col, normalize)
    counter = (
        F.count("*")
        if count_mode == "occurrences"
        # still one partial-aggregated groupBy: count_distinct over the
        # doc id partial-aggregates as a per-partition set merge
        else F.count_distinct("__dl_id")
    )
    hot = (
        occ.groupBy("h1", "h2")
        .agg(
            counter.alias("n_occ"),
            F.min(F.struct("__dl_id", "ln")).alias("canon"),
        )
        .filter(F.col("n_occ") >= min_occurrences)
        .select("h1", "h2", "canon")
    )
    cut = occ.join(hot, ["h1", "h2"])
    if keep == "first":
        cut = cut.filter(
            ~(
                (F.col("__dl_id") == F.col("canon.__dl_id"))
                & (F.col("ln") == F.col("canon.ln"))
            )
        )
    cleaned = _apply_line_cuts(src, cut, text_col)
    return _rejoin_line_output(docs, cleaned, id_col, text_col)


def _line_occurrences(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    normalize: bool,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame]:
    r"""Shared head of the line-dedup family: ``src`` = (__dl_id,
    lines) and ``occ`` = persisted (__dl_id, ln, h1, h2) non-blank-key
    occurrences.

    ``lines`` is the ONLY evaluation of the input text expression: the
    untouched-doc branch rebuilds via array_join(lines, '\n') — a
    byte-exact split/join roundtrip — instead of re-referencing the
    text column, because a caller may pass text as an unmaterialized
    EXPRESSION (the driver entry's 12-token chunking does) and
    interpreted projections do not common-subexpression-eliminate:
    every extra reference re-runs the whole expression per row
    (measured 24.5 s → 9 s at organic x1 on the entry's corpus).
    ``occ`` persists (default) because the dedup passes consume it
    twice (the hash build and the cut join) and AQE does not fold
    identical subtrees; bounded handle registry, released by
    clear_intermediate_caches. Single-consumer callers —
    :func:`build_line_index`, which feeds occ straight into one
    groupBy — pass ``persist=False``: caching there would be pure
    overhead AND would push a handle into the registry every ingest
    micro-batch, evicting other operators' still-warm frames."""
    src = docs.select(
        F.col(id_col).alias("__dl_id"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1).alias(
            "lines"
        ),
    )
    key = F.col("line")
    if normalize:
        key = F.lower(F.trim(F.regexp_replace(key, r"\s+", " ")))
    occ = (
        src.select("__dl_id", F.posexplode("lines").alias("ln", "line"))
        .withColumn("__k", key)
        .filter(F.col("__k") != "")
        .select(
            "__dl_id",
            "ln",
            F.xxhash64("__k").alias("h1"),
            # salt-FIRST (the substring family's independence caveat)
            F.xxhash64(F.lit(1), "__k").alias("h2"),
        )
    )
    if persist:
        occ = occ.persist()
        _track_postings_handle(occ)
    return src, occ


def _apply_line_cuts(
    src: DataFrame, cut: DataFrame, text_col: str
) -> DataFrame:
    """Shared surgery of the line-dedup family: remove the (__dl_id,
    ln) rows in ``cut`` from ``src``'s line arrays. Consecutive cut
    lines collapse to [s, e) blocks before the per-line probe
    (boilerplate is contiguous; a wholesale-duplicated doc is ONE
    block); the window and both groupBys key on the doc id — one
    shuffle total — and only docs that actually lost a line carry a
    cut_ivals array. Returns (__dl_id, text_col, n_lines_removed)."""
    iw = Window.partitionBy("__dl_id").orderBy("ln")
    marked = (
        cut.withColumn(
            "__isl",
            F.sum(
                F.when(
                    F.col("ln")
                    > F.coalesce(F.lag("ln").over(iw), F.lit(-2)) + 1,
                    1,
                ).otherwise(0)
            ).over(iw),
        )
        .groupBy("__dl_id", "__isl")
        .agg(F.min("ln").alias("s"), (F.max("ln") + 1).alias("e"))
        .groupBy("__dl_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias(
                "cut_ivals"
            ),
            F.sum(F.col("e") - F.col("s")).alias("__n_removed"),
        )
    )
    return (
        src.join(marked, "__dl_id", "left")
        .withColumn(
            "kept",
            F.filter(
                "lines",
                lambda l, i: ~F.exists(
                    "cut_ivals",
                    lambda v: (i >= v["s"]) & (i < v["e"]),
                ),
            ),
        )
        .select(
            "__dl_id",
            F.array_join(
                F.when(F.col("cut_ivals").isNull(), F.col("lines"))
                .otherwise(F.col("kept")),
                "\n",
            ).alias(text_col),
            F.coalesce(F.col("__n_removed"), F.lit(0))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def _rejoin_line_output(
    docs: DataFrame, cleaned: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Reattach passthrough columns to the (__dl_id, text,
    n_lines_removed) surgery output, preserving the input column
    order."""
    others = [c for c in docs.columns if c != text_col]
    if others == [id_col]:
        # (id, text)-shaped input: skip the passthrough rejoin (it
        # would be a full extra shuffle carrying every cleaned text)
        return cleaned.withColumnRenamed("__dl_id", id_col).select(
            *docs.columns, "n_lines_removed"
        )
    return (
        docs.select(*others)
        .join(cleaned.withColumnRenamed("__dl_id", id_col), id_col)
        .select(*docs.columns, "n_lines_removed")
    )


def build_line_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """The LINE-level companion of :func:`build_window_index`: a
    persisted-alongside-the-corpus table of per-(doc, line-key)
    aggregates — (h1, h2, doc_id, n_occ, min_ln, norm) — so new
    batches can be line-deduped against the standing corpus WITHOUT
    rescanning corpus text (:func:`dedup_lines_incremental`).

    Same lifecycle contract as the fingerprint and window indexes:
    build once when the corpus is written (one scan), append the
    surviving batch's rows after each ingest (the read side re-merges
    with sum/min, so appended rows never need a rewrite). Size: one
    row per distinct (doc, line key) ≤ one per corpus LINE — four
    longs + an int + a bool, substantially smaller than the window
    index's per-token rows. No hot cap is needed anywhere in this
    family: counts aggregate, nothing is ever joined pairwise, so a
    million-fold banner is one index row per doc that carries it.

    ``norm`` pins whether keys were normalized (trim + inner-whitespace
    collapse + lowercase) — a query under the other setting would
    silently match nothing, so the incremental checker validates it
    instead of guessing.
    """
    _, occ = _line_occurrences(
        docs, id_col, text_col, normalize, persist=False
    )
    return (
        occ.groupBy("h1", "h2", "__dl_id")
        .agg(F.count("*").alias("n_occ"), F.min("ln").alias("min_ln"))
        .select(
            "h1",
            "h2",
            F.col("__dl_id").alias("doc_id"),
            "n_occ",
            "min_ln",
            F.lit(normalize).alias("norm"),
        )
    )


def dedup_lines_incremental(
    new_docs: DataFrame,
    line_index: DataFrame,
    min_occurrences: int = 2,
    keep: str = "first",
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    count_mode: str = "occurrences",
) -> DataFrame:
    """Line-dedup a NEW batch against a standing corpus's persisted
    :func:`build_line_index` table — corpus text is never rescanned;
    only the index's narrow aggregate rows participate. The ingest-time
    form of :func:`dedup_lines`: a batch line is cut when its
    normalized form occurs ≥ ``min_occurrences`` times across the
    UNION (index totals + batch totals); under ``keep='first'`` the
    single globally-smallest (doc_id, line_no) occurrence survives —
    exact across both sides (corpus minima come from the index, so a
    batch occurrence survives only when it precedes every corpus one
    in (doc, line) order), matching ``dedup_lines`` on the union
    restricted to batch docs. Corpus docs are NOT modified — an
    already-written corpus is immutable here; re-clean it with the
    batch operator offline if its own boilerplate must go.

    Returns the batch frame with ``text_col`` replaced and
    ``n_lines_removed`` appended (same contract as the batch pass).

    Scale shape: one batch scan (narrow hashed rows, persisted), one
    groupBy per side keyed by the line hash, one hash-keyed join
    between them — index rows stream, nothing pairwise, and the only
    per-doc work is the shared interval-merge surgery on the batch's
    own cut lines.

    ``count_mode`` follows the batch operator: ``'occurrences'`` sums
    raw repetition mass (index ``n_occ`` + batch occurrences);
    ``'docs'`` counts distinct documents (index rows are per-(key,
    doc) by contract, batch side count-distinct) — CCNet's
    cross-shard notion.
    """
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be ≥ 2, got {min_occurrences} "
            "(1 would cut every non-blank line in the batch)"
        )
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    expected = {"h1", "h2", "doc_id", "n_occ", "min_ln", "norm"}
    if not expected.issubset(set(line_index.columns)):
        raise ValueError(
            f"line_index columns {line_index.columns} lack "
            f"{sorted(expected - set(line_index.columns))} — build it "
            "with build_line_index"
        )
    # fail fast on a normalization mismatch — the window index's
    # k-validation pattern: the != predicate pushes to parquet
    # row-group stats, so a healthy single-norm index scans NOTHING
    # per micro-batch, while a foreign-norm row is found immediately
    # (an unconditional distinct() would full-scan the index per call)
    bad = (
        line_index.filter(F.col("norm") != F.lit(normalize))
        .select("norm")
        .first()
    )
    if bad is not None:
        raise ValueError(
            f"line_index was built with normalize={bad['norm']}, query "
            f"asked for normalize={normalize} — keys would silently "
            "never match"
        )
    if count_mode not in ("occurrences", "docs"):
        raise ValueError(
            f"count_mode must be 'occurrences' or 'docs', got {count_mode!r}"
        )
    src, occ = _line_occurrences(new_docs, id_col, text_col, normalize)
    # 'docs' mode counts the index's per-(key, doc) ROWS — exactly one
    # per doc carrying the key (the append path anti-joins at that
    # granularity and compaction raises on violations), so no distinct
    # is needed on the corpus side
    c_counter = (
        F.sum("n_occ") if count_mode == "occurrences" else F.count("*")
    )
    b_counter = (
        F.count("*")
        if count_mode == "occurrences"
        else F.count_distinct("__dl_id")
    )
    corpus = line_index.groupBy("h1", "h2").agg(
        c_counter.alias("c_occ"),
        F.min(F.struct(F.col("doc_id"), F.col("min_ln").alias("ln"))).alias(
            "c_canon"
        ),
    )
    batch = occ.groupBy("h1", "h2").agg(
        b_counter.alias("b_occ"),
        F.min(F.struct(F.col("__dl_id").alias("doc_id"), F.col("ln"))).alias(
            "b_canon"
        ),
    )
    hot = (
        batch.join(corpus, ["h1", "h2"], "left")
        .filter(
            F.col("b_occ") + F.coalesce(F.col("c_occ"), F.lit(0))
            >= min_occurrences
        )
        .select(
            "h1",
            "h2",
            # the global canonical: corpus and batch minima are both
            # (doc_id, ln) structs, so least() is exactly the union's
            # min(struct) — no monotone-id assumption needed
            F.when(
                F.col("c_canon").isNull(), F.col("b_canon")
            )
            .otherwise(F.least("c_canon", "b_canon"))
            .alias("canon"),
        )
    )
    cut = occ.join(hot, ["h1", "h2"])
    if keep == "first":
        cut = cut.filter(
            ~(
                (F.col("__dl_id") == F.col("canon.doc_id"))
                & (F.col("ln") == F.col("canon.ln"))
            )
        )
    cleaned = _apply_line_cuts(src, cut, text_col)
    return _rejoin_line_output(new_docs, cleaned, id_col, text_col)


def shared_substring_runs(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 256,
    cap_report: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """MAXIMAL shared runs between document pairs — the form Lee et al.
    2022 (arXiv:2107.06499) actually report: where
    :func:`exact_substring_pairs` says "these docs share N k-token
    windows", this says "they share a run of exactly R tokens starting
    at position p_a in one and p_b in the other". A shared run of R ≥ k
    tokens appears as R−k+1 consecutive shared windows along one
    diagonal (constant p_b − p_a); grouping consecutive window
    positions per (pair, diagonal) and adding k−1 recovers the maximal
    run — the gaps-and-islands composition, same trick as
    sessionization.

    Returns (doc_a, doc_b, start_a, start_b, run_tokens), doc_a <
    doc_b, one row per maximal run (within-pair repeats yield one row
    per diagonal occurrence). Positions index the docs'
    whitespace-token streams after the detector's normalization,
    0-based.

    Same scale shape as the detector plus one extra shuffle: postings
    are (doc, pos, h1, h2) — 4 longs, no text — the pair join is
    postings² per window, and the run-assembly window shuffles the
    JOINED rows by (pair, diagonal), data-proportional to the join
    output it already paid for. The hot cap counts OCCURRENCES (not
    distinct docs — positions are join fan-in here; see
    :func:`_window_postings`), so the join is ≤ ``max_postings²`` rows
    per window unconditionally. Two caveats of that lossy cap: a run
    crossing a >``max_postings``-occurrence boilerplate window splits
    at the dropped window — reported runs are maximal within the
    SURVIVING window stream, so ubiquitous boilerplate inside a shared
    span yields two sub-runs rather than one; and the detector's cap
    counts distinct docs, so a window the detector keeps can be hot
    here when it repeats within documents.

    ``cap_report=True`` additionally returns the one-row
    (n_hot_windows, dropped_postings, max_postings) frame quantifying
    what the cap dropped (see :func:`_window_postings`) — the runs
    frame comes first in the returned tuple.
    """
    postings, cap = _window_postings(
        docs, k, id_col, text_col, max_postings, with_positions=True
    )
    a, b = postings.alias("a"), postings.alias("b")
    shared = a.join(
        b,
        (F.col("a.h1") == F.col("b.h1"))
        & (F.col("a.h2") == F.col("b.h2"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pb") - F.col("pa")
    ).orderBy("pa")
    runs = (
        shared.withColumn("__grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", (F.col("pb") - F.col("pa")).alias("__d"), "__grp")
        .agg(
            F.min("pa").alias("start_a"),
            (F.min("pa") + F.col("__d")).alias("start_b"),
            (F.max("pa") - F.min("pa") + k).cast("long").alias("run_tokens"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "run_tokens")
    )
    return (runs, cap) if cap_report else runs


@query(
    "exact_substring_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
               t -> t <> '') AS toks
      FROM documents
    ), wins AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+19], ' ') AS w
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 19)) AS i)
    ), keep AS (
      SELECT w FROM wins GROUP BY w HAVING count(*) <= 256
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_windows
    FROM wins a JOIN keep USING (w) JOIN wins b USING (w)
    WHERE a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    """,
)
def exact_substring_pairs_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver entry for :func:`exact_substring_pairs` (new r6): k=20
    token windows over the documents table, default postings cap.

    The oracle does NOT replicate the double xxhash64 — it computes the
    shared-window relation DIRECTLY (distinct (doc, 20-token window
    string) postings, same ≤256-doc hot-window cap, self-join, count),
    so a hash-pipeline bug (the r5 salt-fold flaw) shows up as a value
    mismatch instead of being baked into both sides. Equality holds
    because the double 64-bit hash is collision-free at any realistic
    corpus size (~n²/2¹²⁸).
    """
    return exact_substring_pairs(load_table(spark, sf_dir, "documents"), k=20)


@query(
    "shared_substring_runs",
    retired=True,  # r9: slot funded ivm_outer_join_report — the run-
    # detection primitive stays driver-green through its consumers
    # (exact_substring_pairs shares the k-window postings machinery;
    # remove_shared_substrings CONSUMES these runs end to end), and the
    # entry stays value-hash-checked every CI pass by
    # test_retired_parity.
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
               t -> t <> '') AS toks
      FROM documents
    ), occ AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+19], ' ') AS w
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 19)) AS i)
    ), keep AS (
      -- occurrence-count cap (join fan-in), not distinct docs
      SELECT w FROM occ GROUP BY w HAVING count(*) <= 256
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM occ a JOIN keep USING (w) JOIN occ b USING (w)
      WHERE a.doc_id < b.doc_id
    ), grp AS (
      SELECT *, pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, pb - pa ORDER BY pa) AS g
      FROM shared
    )
    SELECT doc_a, doc_b,
           CAST(min(pa) AS INTEGER) AS start_a,
           CAST(min(pa) + (pb - pa) AS INTEGER) AS start_b,
           CAST(max(pa) - min(pa) + 20 AS BIGINT) AS run_tokens
    FROM grp GROUP BY doc_a, doc_b, pb - pa, g
    """,
)
def shared_substring_runs_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver entry for :func:`shared_substring_runs` (registered r7,
    funded by retiring ``pivot_unpivot``): k=20 token windows over the
    documents table, default occurrence cap.

    Like the detector's entry, the oracle is hash-FREE — it recomputes
    the maximal runs from the window STRINGS (postings → occurrence
    cap → pair join → gaps-and-islands over diagonals), so a bug in
    the double-xxhash64 pipeline or in the run assembly shows up as a
    value mismatch instead of being baked into both sides.
    """
    return shared_substring_runs(load_table(spark, sf_dir, "documents"), k=20)


@query(
    "remove_shared_substrings",
    oracle=r"""
    WITH toks AS (
      -- RAW text tokens (case-sensitive), the removal pass's contract:
      -- surviving text keeps its original casing
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks,
             coalesce(text, '') AS orig
      FROM documents
    ), occ AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+19], ' ') AS w
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 19)) AS i)
    ), dup AS (
      SELECT w FROM occ GROUP BY w HAVING count(*) >= 2
    ), ranked AS (
      SELECT o.doc_id, o.pos, row_number() OVER (
               PARTITION BY o.w ORDER BY o.doc_id, o.pos) AS rn
      FROM occ o JOIN dup USING (w)
    ), marked AS (
      SELECT doc_id, pos FROM ranked WHERE rn > 1
    ), cover AS (
      SELECT DISTINCT m.doc_id, m.pos + j AS tp
      FROM marked m, LATERAL (SELECT unnest(generate_series(0, 19)) AS j)
    ), cut_docs AS (
      SELECT DISTINCT doc_id FROM marked
    ), tokpos AS (
      SELECT t.doc_id, j - 1 AS tp, t.toks[j] AS tok
      FROM toks t JOIN cut_docs USING (doc_id),
           LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS j)
    ), rebuilt AS (
      SELECT tp.doc_id,
             coalesce(string_agg(tp.tok, ' ' ORDER BY tp.tp), '') AS txt
      FROM tokpos tp
      LEFT JOIN cover c ON c.doc_id = tp.doc_id AND c.tp = tp.tp
      WHERE c.tp IS NULL
      GROUP BY tp.doc_id
    )
    SELECT t.doc_id,
           CASE WHEN cd.doc_id IS NULL THEN t.orig
                ELSE coalesce(r.txt, '') END AS text,
           CAST(coalesce(cv.n, 0) AS BIGINT) AS n_tokens_removed
    FROM toks t
    LEFT JOIN cut_docs cd USING (doc_id)
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN (SELECT doc_id, count(*) AS n FROM cover GROUP BY doc_id) cv
           USING (doc_id)
    """,
)
def remove_shared_substrings_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver entry for :func:`remove_shared_substrings` (registered
    r7, funded by retiring ``profile_columns``): k=20 token spans over
    the documents table; the value hash covers the full CLEANED TEXT of
    every document plus the removed-token counts.

    Hash-free oracle: DuckDB recomputes duplicated windows from the
    window STRINGS, picks the same smallest-(doc_id, pos) canonical via
    row_number, expands marked windows to covered token positions, and
    rebuilds each cut doc's text by re-joining the surviving tokens —
    so the token surgery (interval merge + per-token probe) is checked
    against an independent set-algebra construction, not against its
    own hashes.
    """
    return remove_shared_substrings(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), k=20
    )


@query(
    "dedup_lines",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         t -> t <> '') AS toks
      FROM documents
    ), lines AS (
      SELECT doc_id, i - 1 AS ln,
             array_to_string(toks[(i-1)*12+1 : (i-1)*12+12], ' ') AS line
      FROM toks, LATERAL (SELECT unnest(generate_series(
               1, CAST(ceil(len(toks) / 12.0) AS INT))) AS i)
    ), ranked AS (
      SELECT doc_id, ln,
             count(*) OVER (PARTITION BY key) AS n,
             row_number() OVER (
               PARTITION BY key ORDER BY doc_id, ln) AS rn
      FROM (SELECT *, lower(trim(regexp_replace(line, '\s+', ' ', 'g')))
                      AS key
            FROM lines)
      WHERE key <> ''
    ), cut AS (
      SELECT doc_id, ln FROM ranked WHERE n >= 2 AND rn > 1
    ), rebuilt AS (
      SELECT l.doc_id,
             coalesce(string_agg(l.line, chr(10) ORDER BY l.ln),
                      '') AS text
      FROM lines l LEFT JOIN cut c
        ON c.doc_id = l.doc_id AND c.ln = l.ln
      WHERE c.ln IS NULL
      GROUP BY l.doc_id
    )
    SELECT t.doc_id,
           coalesce(r.text, '') AS text,
           CAST(coalesce(cv.n, 0) AS BIGINT) AS n_lines_removed
    FROM toks t
    LEFT JOIN rebuilt r USING (doc_id)
    LEFT JOIN (SELECT doc_id, count(*) AS n FROM cut GROUP BY doc_id) cv
           USING (doc_id)
    """,
)
def dedup_lines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Driver entry for :func:`dedup_lines` (registered r7, funded by
    retiring ``similarity_pairs`` — its cosine-pair primitive stays
    driver-checked via ``dedup_embedding_cosine`` and
    ``semantic_dedup``). The documents table is single-line token
    streams, so the entry first re-chunks each doc into 12-token
    lines joined by ``\n`` (deterministic, replicated in the oracle —
    the ``_augmented_embeddings`` twin-augmentation pattern), then
    runs the default corpus-wide pass (min_occurrences=2,
    keep='first'). 206 duplicate-line occurrences across 69 docs fire
    at sf0.01; the value hash covers the full CLEANED text of every
    document plus the removed-line counts.

    The oracle is hash-free: DuckDB recomputes hot lines from the line
    STRINGS (window count over the normalized key), picks the same
    smallest-(doc_id, ln) canonical via row_number, and rebuilds the
    surviving text with an ordered string_agg — so the double-xxhash64
    key pipeline, the interval merge, and the array-side surgery are
    all checked against an independent construction. Line keys here
    equal the raw lines (chunks are single-space token joins), so the
    oracle needs no blank-key branch; the library's own blank/NULL
    edge cases are pytest-covered on planted fixtures.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    lined = d.select(
        "doc_id",
        F.array_join(
            # sequence(1, n) DESCENDS when n < 1 — guard zero-token
            # docs (the _shingle_array guard, same reason)
            F.when(
                F.size(toks) > 0,
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.ceil(F.size(toks) / F.lit(12.0)).cast("int"),
                    ),
                    lambda i: F.array_join(
                        F.slice(toks, (i - F.lit(1)) * 12 + 1, 12), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
            "\n",
        ).alias("text"),
    )
    # the chunking is an interpreted HOF stack and dedup_lines scans
    # its input twice (hash build + rebuild join) — persist so it runs
    # once (bounded handle registry, released by
    # clear_intermediate_caches; measured ~2× on this entry)
    lined = lined.persist()
    _track_postings_handle(lined)
    return dedup_lines(lined, min_occurrences=2, keep="first")


@query(
    "substring_incremental",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(
               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
               t -> t <> '') AS toks
      FROM documents
    ), wins AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+19], ' ') AS w
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 19)) AS i)
    ), keep AS (
      -- the cap counts the UNION's totals — whole-corpus window counts
      SELECT w FROM wins GROUP BY w HAVING count(*) <= 256
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_shared_windows
      FROM wins a JOIN keep USING (w) JOIN wins b USING (w)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT * FROM pairs WHERE doc_a % 10 = 3 OR doc_b % 10 = 3
    """,
)
def substring_incremental_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver entry for the STANDING-CORPUS substring path (registered
    r7, funded by retiring ``subquery_in_not_in``): window-index the
    90% 'corpus' split (doc_id % 10 != 3), then run
    :func:`exact_substring_pairs_incremental` for the 10% 'batch'
    split — corpus text is never rescanned by the checker; only the
    index's narrow hash rows participate.

    The hash-free oracle states the CONTRACT rather than the
    mechanism: the incremental result must equal the batch detector's
    union-run rows touching a batch doc (window strings, union-cap,
    same pair counts) — so the index build, the batch-id anti-join,
    the union-cap aggregate, and the is_new join orientation are all
    value-hash-checked against a construction that knows nothing about
    any of them.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 10 != 3)
    batch = d.filter(F.col("doc_id") % 10 == 3)
    # the STANDING index, held per (session, corpus) like production
    # holds it on storage (r12): build_window_index's contract is
    # "build once when the corpus is written" — rebuilding it on every
    # check re-scanned and re-hashed the 90% corpus split per call.
    # Same session-lifetime intermediate class as the jaccard pair
    # graph; cleared by clear_intermediate_caches.
    from pyspark import StorageLevel

    idx = session_memo(
        spark,
        "window_index",
        (sf_dir, 20),
        lambda: build_window_index(corpus, k=20).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )
    return exact_substring_pairs_incremental(batch, idx, k=20)


def semantic_dedup(
    e: DataFrame,
    threshold: float = 0.97,
    checkpoint_dir: str | None = None,
    algorithm: str = "hashmin",
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): drop all but one of every group of semantically
    near-identical items, where "near-identical" is embedding cosine ≥
    ``threshold`` and groups are the transitive closure of the pair
    relation.

    Input: a (vec_id, embedding) frame. Returns ``(kept, report)``:
    ``kept`` is the input rows that survive (schema unchanged), and
    ``report`` is (vec_id, representative) for every dropped row — the
    representative is its group's smallest vec_id (deterministic; the
    published recipe keeps the item farthest from the cluster centroid,
    a policy choice this operator leaves to the caller — swap the
    min-id keeper by re-ranking ``report`` groups).

    Composition of the two scale-hardened primitives this family
    already ships: candidate pairs from `embedding_cosine_pairs` (LSH
    band-bucketing bounds the candidate set — the role k-means
    clustering plays in the paper), grouping from
    `connected_components` (Hash-Min, lineage-cut per round;
    ``checkpoint_dir`` passes through for executor-loss-safe runs, and
    ``algorithm="star"`` for high-diameter duplicate chains).
    Everything is bucketed/banded — no all-pairs join at any stage.
    """
    pairs = embedding_cosine_pairs(e, threshold).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = connected_components(pairs, checkpoint_dir, algorithm=algorithm)
    report = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("representative"),
    )
    kept = e.join(report.select("vec_id"), "vec_id", "left_anti")
    return kept, report


@query(
    "semantic_dedup",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ), e AS (
      SELECT vec_id, emb FROM base
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(emb, x -> x + 0.02 * x * x) AS emb
      FROM base WHERE vec_id < 8
    ), pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.97
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, x.dst FROM reach r JOIN edges x ON r.dst = x.src
    )
    SELECT src AS vec_id, least(src, min(dst)) AS representative
    FROM reach GROUP BY src
    HAVING least(src, min(dst)) <> src
    """,
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`semantic_dedup` (new r6): the drop
    report (vec_id, representative) at cosine ≥ 0.97 over the same
    twin-augmented embeddings corpus as ``dedup_embedding_cosine``
    (organic max cosine ~0.60 — the twins make the row non-vacuous).

    The oracle composes the two primitives' already-proven oracle
    forms: an exact all-pairs cosine filter (the LSH banding's recall
    at ≥0.97 is ~1 by construction — same argument the
    dedup_embedding_cosine row has relied on since r3) and the
    recursive-CTE transitive closure from dedup_clusters, reduced to
    the dropped rows (label ≠ self).
    """
    _kept, report = semantic_dedup(_augmented_embeddings(spark, sf_dir), 0.97)
    return report


# --------------------------------------------------------------------
# incremental dedup: new batch vs an existing corpus index
# --------------------------------------------------------------------


def build_corpus_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The per-document dedup index to persist ALONGSIDE a corpus:
    (doc_id, fingerprint, mh_0..mh_31) — the exact-dup key plus the
    MinHash signature. One row × 33 small columns per document, so the
    index of a 100 TB corpus is a few hundred GB of parquet: the thing
    that makes ``dedup_incremental`` possible without ever rescanning
    corpus text.

    Build it once when the corpus is written (one scan), append the new
    batch's rows after each ingest — the same incremental contract as
    sources/incremental.py, applied to dedup state.

    EVERY document gets a row: docs too short to shingle (<3 tokens)
    have no MinHash signature, so their mh_* columns are NULL — they
    participate in the exact-fingerprint path but are excluded from
    the band/near path (a left join here, not inner, or short docs
    would vanish from the index entirely and identical short docs
    would be re-ingested forever).
    """
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    fp = src.select("doc_id", F.md5(_norm_text()).alias("fingerprint"))
    return fp.join(_minhash_sig_table(src), "doc_id", "left")


def build_window_index(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The SUBSTRING-level companion of :func:`build_corpus_index`: a
    persisted-alongside-the-corpus postings table of distinct
    (doc_id, h1, h2, k) window hashes, so new batches can be
    substring-checked against the standing corpus WITHOUT rescanning
    corpus text (:func:`exact_substring_pairs_incremental`) — the gap
    the fingerprint+MinHash index leaves: those catch whole-document
    duplication, not a quoted/boilerplate k-token span.

    Same lifecycle contract as the fingerprint index: build once when
    the corpus is written (one scan), append the surviving batch's rows
    after each ingest. Honest size note: one row per distinct k-window
    ≈ one per corpus token — three longs + a small int ≈ 25 bytes/token
    of parquet before compression, a low single-digit percent of corpus
    text size (vs the fingerprint index's one ROW per document). That
    is the price of substring granularity; partition the parquet by
    ``pmod(h1, N)`` when the index outgrows single-dir listing.

    The ``k`` column pins the window size the index was built with —
    a query at a different k would silently match nothing, so the
    incremental checker validates it instead of guessing.
    """
    return (
        _hashed_windows(docs, k, id_col, text_col, with_positions=False)
        .distinct()
        .withColumn("k", F.lit(k))
    )


def compact_window_index(
    spark: SparkSession,
    path: str,
    max_postings: int | None = None,
    target_rows_per_file: int = 4_000_000,
    hot_keep_margin: int = 8,
) -> dict:
    """Offline maintenance for a persisted :func:`build_window_index`
    directory that :func:`~..streaming.ingest.stream_ingest_dedup`
    appends to: every micro-batch adds a handful of parquet files, so a
    long-running ingest accumulates thousands of tiny files — the
    classic small-file problem that makes the per-batch index scan
    listing-bound long before it is data-bound. Rewrites the index as
    ``ceil(rows / target_rows_per_file)`` right-sized files and swaps
    the directory atomically (two renames; a crash at any point is
    healed by the next call — see below).

    With ``max_postings`` it ALSO trims corpus-hot windows: a window
    already present in more than ``max_postings`` docs is boilerplate
    the incremental checker's union cap drops from every future result
    anyway, yet the index keeps paying to store and scan ALL its rows
    forever. The trim keeps the ``max_postings + 1 + hot_keep_margin``
    smallest-doc_id rows per window and drops the rest — enough rows
    that the union count stays strictly over the cap, so the window
    stays hot in EVERY future check (the cap is monotone: union counts
    only exceed index counts) and incremental results are bit-identical
    pre/post trim (pytest-pinned). The margin absorbs replay exclusion:
    a check anti-joins index rows carrying the current batch's ids, so
    if kept rows' docs are re-ingested the surviving count must still
    exceed the cap — ``hot_keep_margin`` re-ingested keeper docs are
    tolerated per window; pass a larger margin when whole corpus slices
    get replayed. Trimming is index-lifecycle-lossy (a later
    ``max_postings`` INCREASE would need the dropped rows back; rebuild
    from corpus text for that), which is the same documented trade the
    per-query hot cap already makes.

    Single-writer contract (the same one Hudi's offline compaction
    honors): run only while ingestion is quiesced at a committed batch
    boundary — compacting concurrently with an in-flight append can
    lose that append's rows at the swap.

    Crash safety: data lands in ``<path>__compact_tmp`` first, then
    ``path`` → ``<path>__compact_old`` → tmp → ``path`` → delete old.
    On entry, a torn previous run is healed: a COMPLETE tmp (_SUCCESS
    present) with the index dir missing rolls forward, an incomplete
    one rolls back, a leftover old dir after a completed swap is
    deleted. The heal is exact on stores with ATOMIC directory rename
    (HDFS, local, ABFS); a store whose rename is copy+delete (S3A) can
    tear MID-rename and leave all three dirs partially populated — the
    heal detects that state and RAISES with the recovery options
    rather than guess which copy is whole (see
    :func:`_heal_compact_swap`). Returns a small report dict
    (rows_before/after, files_before/after, hot_windows_trimmed,
    rows_trimmed) — the no-silent-caps principle again: what the trim
    ate is data, not a docstring.
    """
    if max_postings is not None:
        if max_postings <= 1:
            raise ValueError(f"max_postings must be > 1, got {max_postings}")
        if hot_keep_margin < 0:
            # keep = max_postings+1+margin must stay > max_postings or
            # the trim itself would un-hot (or with keep <= 0 EMPTY)
            # the windows it is supposed to preserve as hot
            raise ValueError(
                f"hot_keep_margin must be >= 0, got {hot_keep_margin}"
            )

    def prepare(base: DataFrame, stats) -> tuple[DataFrame, dict]:
        ks = sorted(stats["__ks"])
        # zero rows → zero distinct k values: a first micro-batch whose
        # docs all deduped away legitimately leaves an empty index dir,
        # and compacting it is a valid no-op rewrite — only MIXED k
        # (>1) is the rebuild-worthy contract violation
        if len(ks) > 1:
            raise ValueError(
                f"window index at {path} contains k={ks}: refusing to "
                "compact a mixed-k index (windows of different sizes "
                "never match — rebuild it at one k instead)"
            )
        trim_report = {"hot_windows_trimmed": 0, "rows_trimmed": 0}
        if max_postings is None:
            return base, trim_report
        keep = max_postings + 1 + hot_keep_margin
        w = Window.partitionBy("h1", "h2").orderBy("doc_id")
        numbered = base.withColumn("__rn", F.row_number().over(w))
        tstats = (
            numbered.filter(F.col("__rn") > keep)
            .agg(
                F.count("*").alias("rows"),
                F.count_distinct("h1", "h2").alias("windows"),
            )
            .first()
        )
        trim_report = {
            "hot_windows_trimmed": int(tstats["windows"]),
            "rows_trimmed": int(tstats["rows"]),
        }
        return (
            numbered.filter(F.col("__rn") <= keep).drop("__rn"),
            trim_report,
        )

    return _compact_index_dir(
        spark,
        path,
        target_rows_per_file,
        extra_stats=[F.collect_set("k").alias("__ks")],
        prepare=prepare,
    )


def compact_line_index(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 8_000_000,
) -> dict:
    """:func:`compact_window_index`'s sibling for the line index
    (:func:`build_line_index`): rewrite accumulated small appended
    files as right-sized ones behind the same crash-healed atomic
    swap. No trim dimension — the index is per-(line-key, doc)
    AGGREGATES, never joined pairwise, so there is no fan-in to cap.
    Byte-identical duplicate rows from torn writers wash out in the
    scaffold's distinct(); what must NOT be silently merged is two
    rows for the same (line-key, doc) with DIFFERENT aggregates — that
    means a doc's text changed between appends without its old rows
    being retracted, and summing stale+new counts would overstate
    hotness forever — so compaction validates and RAISES (the
    mixed-k contract-violation stance), as does a mixed ``norm``
    column. Same single-writer contract: run while ingestion is
    quiesced at a committed batch boundary.
    """

    def prepare(base: DataFrame, stats) -> tuple[DataFrame, dict]:
        norms = sorted(stats["__norms"] or [])
        if len(norms) > 1:
            raise ValueError(
                f"line index at {path} mixes norm={norms}: keys hashed "
                "under different normalizations never match each other "
                "— rebuild the index one way"
            )
        conflicts = (
            base.groupBy("h1", "h2", "doc_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        if conflicts:
            raise ValueError(
                f"line index at {path} holds {conflicts} (line-key, doc) "
                "keys with conflicting aggregates — a doc was re-indexed "
                "without retracting its old rows; rebuild its rows "
                "instead of compacting the contradiction in"
            )
        return base, {}

    return _compact_index_dir(
        spark,
        path,
        target_rows_per_file,
        extra_stats=[F.collect_set("norm").alias("__norms")],
        prepare=prepare,
    )


def compact_corpus_index(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 8_000_000,
) -> dict:
    """:func:`compact_window_index`'s sibling for the per-document
    fingerprint+MinHash index (:func:`build_corpus_index`) that
    :func:`~..streaming.ingest.stream_ingest_dedup` appends to each
    micro-batch: rewrite the accumulated small files as right-sized
    ones behind the same crash-healed atomic swap. No trim dimension —
    the index is one row per surviving document by construction (the
    append path anti-joins already-indexed doc ids), so compaction
    only washes out byte-identical duplicate rows from torn writers
    (``distinct()`` on the full row, which PRESERVES the ``__src_*``
    replay tags — rows differing only in provenance are kept rather
    than second-guessed). Same single-writer contract: run while
    ingestion is quiesced at a committed batch boundary.
    """
    return _compact_index_dir(spark, path, target_rows_per_file)


def _compact_index_dir(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    extra_stats: list | None = None,
    prepare=None,
) -> dict:
    """Shared compaction scaffold: heal a torn previous swap, collect
    every pre-stat in ONE scan (the indexes this op exists for are
    listing-bound — per-stat scans would multiply the maintenance
    window), full-row distinct, an optional caller hook (validation /
    trim) over the persisted base, then the sized rewrite + swap."""
    from ..fs import fs_for

    fs = fs_for(spark)
    _heal_compact_swap(fs, path)
    idx = spark.read.option("mergeSchema", "true").parquet(path)
    # input_file_name() is non-deterministic and rejected inside an
    # aggregate argument — project it first
    stats = (
        idx.withColumn("__f", F.input_file_name())
        .agg(
            F.count("*").alias("__rows"),
            F.count_distinct("__f").alias("__files"),
            *(extra_stats or []),
        )
        .first()
    )

    # the append lanes keep the indexes single-rowed per key, but
    # compaction is where accidental byte-identical duplicates from
    # torn writers get washed out — distinct() is one shuffle on an
    # offline op. Persisted: the hook's stats, the row count, and the
    # rewrite would each replay the read+distinct otherwise.
    base = idx.distinct().persist()
    try:
        compacted, extra_report = (
            prepare(base, stats) if prepare is not None else (base, {})
        )
        rows_after = compacted.count()
        n_files = _write_compact_swap(
            fs, path, compacted, rows_after, target_rows_per_file
        )
    finally:
        base.unpersist()
    return {
        "rows_before": int(stats["__rows"]),
        "rows_after": int(rows_after),
        "files_before": int(stats["__files"]),
        "files_after": int(n_files),
        **extra_report,
    }


def _heal_compact_swap(fs, path: str) -> None:
    """Entry guard for the compaction swap: heal a torn previous run.

    Under ATOMIC directory rename the reachable crash states are
    exactly: {old, complete tmp, no index dir} (between the two
    renames) → roll the rewrite forward; {old, index dir, no tmp}
    (after the second rename) → only old's delete was lost, finish it;
    {old, incomplete tmp, no index dir} → roll back to the
    pre-compaction dir. All three dirs existing at once is UNREACHABLE
    under atomic rename — it means the store renames by copy+delete
    (S3A) and a rename tore mid-copy, so the index dir AND old may
    both be partial: refuse to guess which copy is whole and raise
    with the recovery options instead of deleting a recovery source.
    """
    tmp, old = f"{path}__compact_tmp", f"{path}__compact_old"
    if fs.exists(old):
        if fs.exists(path):
            if fs.exists(tmp):
                raise OSError(
                    f"compaction swap at {path} is torn in a way atomic "
                    f"renames cannot produce ({old} and {tmp} both "
                    "present alongside the index dir): this store's "
                    "rename is non-atomic (S3A-style copy+delete) and a "
                    "rename tore mid-copy, so the index dir and the old "
                    "copy may BOTH be partial. Recover manually: if "
                    f"{tmp} contains _SUCCESS and a full file set, it is "
                    "the complete rewrite; otherwise reconcile "
                    f"{path} ∪ {old} (their union covers the "
                    "pre-compaction index) or rebuild from corpus text."
                )
            # swap completed; only the old dir's delete was lost
            fs.delete_recursive(old)
        elif fs.exists(f"{tmp}/_SUCCESS"):
            # crash between the two renames with a complete rewrite:
            # roll forward
            if not fs.rename(tmp, path):
                raise OSError(f"heal: rename {tmp} -> {path} failed")
            fs.delete_recursive(old)
        else:
            # incomplete tmp: roll back to the pre-compaction index
            fs.delete_recursive(tmp)
            if not fs.rename(old, path):
                raise OSError(f"heal: rename {old} -> {path} failed")
    if fs.exists(tmp):
        fs.delete_recursive(tmp)


def _write_compact_swap(
    fs, path: str, frame: DataFrame, rows: int, target_rows_per_file: int
) -> int:
    """Write ``frame`` as ``ceil(rows / target)`` files to the tmp dir,
    then swap it in (path → old → delete; tmp → path). Returns the
    file count."""
    tmp, old = f"{path}__compact_tmp", f"{path}__compact_old"
    n_files = max(1, -(-rows // max(1, target_rows_per_file)))
    frame.repartition(n_files).write.mode("overwrite").parquet(tmp)
    if not fs.rename(path, old):
        raise OSError(f"rename {path} -> {old} failed")
    if not fs.rename(tmp, path):
        # put the index back rather than leaving it missing
        fs.rename(old, path)
        raise OSError(f"rename {tmp} -> {path} failed")
    fs.delete_recursive(old)
    return n_files


def exact_substring_pairs_incremental(
    new_docs: DataFrame,
    window_index: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 256,
    within_batch: bool = True,
    cap_report: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """:func:`exact_substring_pairs` for a NEW batch against a standing
    corpus: every pair involving a new document that shares ≥1
    identical k-token window with the corpus (via its persisted
    :func:`build_window_index` — corpus TEXT is never rescanned) or,
    with ``within_batch`` (default), with another new document.
    Returns (doc_a, doc_b, n_shared_windows), doc_a < doc_b — EXACTLY
    the batch detector's rows touching a new doc when run on the
    union (pytest-pinned, including the cap). Standing within-corpus
    pairs are the index owner's, computed when the corpus was indexed;
    note the cap is monotone — a window the batch pushes over
    ``max_postings`` is dropped here AND would be dropped from any
    union re-run, but standing pairs counted under the smaller corpus
    keep their historical window counts until recomputed.

    The hot cap counts postings over the UNION (index ∪ batch), the
    same totals the batch detector sees on the combined corpus — a
    window pushed over the cap by the new batch is dropped from both
    sides. Cost shape: ONE scan of the index's narrow long rows per
    batch, filtered MAP-SIDE to batch-touched windows by a broadcast
    semi-join on the batch's hash set before anything shuffles —
    untouched windows (the overwhelming majority against a big corpus)
    never leave their executors, so the cap aggregate and the pair
    join are batch-proportional; only the scan itself is
    index-proportional (a hash-bucketed index layout would prune that
    too). Untouched windows cannot appear in any pair and their
    hotness cannot affect surviving pairs, so union-cap parity is
    exact (the hypothesis property pins it); the ``cap_report``
    accordingly covers BATCH-TOUCHED hot windows — the ones that
    affected this result — not the whole corpus's boilerplate census.

    Replay-safe by construction: index rows whose doc_id is in the
    batch are excluded first (broadcast anti-join on the small batch's
    ids — a map-side filter, no index shuffle), so re-running a batch
    whose index rows were already appended (the crash-between-append-
    and-commit window of streaming/ingest.py) returns the same pairs
    as the first attempt instead of double-counting.

    ``cap_report=True`` additionally returns the one-row
    (n_hot_windows, dropped_postings, max_postings) frame over the
    UNION's totals — the batch operators' cap observability, here too.
    """
    if max_postings <= 1:
        raise ValueError(f"max_postings must be > 1, got {max_postings}")
    if "k" in window_index.columns:
        # exact mixed-k detection at near-zero standing cost: the
        # predicate pushes to parquet row-group stats, so on a
        # well-formed index (every group min=max=k) the scan skips
        # EVERYTHING; a foreign-k row — appended by a misconfigured
        # writer — is found immediately. (A first()-sample would pass
        # on a lucky row; an unconditional distinct() full-scanned the
        # index once per micro-batch.)
        bad = window_index.filter(F.col("k") != F.lit(k)).select("k").first()
        if bad is not None:
            raise ValueError(
                f"window index contains k={bad['k']} rows but was queried "
                f"with k={k}: windows of different sizes never match"
            )
    new_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    new_post = (
        _hashed_windows(new_docs, k, id_col, text_col, with_positions=False)
        .distinct()
        .persist()
    )
    _track_postings_handle(new_post)
    idx_post = window_index.select("doc_id", "h1", "h2").join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    )
    all_post = idx_post.withColumn("is_new", F.lit(False)).unionByName(
        new_post.withColumn("is_new", F.lit(True))
    )
    # restrict everything downstream to BATCH-TOUCHED windows first: a
    # broadcast semi-join on the batch's (small) hash set filters the
    # index map-side, so the cap aggregate and the pair join shuffle
    # only rows that can produce output. Untouched windows cannot
    # appear in any pair, and their hotness is irrelevant to the
    # surviving pairs — union-cap parity is preserved exactly (the
    # hypothesis property pins it). Without this, both stages
    # aggregated/shuffled the FULL index per batch.
    batch_keys = new_post.select("h1", "h2").distinct()
    touched = all_post.join(F.broadcast(batch_keys), ["h1", "h2"], "left_semi")
    # two consumers (cap aggregate + join build side) and the frame is
    # batch-proportional: persist it so the INDEX scan behind it runs
    # once per call, not twice
    touched = touched.persist()
    _track_postings_handle(touched)
    hot_full = (
        touched.groupBy("h1", "h2")
        .agg(F.count("*").alias("n_post"))
        .filter(F.col("n_post") > max_postings)
    )
    hot = hot_full.select("h1", "h2")
    cap = hot_full.agg(
        F.count("*").alias("n_hot_windows"),
        F.coalesce(F.sum("n_post"), F.lit(0)).alias("dropped_postings"),
        F.lit(max_postings).alias("max_postings"),
    )
    probe = new_post.join(F.broadcast(hot), ["h1", "h2"], "left_anti")
    build = touched.join(F.broadcast(hot), ["h1", "h2"], "left_anti")
    if not within_batch:
        build = build.filter(~F.col("is_new"))
    a, b = probe.alias("a"), build.alias("b")
    # corpus matches join once (disjoint ids after the anti-join);
    # batch-batch matches are restricted to a < b so each new-new pair
    # counts exactly once — least/greatest then normalizes orientation
    cond = (
        (F.col("a.h1") == F.col("b.h1"))
        & (F.col("a.h2") == F.col("b.h2"))
        & (
            (~F.col("b.is_new"))
            | (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    )
    pairs = (
        a.join(b, cond)
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_windows"))
    )
    return (pairs, cap) if cap_report else pairs


def dedup_incremental(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_self: bool = False,
    window_index: DataFrame | None = None,
    min_shared_windows: int = 1,
    window_k: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an EXISTING corpus without touching
    corpus text: exact dups by fingerprint equality, near-dups by
    MinHash band agreement (signature-estimated Jaccard ≥ threshold)
    against the corpus's persisted ``build_corpus_index`` table.

    Returns ``(clean_new_docs, report)``: the new rows that survive
    (schema unchanged), and a (doc_id, matched_doc_id, reason,
    est_jaccard) report of every dropped row — ``reason`` is 'exact'
    or 'near'; exact matches report est_jaccard 1.0. A new doc matching
    several corpus docs reports the strongest match (max est_jaccard,
    min matched_doc_id tie-break).

    This is the ingest-time path of a standing 100 TB corpus: the daily
    crawl (≪ corpus) is indexed in one pass; the band join shuffles
    batch + index rows by band key — data-proportional, never a corpus
    text rescan. Within-batch duplicates are NOT handled here — run
    the batch through the intra-corpus operators first (dedup_exact /
    dedup_minhash_lsh), then this against the historical index.

    ``exclude_self`` ignores index rows whose doc_id equals the new
    doc's id. NOTE it is NOT sufficient for replay idempotence in an
    append-before-ack ingest loop: a replayed doc can still match a
    same-batch SIBLING's previously-appended index row (different
    doc_id) and be dropped where the original run kept it.
    streaming/ingest.stream_ingest_dedup therefore tags appended rows
    with their (checkpoint, batch_id) and excludes the whole tag on
    replay instead of using this flag — do the same in any caller that
    appends before acknowledging. ``exclude_self`` remains right for
    the narrower case where only the doc's OWN row may pre-exist
    (e.g. re-indexing a corrected document against a standing index).

    ``window_index`` (a persisted :func:`build_window_index` table)
    adds the SUBSTRING lane: a new doc sharing at least
    ``min_shared_windows`` identical ``window_k``-token windows with
    any corpus doc is also dropped, reported with reason 'substring'
    and NULL est_jaccard (a window count is not a Jaccard). Substring
    matches rank below exact/near in the attribution (DESC est_jaccard
    puts NULL last), so a doc that is both reports the stronger
    reason; ties inside the lane attribute to the most shared windows,
    then the smallest keeper id. UNLIKE the fingerprint lanes, this
    lane also handles WITHIN-BATCH substring pairs (its postings are
    built from the batch anyway): a new-vs-corpus match drops the new
    doc, a new-vs-new match drops the larger id (the intra-batch
    min-id-keeper convention) — which makes replay BATCHING-INVARIANT
    when ids are monotone with arrival order (the natural contract of
    an append-only ingest assigning keys at intake): a re-streamed
    source whose span owner and quoter collapse into one micro-batch
    then reaches the original decision, because the earlier-arriving
    owner also carries the smaller id. With NON-monotone ids the
    two policies can disagree — a small-id quoter arriving after a
    large-id owner is dropped batch-by-batch (new-vs-corpus) but kept
    when re-streamed in one batch (min-id keeper prefers it) — so a
    collapsed re-stream may keep a different member of the pair than
    the incremental run did (never both more than transiently: the
    next pass over the union drops one again). Greedy caveat: in a chain A<B<C where B matches
    A and C matches only B, C is dropped even though its keeper B was
    dropped too — deterministic and conservative (over-drops, never
    under-drops); run the batch detector + components for exact
    cluster-level keep policies. The lane ALWAYS excludes the batch's
    own index rows (the incremental checker's broadcast anti-join), so
    it is replay-safe regardless of ``exclude_self``. The lane costs
    one batch scan plus one aggregate over the window index's narrow
    rows (exact cap parity — see
    :func:`exact_substring_pairs_incremental`); corpus text is never
    rescanned.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if min_shared_windows <= 0:
        raise ValueError(
            f"min_shared_windows must be positive, got {min_shared_windows}"
        )
    new_idx = build_corpus_index(new_docs, id_col, text_col)

    def _drop_self(df: DataFrame) -> DataFrame:
        # pairwise, BEFORE any attribution aggregate — aggregating
        # first could let a self-row mask or win over a genuine match
        return df.filter(F.col("matched_doc_id") != F.col("doc_id")) if exclude_self else df

    # exact: fingerprint equi-join, then min corpus doc_id per new doc
    # (deterministic match attribution)
    exact = (
        _drop_self(
            new_idx.select("doc_id", "fingerprint").join(
                corpus_index.select(
                    F.col("doc_id").alias("matched_doc_id"), "fingerprint"
                ),
                "fingerprint",
            )
        )
        .groupBy("doc_id")
        .agg(F.min("matched_doc_id").alias("matched_doc_id"))
        .select(
            "doc_id",
            "matched_doc_id",
            F.lit("exact").alias("reason"),
            F.lit(1.0).alias("est_jaccard"),
        )
    )

    # near: band agreement between new signatures and index signatures,
    # then signature-agreement verify — the dedup_minhash_lsh pipeline
    # with the self-join replaced by a new-vs-index join. Shingle-less
    # docs carry NULL mh_* columns (build_corpus_index left join) and
    # must be filtered BEFORE banding: Spark's struct equality treats
    # NULL fields as equal, so two all-NULL bands would band-match.
    nb = new_idx.filter(F.col("mh_0").isNotNull()).select(
        "doc_id", F.explode(_band_struct_col()).alias("bk")
    )
    cb = corpus_index.filter(F.col("mh_0").isNotNull()).select(
        F.col("doc_id").alias("matched_doc_id"),
        F.explode(_band_struct_col()).alias("bk"),
    )
    cands = _drop_self(
        nb.join(cb, "bk").select("doc_id", "matched_doc_id")
    ).distinct()
    sa = new_idx.select("doc_id", *[f"mh_{i}" for i in range(_MH_N)]).alias("sa")
    sb = corpus_index.select(
        F.col("doc_id").alias("matched_doc_id"),
        *[F.col(f"mh_{i}").alias(f"omh_{i}") for i in range(_MH_N)],
    ).alias("sb")
    agree = sum(
        F.when(F.col(f"mh_{i}") == F.col(f"omh_{i}"), 1).otherwise(0)
        for i in range(_MH_N)
    )
    near = (
        cands.join(sa, "doc_id")
        .join(sb, "matched_doc_id")
        .select(
            "doc_id",
            "matched_doc_id",
            F.lit("near").alias("reason"),
            (agree / F.lit(float(_MH_N))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )

    lanes = exact.unionByName(near)

    if window_index is not None:
        sub_pairs = exact_substring_pairs_incremental(
            new_docs,
            window_index,
            k=window_k,
            id_col=id_col,
            text_col=text_col,
            within_batch=True,
        ).filter(F.col("n_shared_windows") >= min_shared_windows)
        # victim/keeper orientation per (doc_a < doc_b) pair: a
        # new-vs-corpus match drops the NEW doc; a new-vs-new
        # (within-batch) match drops the LARGER id — the same min-id
        # keeper convention the intra-batch exact dedup uses — replay is
        # batching-invariant when ids are monotone with arrival order
        # (see the docstring's non-monotone caveat). Since doc_b > doc_a,
        # the victim is doc_b whenever doc_b is new, else doc_a.
        new_ids = new_docs.select(F.col(id_col).alias("__nid")).distinct()
        sub_pairs = sub_pairs.join(
            F.broadcast(new_ids), F.col("doc_b") == F.col("__nid"), "left"
        ).select(
            F.when(F.col("__nid").isNotNull(), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_id"),
            F.when(F.col("__nid").isNotNull(), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("matched_doc_id"),
            "n_shared_windows",
        )
        # no _drop_self needed: victim and keeper are different docs by
        # construction (pairs require doc_a < doc_b; corpus rows for
        # batch ids were anti-joined away)
        ws = Window.partitionBy("doc_id").orderBy(
            F.desc("n_shared_windows"), F.asc("matched_doc_id")
        )
        substring = (
            sub_pairs.withColumn("__rn", F.row_number().over(ws))
            .filter(F.col("__rn") == 1)
            .select(
                "doc_id",
                "matched_doc_id",
                F.lit("substring").alias("reason"),
                F.lit(None).cast("double").alias("est_jaccard"),
            )
        )
        lanes = lanes.unionByName(substring)

    # strongest match per new doc ('exact' outranks any 'near' via the
    # est_jaccard = 1.0 + reason tie-break; 'substring' rows carry NULL
    # est_jaccard, which DESC orders last — the weakest lane)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("est_jaccard"), F.asc("reason"), F.asc("matched_doc_id")
    )
    report = (
        lanes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    clean = new_docs.join(
        report.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )
    return clean, report
