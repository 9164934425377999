"""Corpus-curation operators (operators/curation.py): eval-set
decontamination, domain-mixture sampling, deterministic shards — plus
the local oracle-parity check for the round-5 registry swap
(``decontaminate`` in, ``projection_computed`` to library)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
    QUERIES,
    ORACLES,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
    assign_shards,
    contamination_report,
    decontaminate,
    mixture_sample,
    write_training_shards,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.relational import (
    projection_computed,
)

from oracle_harness import compare, duck_connection

SF = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# --------------------------------------------------------------------
# decontamination
# --------------------------------------------------------------------

_SECRET = "zeta eta theta iota kappa"  # a 5-gram that exists nowhere else


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_report_planted_leak(spark):
    eval_docs = _docs(spark, [(100, f"alpha beta {_SECRET} omega")])
    train = _docs(
        spark,
        [
            (1, f"intro words then {_SECRET} and a tail"),  # leaks
            (2, "completely different words with no overlap at all here"),
            (3, f"{_SECRET} {_SECRET}"),  # leaks (shared 5-gram, once distinct)
        ],
    )
    rep = {
        r["doc_id"]: r
        for r in contamination_report(train, eval_docs).collect()
    }
    assert set(rep) == {1, 3}
    assert rep[1]["n_eval_docs"] == 1
    # doc 1 shares exactly the one 5-gram window
    assert rep[1]["n_hit_shingles"] == 1
    # doc 3 contains extra windows spanning the repetition
    assert rep[3]["n_hit_shingles"] >= 1


def test_decontaminate_drops_flagged_rows_only(spark):
    eval_docs = _docs(spark, [(100, f"alpha beta {_SECRET} omega")])
    train = _docs(
        spark,
        [
            (1, f"intro words then {_SECRET} and a tail"),
            (2, "completely different words with no overlap at all here"),
            (3, "short text"),  # shorter than the shingle window
        ],
    )
    kept = decontaminate(train, eval_docs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]
    assert kept.columns == train.columns


def test_decontaminate_max_hits_threshold(spark):
    eval_docs = _docs(spark, [(100, f"alpha beta {_SECRET} omega")])
    train = _docs(spark, [(1, f"intro words then {_SECRET} and a tail")])
    # one shared 5-gram tolerated at max_hits=1
    assert decontaminate(train, eval_docs, max_hits=1).count() == 1
    assert decontaminate(train, eval_docs, max_hits=0).count() == 0


def test_contamination_report_shuffle_fallback_matches_broadcast(spark):
    """broadcast_eval=False (the big-eval-suite size guard) must give
    identical results with no forced broadcast hint in the plan — the
    join is left to AQE instead of pinning the eval n-grams on every
    executor."""
    eval_docs = _docs(spark, [(100, f"alpha beta {_SECRET} omega")])
    train = _docs(
        spark,
        [
            (1, f"intro words then {_SECRET} and a tail"),
            (2, "completely different words with no overlap at all here"),
        ],
    )
    hinted = contamination_report(train, eval_docs)
    unhinted = contamination_report(train, eval_docs, broadcast_eval=False)
    as_rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert as_rows(hinted) == as_rows(unhinted)
    # the hint is really present/absent in the analyzed plans
    assert "broadcast" in hinted._jdf.queryExecution().analyzed().toString().lower()
    assert (
        "unresolvedhint"
        not in unhinted._jdf.queryExecution().analyzed().toString().lower()
    )


def test_decontaminate_fuzzy_catches_planted_paraphrase(spark):
    """A light paraphrase of an eval doc (every 4th token swapped —
    which breaks EVERY 5-gram, so exact decontamination whiffs) is
    caught by the exact-Jaccard fuzzy pass; an unrelated doc survives.
    The exact path is unchanged. (Why exact Jaccard and not banded
    MinHash: at this paraphrase density J≈0.15, where 8×4 banding
    would recall ~2% — see decontaminate_fuzzy's docstring.)"""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        decontaminate_fuzzy,
    )

    eval_text = " ".join(f"w{j}" for j in range(32))
    para = eval_text.split()
    for j in range(0, 32, 4):
        para[j] = f"CHANGED{j}"
    eval_docs = _docs(spark, [(100, eval_text)])
    train = _docs(
        spark,
        [
            (1, " ".join(para)),  # paraphrased leak
            (2, "completely different words with no overlap at all here"),
            (3, eval_text),  # verbatim leak (exact-fingerprint branch)
        ],
    )

    # exact 5-gram decontamination misses the paraphrase (no 5
    # consecutive tokens survive) but kills the verbatim copy
    assert sorted(
        r["doc_id"] for r in decontaminate(train, eval_docs).collect()
    ) == [1, 2]

    # paraphrase 3-gram Jaccard is exactly 8 shared / (30+30-8) = 0.1538
    clean, report = decontaminate_fuzzy(train, eval_docs, threshold=0.15)
    rep = {r["doc_id"]: r for r in report.collect()}
    assert sorted(r["doc_id"] for r in clean.collect()) == [2]
    assert rep[1]["matched_doc_id"] == 100
    assert rep[1]["jaccard"] == pytest.approx(8 / 52, abs=1e-4)
    assert rep[3]["matched_doc_id"] == 100 and rep[3]["jaccard"] == 1.0
    assert clean.columns == train.columns

    # broadcast_eval=False gives the same answer without the doc-id
    # pre-partition: its join re-shuffles by shingle hash anyway
    _, shuffled = decontaminate_fuzzy(
        train, eval_docs, threshold=0.15, broadcast_eval=False
    )
    as_rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert as_rows(shuffled) == as_rows(report)

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert "RepartitionByExpression" in plan(report)
    assert "RepartitionByExpression" not in plan(shuffled)

    # threshold validation guards the silent-drop-everything footgun
    with pytest.raises(ValueError, match="threshold"):
        decontaminate_fuzzy(train, eval_docs, threshold=0.0)


def test_decontaminate_fuzzy_eval_postings_cap(spark):
    """A shingle hot across the eval suite (boilerplate / small-vocab
    chance n-gram) is dropped from the hit join by max_eval_postings —
    the fan-out guard that keeps the join from going all-pairs on
    low-entropy corpora (measured ~30x at sf0.1)."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        decontaminate_fuzzy,
    )

    boiler = "standard disclaimer applies here"
    # the boilerplate shingle set appears in BOTH eval docs
    eval_docs = _docs(
        spark,
        [
            (100, f"{boiler} about alpha topics"),
            (101, f"{boiler} about beta topics"),
        ],
    )
    train = _docs(spark, [(1, f"{boiler} entirely different tail words")])

    # uncapped (cap=2 allows postings in 2 eval docs): doc 1 is flagged
    _c, rep = decontaminate_fuzzy(
        train, eval_docs, threshold=0.1, max_eval_postings=2
    )
    assert [r["doc_id"] for r in rep.collect()] == [1]
    # cap=1 drops every shingle shared by both eval docs → no flag
    clean, rep = decontaminate_fuzzy(
        train, eval_docs, threshold=0.1, max_eval_postings=1
    )
    assert rep.isEmpty()
    assert clean.count() == 1
    with pytest.raises(ValueError, match="max_eval_postings"):
        decontaminate_fuzzy(train, eval_docs, max_eval_postings=0)

    # cap observability: the report matches the hand-computed fixture.
    # The two eval docs share exactly 3 shingles ("standard disclaimer
    # applies", "disclaimer applies here", "applies here about") — at
    # cap 1 each is hot with 2 eval postings: (3 hot, 6 dropped)
    _c2, _r2, cap = decontaminate_fuzzy(
        train, eval_docs, threshold=0.1, max_eval_postings=1,
        cap_report=True,
    )
    row = cap.first()
    assert (
        row["n_hot_shingles"],
        row["dropped_eval_postings"],
        row["max_eval_postings"],
    ) == (3, 6, 1)
    # and at a cap nothing exceeds, the report is an explicit zero row
    _c3, _r3, cap0 = decontaminate_fuzzy(
        train, eval_docs, threshold=0.1, max_eval_postings=64,
        cap_report=True,
    )
    row0 = cap0.first()
    assert (row0["n_hot_shingles"], row0["dropped_eval_postings"]) == (0, 0)


def test_decontaminate_entry_matches_oracle(spark):
    con = duck_connection(SF_ORACLE)
    problems = compare(
        QUERIES["decontaminate"](spark, SF_ORACLE), con, ORACLES["decontaminate"]
    )
    assert problems == [], problems


def test_decontaminate_entry_nonempty_at_oracle_sf(spark):
    # the pseudo-eval split must actually flag something at the driver's
    # correctness SF, or the entry degenerates to hash-of-empty
    assert QUERIES["decontaminate"](spark, SF_ORACLE).count() > 0


def test_projection_computed_still_parity_checked(spark):
    # registry slot ceded to decontaminate in round 5; the SQL twin
    # lives on here (relational.py docstring contract)
    con = duck_connection(SF_ORACLE)
    sql = """
    SELECT p_partkey,
           upper(p_brand) AS brand_uc,
           p_retailprice,
           CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(3,1)), 2) AS DOUBLE)
             AS discounted_price,
           p_size + 1 AS size_plus_one,
           CAST(floor(p_retailprice / 500.0) AS BIGINT) AS price_bucket
    FROM part
    """
    problems = compare(projection_computed(spark, SF_ORACLE), con, sql)
    assert problems == [], problems


# --------------------------------------------------------------------
# mixture sampling
# --------------------------------------------------------------------


def _corpus(spark):
    # 3 sources with deliberately unequal mass: a=600, b=300, c=100
    rows = (
        [(i, "a", 10) for i in range(600)]
        + [(1000 + i, "b", 10) for i in range(300)]
        + [(2000 + i, "c", 10) for i in range(100)]
    )
    return spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")


def test_mixture_sample_hits_target_proportions(spark):
    docs = _corpus(spark)
    weights = {"a": 0.5, "b": 0.3, "c": 0.2}
    sampled, plan = mixture_sample(docs, weights)
    # binding source: c (100 rows / 0.2 → M = 500); kept in full
    by_src = dict(
        sampled.groupBy("source").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    plan_by_src = {p["source"]: p for p in plan}
    assert plan_by_src["c"]["keep_prob"] == 1.0
    assert by_src["c"] == 100
    # thinned sources land near their expectation (Bernoulli, n=few hundred)
    assert abs(by_src["a"] - 250) <= 50
    assert abs(by_src["b"] - 150) <= 40
    # the plan's expectations encode the mixture exactly
    assert plan_by_src["a"]["expected"] == pytest.approx(250.0)
    assert plan_by_src["b"]["expected"] == pytest.approx(150.0)


def test_mixture_sample_deterministic_and_stable(spark):
    docs = _corpus(spark)
    weights = {"a": 0.4, "b": 0.4, "c": 0.2}
    s1, _ = mixture_sample(docs, weights, seed="s")
    s2, _ = mixture_sample(docs, weights, seed="s")
    assert sorted(r["doc_id"] for r in s1.collect()) == sorted(
        r["doc_id"] for r in s2.collect()
    )
    s3, _ = mixture_sample(docs, weights, seed="other")
    assert sorted(r["doc_id"] for r in s3.collect()) != sorted(
        r["doc_id"] for r in s1.collect()
    )


def test_mixture_sample_membership_stable_under_growth(spark):
    # a doc's fate depends only on its own hash and its source's plan —
    # identical plans on a grown corpus keep prior members
    docs = _corpus(spark)
    weights = {"a": 0.5, "b": 0.3, "c": 0.2}
    kept_before = {
        r["doc_id"]
        for r in mixture_sample(docs, weights)[0].filter("source = 'a'").collect()
    }
    # doubling c doubles M (c stays binding) → a's keep_prob doubles;
    # previously-kept a docs must remain (u < p ⊆ u < 2p)
    grown = docs.union(
        spark.createDataFrame(
            [(3000 + i, "c", 10) for i in range(100)],
            "doc_id long, source string, n_tokens long",
        )
    )
    kept_after = {
        r["doc_id"]
        for r in mixture_sample(grown, weights)[0].filter("source = 'a'").collect()
    }
    assert kept_before <= kept_after


def test_mixture_sample_token_mass_mode(spark):
    docs = _corpus(spark).withColumn(
        "n_tokens", F.when(F.col("source") == "a", 20).otherwise(10)
    )
    _, plan = mixture_sample(docs, {"a": 0.5, "b": 0.5}, token_col="n_tokens")
    by = {p["source"]: p for p in plan}
    assert by["a"]["available"] == 12000.0
    assert by["b"]["available"] == 3000.0
    # b binds: M = 6000 tokens → a thinned to 3000/12000
    assert by["b"]["keep_prob"] == 1.0
    assert by["a"]["keep_prob"] == pytest.approx(0.25)


def test_mixture_sample_validation(spark):
    docs = _corpus(spark)
    with pytest.raises(ValueError, match="at least one source"):
        mixture_sample(docs, {})
    with pytest.raises(ValueError, match="non-positive"):
        mixture_sample(docs, {"a": 0.0})
    with pytest.raises(ValueError, match="not in corpus"):
        mixture_sample(docs, {"a": 0.5, "nope": 0.5})


# --------------------------------------------------------------------
# shards
# --------------------------------------------------------------------


def test_assign_shards_uniform_and_deterministic(spark):
    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = assign_shards(df, 8, seed=1)
    counts = [r["count"] for r in a.groupBy("shard").count().collect()]
    assert len(counts) == 8
    assert min(counts) > 4000 / 8 * 0.7 and max(counts) < 4000 / 8 * 1.3
    b = assign_shards(df, 8, seed=1)
    assert a.exceptAll(b).isEmpty()
    assert a.select(F.min("shard"), F.max("shard")).first() == (0, 7)


def test_assign_shards_validation(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="num_shards"):
        assign_shards(df, 0)


def test_write_training_shards_roundtrip(spark, tmp_path):
    df = (
        spark.range(0, 1000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("n_tokens", F.col("doc_id") % 7 + 1)
    )
    out = str(tmp_path / "shards")
    stats = write_training_shards(df, out, num_shards=4, token_col="n_tokens")
    rows = stats.collect()
    assert sorted(r["shard"] for r in rows) == [0, 1, 2, 3]
    assert sum(r["n_rows"] for r in rows) == 1000
    assert sum(r["n_tokens"] for r in rows) == df.agg(F.sum("n_tokens")).first()[0]
    # hive layout on disk + full fidelity read-back
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("shard=")
    ) == [f"shard={k}" for k in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert (
        back.select("doc_id").exceptAll(df.select("doc_id")).isEmpty()
    )


# --------------------------------------------------------------------
# end-to-end training-data preparation
# --------------------------------------------------------------------


def test_prepare_training_data_end_to_end(spark, tmp_path):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        _EVAL_MOD,
        _EVAL_REM,
        prepare_training_data,
    )

    out = str(tmp_path / "train")
    stats = prepare_training_data(
        spark, SF, out, max_tokens=256, num_shards=4, min_quality=0.0
    )
    # monotone funnel, nothing negative, everything accounted for
    assert (
        stats["n_input"]
        >= stats["n_after_quality"]
        >= stats["n_after_dedup"]
        >= stats["n_after_decontam"]
        == stats["n_after_mixture"]
    )
    assert stats["n_after_decontam"] > 0
    written = spark.read.parquet(out)
    assert written.count() == stats["n_after_decontam"]
    assert sum(s["n_rows"] for s in stats["shards"]) == stats["n_after_decontam"]

    # the eval split never leaks into the training output
    assert (
        written.filter(F.col("doc_id") % _EVAL_MOD == _EVAL_REM).count() == 0
    )
    # content fingerprints are unique post-dedup
    assert (
        written.select("fingerprint").distinct().count() == written.count()
    )
    # every doc carries a pack assignment within budget (oversize docs
    # sit alone at offset 0)
    per_pack = written.groupBy("pack_id").agg(
        F.sum("n_tokens_ws").alias("tot"), F.count("*").alias("n")
    )
    bad = per_pack.filter((F.col("tot") > 256) & (F.col("n") > 1))
    assert bad.isEmpty()


@pytest.mark.slow
def test_prepare_training_data_compression_gate(spark, tmp_path):
    """The optional compressibility gate drops docs outside the ratio
    band and records the stage count; bad bounds raise; the default
    (None) leaves the funnel untouched."""
    import pytest as _pytest

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    out = str(tmp_path / "train_cg")
    stats = prepare_training_data(
        spark,
        SF,
        out,
        max_tokens=256,
        num_shards=2,
        min_quality=0.0,
        # generous band: sanity that the plumbing keeps most docs
        compression_bounds=(0.05, 1.05),
    )
    assert (
        stats["n_after_quality"]
        >= stats["n_after_compression"]
        >= stats["n_after_dedup"]
    )
    assert stats["n_after_compression"] > 0

    # a band nothing satisfies empties the funnel at this stage (empty
    # docs score exactly 1.0 — the NEUTRAL value — so the impossible
    # band must sit below every real ratio, not hug 1.0; and the
    # short-doc bypass must be disabled or short docs survive the band)
    out2 = str(tmp_path / "train_cg2")
    stats2 = prepare_training_data(
        spark,
        SF,
        out2,
        max_tokens=256,
        num_shards=2,
        min_quality=0.0,
        compression_bounds=(0.0001, 0.0002),
        compression_min_bytes=0,
    )
    assert stats2["n_after_compression"] == 0

    # short docs BYPASS the band (zlib overhead makes their ratio
    # meaningless): with a huge floor every doc bypasses and the same
    # impossible band drops nothing
    out3 = str(tmp_path / "train_cg3")
    stats3 = prepare_training_data(
        spark,
        SF,
        out3,
        max_tokens=256,
        num_shards=2,
        min_quality=0.0,
        compression_bounds=(0.0001, 0.0002),
        compression_min_bytes=1 << 30,
    )
    assert stats3["n_after_compression"] == stats3["n_after_quality"]

    with _pytest.raises(ValueError, match="compression_bounds"):
        prepare_training_data(
            spark, SF, str(tmp_path / "x"), compression_bounds=(0.5, 0.2)
        )


@pytest.mark.slow
def test_prepare_training_data_substring_dedup_stage(spark, tmp_path):
    """Stage 2b: with substring_dedup_k on, duplicated k-token spans are
    cut before decontamination, the removed-token stat is reported, and
    the packing budget (n_tokens_ws) reflects the CUT text — every
    written doc's recorded token count equals its actual post-cut
    whitespace token count, so pack conservation holds on cleaned
    lengths."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    out = str(tmp_path / "train_ss")
    stats = prepare_training_data(
        spark,
        SF,
        out,
        max_tokens=256,
        num_shards=2,
        min_quality=0.0,
        substring_dedup_k=10,
    )
    assert stats["n_substring_tokens_removed"] > 0  # fixture has real dups
    written = spark.read.parquet(out)
    recount = written.withColumn(
        "__n", F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    )
    assert recount.filter(F.col("__n") != F.col("n_tokens_ws")).count() == 0
    # no pack exceeds the budget under the post-cut token counts
    over = (
        written.groupBy("pack_id")
        .agg(F.sum("n_tokens_ws").alias("tok"), F.count("*").alias("n"))
        .filter((F.col("tok") > 256) & (F.col("n") > 1))
    )
    assert over.count() == 0


@pytest.mark.slow
def test_prepare_training_data_line_dedup_stage(spark, tmp_path):
    """Stage 2a: with line_dedup_min_occurrences on, a boilerplate line
    planted across many docs (written to a private sf_dir — the
    driver's docs are single-line) is cut corpus-wide keeping one
    canonical copy, the removed-line stat is reported, and the packing
    budget (n_tokens_ws) reflects the cut text."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.catalog import (
        load_table,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    banner = "accept all cookies to continue reading"
    sf_lined = str(tmp_path / "sf_lined")
    docs = load_table(spark, SF, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(banner + "\n"), F.col("text")),
        ).otherwise(F.col("text")),
    )
    docs.write.parquet(f"{sf_lined}/documents.parquet")
    n_planted = docs.filter(F.col("doc_id") % 2 == 0).count()

    out = str(tmp_path / "train_lines")
    stats = prepare_training_data(
        spark,
        sf_lined,
        out,
        max_tokens=256,
        num_shards=2,
        min_quality=0.0,
        line_dedup_min_occurrences=2,
    )
    # the planted banner is cut from every doc but one canonical; the
    # stat may exceed n_planted-1 only if the corpus organically
    # repeats other lines (it cannot here: original docs are one line
    # each and survive exact dedup distinct)
    assert stats["n_lines_removed"] == n_planted - 1
    written = spark.read.parquet(out)
    # at most one surviving doc still carries the banner (the canonical
    # may itself have been dropped by a later stage)
    assert written.filter(F.col("text").contains(banner)).count() <= 1
    recount = written.withColumn(
        "__n", F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    )
    assert recount.filter(F.col("__n") != F.col("n_tokens_ws")).count() == 0
    with pytest.raises(ValueError, match="keep"):
        prepare_training_data(
            spark,
            sf_lined,
            str(tmp_path / "x"),
            min_quality=0.0,
            line_dedup_min_occurrences=2,
            line_dedup_keep="bogus",
        )


def test_prepare_training_data_with_mixture(spark, tmp_path):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    out = str(tmp_path / "train_mix")
    stats = prepare_training_data(
        spark,
        SF,
        out,
        max_tokens=256,
        num_shards=2,
        min_quality=0.0,
        mixture={"src0": 0.5, "src1": 0.5},
    )
    assert stats["mixture_plan"] is not None
    assert stats["n_after_mixture"] <= stats["n_after_decontam"]
    srcs = {
        r["source"]
        for r in spark.read.parquet(out).select("source").distinct().collect()
    }
    assert srcs <= {"src0", "src1"}


@pytest.mark.slow
def test_prepare_training_data_conservation_sf01(spark, tmp_path):
    """VERDICT r5 #8: the full tokenize → score → substring-cut → pack
    → shard funnel at sf0.1, with conservation invariants: every
    surviving doc lands in exactly one shard exactly once, per-doc
    token mass is preserved end-to-end (recorded n_tokens_ws ==
    whitespace count of the written text), pack offsets tile without
    overlap, and the shard stats account for every row and token."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    out = str(tmp_path / "train_sf01")
    stats = prepare_training_data(
        spark,
        "/root/testdata/sf0.1",
        out,
        max_tokens=512,
        num_shards=8,
        min_quality=0.0,
        max_perplexity=10_000.0,
        substring_dedup_k=10,
    )
    written = spark.read.parquet(out).cache()
    try:
        n = written.count()
        assert n == stats["n_after_decontam"] > 0
        # exactly-once: doc_id unique across all shards
        assert written.select("doc_id").distinct().count() == n
        # shard stats account for every row and every token
        assert sum(s["n_rows"] for s in stats["shards"]) == n
        assert (
            sum(s["n_tokens"] for s in stats["shards"])
            == written.agg(F.sum("n_tokens_ws")).first()[0]
        )
        # token mass: recorded count == actual whitespace count of the
        # (post-substring-cut) written text, for every row
        bad = written.filter(
            F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
            != F.col("n_tokens_ws")
        )
        assert bad.count() == 0
        # packs: offsets tile [0, sum) without overlap, budget holds
        packs = written.groupBy("pack_id").agg(
            F.sum("n_tokens_ws").alias("tok"),
            F.count("*").alias("n_docs"),
            F.min("seq_offset").alias("first_off"),
            F.sum(
                (F.col("seq_offset") + F.col("n_tokens_ws")).cast("long")
            ).alias("end_sum"),
            F.sum("seq_offset").alias("off_sum"),
        )
        assert packs.filter(F.col("first_off") != 0).count() == 0
        # offsets are a prefix-sum permutation: sum(end) - sum(off) = tok
        assert (
            packs.filter(
                F.col("end_sum") - F.col("off_sum") != F.col("tok")
            ).count()
            == 0
        )
        assert (
            packs.filter(
                (F.col("tok") > 512) & (F.col("n_docs") > 1)
            ).count()
            == 0
        )
    finally:
        written.unpersist()


# --------------------------------------------------------------------
# incremental dedup against a persisted corpus index
# --------------------------------------------------------------------


def _base_text(i):
    # per-doc disjoint vocabulary: no cross-doc shingle overlap at all
    return " ".join(f"w{i}x{j}" for j in range(30))


def test_dedup_incremental_exact_near_and_fresh(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental,
    )

    corpus = _docs(spark, [(i, _base_text(i)) for i in range(5)])
    index = build_corpus_index(corpus)

    near = _base_text(2).split()
    near[7] = "CHANGED"
    new = _docs(
        spark,
        [
            (100, _base_text(3)),  # exact copy of corpus doc 3
            (101, " ".join(near)),  # near-dup of corpus doc 2
            (102, "totally fresh content " + " ".join(f"w{k}" for k in range(27))),
        ],
    )
    clean, report = dedup_incremental(new, index)
    rep = {r["doc_id"]: r for r in report.collect()}

    assert sorted(r["doc_id"] for r in clean.collect()) == [102]
    assert clean.columns == new.columns
    assert rep[100]["reason"] == "exact"
    assert rep[100]["matched_doc_id"] == 3
    assert rep[100]["est_jaccard"] == 1.0
    assert rep[101]["reason"] == "near"
    assert rep[101]["matched_doc_id"] == 2
    assert 0.5 <= rep[101]["est_jaccard"] < 1.0
    assert 102 not in rep


def test_dedup_incremental_one_report_row_per_doc(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental,
    )

    # two identical corpus docs: a new exact copy matches both, but the
    # report must attribute ONE strongest match (min corpus doc_id)
    corpus = _docs(spark, [(1, _base_text(0)), (2, _base_text(0))])
    new = _docs(spark, [(10, _base_text(0))])
    clean, report = dedup_incremental(new, build_corpus_index(corpus))
    rows = report.collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 10
    assert rows[0]["matched_doc_id"] == 1
    assert rows[0]["reason"] == "exact"
    assert clean.isEmpty()


def test_dedup_incremental_short_docs_exact(spark):
    """Docs too short to shingle (<3 tokens) still get index rows
    (NULL mh_* via the left join) so exact duplicates of short docs are
    caught, and two DISTINCT shingle-less docs must NOT near-match each
    other through all-NULL band keys."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental,
    )

    corpus = _docs(spark, [(1, "hi there"), (2, "bye now"), (3, _base_text(3))])
    index = build_corpus_index(corpus)
    # every corpus doc is indexed, short ones with NULL signatures
    rows = {r["doc_id"]: r for r in index.collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1]["mh_0"] is None and rows[3]["mh_0"] is not None

    new = _docs(
        spark,
        [
            (10, "hi there"),  # exact copy of short corpus doc 1
            (11, "seen you"),  # fresh short doc: must NOT match 1 or 2
        ],
    )
    clean, report = dedup_incremental(new, index)
    rep = {r["doc_id"]: r for r in report.collect()}
    assert sorted(r["doc_id"] for r in clean.collect()) == [11]
    assert rep[10]["reason"] == "exact"
    assert rep[10]["matched_doc_id"] == 1


def test_dedup_incremental_threshold_validation(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental,
    )

    corpus = _docs(spark, [(1, _base_text(0))])
    idx = build_corpus_index(corpus)
    with pytest.raises(ValueError, match="threshold"):
        dedup_incremental(_docs(spark, [(2, "x")]), idx, threshold=0.0)


def test_dedup_incremental_index_roundtrips_parquet(spark, tmp_path):
    # the index is a PERSISTED artifact: write → read → same decisions
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental,
    )

    corpus = _docs(spark, [(i, _base_text(i)) for i in range(4)])
    p = str(tmp_path / "dedup_index")
    build_corpus_index(corpus).write.parquet(p)
    index = spark.read.parquet(p)
    new = _docs(spark, [(50, _base_text(1)), (51, "brand new words entirely")])
    clean, report = dedup_incremental(new, index)
    assert [r["doc_id"] for r in clean.collect()] == [51]
    assert report.first()["matched_doc_id"] == 1


def test_prepare_training_data_perplexity_gate(spark, tmp_path):
    """The optional LM gate (stage 1b) must drop exactly the docs whose
    self-perplexity exceeds the threshold — replicated here with the
    scoring operators directly on the same (scrubbed, quality-gated)
    frame the funnel feeds its LM."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.functions.text import (
        scrub_pii,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.scoring import (
        lm_score,
        train_unigram_lm,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "text", scrub_pii("text")
    )
    vocab, stats_lm = train_unigram_lm(docs, vocab_size=1 << 14)
    ppl = sorted(
        r["perplexity"]
        for r in lm_score(docs, vocab, stats_lm["oov_logp"]).collect()
    )
    # threshold STRICTLY BETWEEN two adjacent distinct perplexities
    # near the median — a threshold equal to a doc's own perplexity
    # would make the expectation hinge on last-ulp float agreement
    # between this plan and the funnel's differently-shuffled one
    m = len(ppl) // 2
    above = next((p for p in ppl[m:] if p > ppl[m]), None)
    if above is None:
        pytest.skip("fixture corpus has no distinct perplexity above median")
    threshold = (ppl[m] + above) / 2
    expect_kept = sum(1 for p in ppl if p <= threshold)

    out = str(tmp_path / "train_ppl")
    stats = prepare_training_data(
        spark, SF, out, min_quality=0.0, max_perplexity=threshold
    )
    assert stats["n_after_perplexity"] == expect_kept
    assert 0 < stats["n_after_perplexity"] < stats["n_after_quality"]
    assert (
        stats["n_after_quality"]
        >= stats["n_after_perplexity"]
        >= stats["n_after_dedup"]
        >= stats["n_after_decontam"]
    )
    # a loose threshold gates nothing
    stats_loose = prepare_training_data(
        spark, str(SF), str(tmp_path / "train_loose"), min_quality=0.0,
        max_perplexity=1e12,
    )
    assert stats_loose["n_after_perplexity"] == stats_loose["n_after_quality"]


def test_prepare_training_data_perplexity_validation(spark, tmp_path):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    with pytest.raises(ValueError, match="max_perplexity"):
        prepare_training_data(
            spark, SF, str(tmp_path / "x"), max_perplexity=0.5
        )


# --------------------------------------------------------------------
# per-source quality-quantile gating
# --------------------------------------------------------------------


def _scored(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, quality double")


def test_quality_quantile_gate_exact_cut(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        quality_quantile_gate,
    )

    # src a: 8 docs scored 0.1..0.8 → keep_frac 0.25 keeps ceil(2)=2 (0.8, 0.7)
    # src b: 3 docs → ceil(0.75)=1 (the max)
    rows = [(i, "a", i / 10.0) for i in range(1, 9)] + [
        (100, "b", 0.5),
        (101, "b", 0.9),
        (102, "b", 0.2),
    ]
    kept = quality_quantile_gate(_scored(spark, rows), 0.25).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append((r.doc_id, r.quality, r.quality_rank))
    assert sorted(by_src["a"]) == [(7, 0.7, 2), (8, 0.8, 1)]
    assert by_src["b"] == [(101, 0.9, 1)]


def test_quality_quantile_gate_tie_break_deterministic(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        quality_quantile_gate,
    )

    # four docs all tied on quality: the cut must be by doc_id ascending,
    # identically on every run/plan — never an arbitrary split of ties
    rows = [(i, "a", 0.5) for i in (4, 2, 3, 1)]
    for _ in range(2):
        kept = sorted(
            r.doc_id
            for r in quality_quantile_gate(_scored(spark, rows), 0.5).collect()
        )
        assert kept == [1, 2]


def test_quality_quantile_gate_keep_frac_validation(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        quality_quantile_gate,
        quality_threshold_gate,
    )

    with pytest.raises(ValueError, match="keep_frac"):
        quality_quantile_gate(_scored(spark, [(1, "a", 0.5)]), 0.0)
    with pytest.raises(ValueError, match="keep_frac"):
        quality_threshold_gate(_scored(spark, [(1, "a", 0.5)]), 1.5)


def test_quality_threshold_gate_is_clean_cut_and_close_to_exact(spark):
    """The 100 TB sketch+broadcast path vs the exact rank path on the
    real corpus: (1) the approximate gate is a CLEAN cut in score space
    (min kept >= max dropped per source), (2) its kept count per source
    is within sketch-error+ties of the exact gate's, and (3) every doc
    the exact gate keeps above the threshold is kept by both."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        quality_quantile_gate,
        quality_threshold_gate,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.textual import (
        quality_score_column,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.catalog import (
        load_table,
    )

    docs = load_table(spark, SF, "documents").select(
        "doc_id",
        "source",
        F.round(quality_score_column(F.col("text")), 6)
        .cast("double")
        .alias("quality"),
    )
    keep = 0.25
    approx = quality_threshold_gate(docs, keep).collect()
    exact_n = {
        r.source: r.n
        for r in quality_quantile_gate(docs, keep)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    totals = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    kept_scores, thresholds = {}, {}
    for r in approx:
        kept_scores.setdefault(r.source, []).append(r.quality)
        thresholds[r.source] = r.q_threshold
    all_scores = [
        (r.source, r.quality) for r in docs.collect()
    ]
    for src, n_total in totals.items():
        kept = kept_scores.get(src, [])
        thr = thresholds[src]
        dropped = [q for s, q in all_scores if s == src and q < thr]
        # clean cut: every kept score >= threshold > every dropped score
        assert all(q >= thr for q in kept)
        assert all(q < thr for q in dropped)
        assert len(kept) + len(dropped) == n_total
        # close to the exact cut: ties at the threshold can only ADD docs
        n_thr_ties = sum(1 for s, q in all_scores if s == src and q == thr)
        assert exact_n[src] <= len(kept) <= exact_n[src] + n_thr_ties + max(
            2, n_total // 100
        )


def test_quality_quantile_gate_entry_matches_oracle_locally(spark):
    con = duck_connection(SF)
    problems = compare(
        QUERIES["quality_quantile_gate"](spark, SF),
        con,
        ORACLES["quality_quantile_gate"],
    )
    assert not problems, problems


@pytest.mark.slow
def test_prepare_training_data_url_stage(spark, tmp_path):
    """Funnel stage 0: URL dedup + blocklist + domain cap over a
    documents table augmented with fabricated messy URLs (written to a
    private sf_dir — the driver's table has no URL column)."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.weburl import (
        _fabricated_urls,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.catalog import (
        load_table,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    sf_url = str(tmp_path / "sf_url")
    docs = load_table(spark, SF, "documents").join(
        _fabricated_urls(spark, SF).select("doc_id", "url"), "doc_id"
    )
    docs.write.parquet(f"{sf_url}/documents.parquet")

    stats = prepare_training_data(
        spark,
        sf_url,
        str(tmp_path / "out"),
        min_quality=0.0,
        url_col="url",
        # every fabricated URL lives under *.example.com; block a
        # nonexistent domain so the filter is exercised but drops nothing
        blocked_domains=["blocked.org"],
        max_docs_per_domain=20,
    )
    n_raw = docs.count()
    assert (
        n_raw
        > stats["n_after_url_dedup"]  # fabrication guarantees collapses
        >= stats["n_after_domain_filter"]
        >= stats["n_after_domain_cap"]
        == stats["n_input"]  # profile join preserves URL survivors
        >= stats["n_after_decontam"]
    )
    assert stats["n_after_domain_filter"] == stats["n_after_url_dedup"]
    # 5 sources → 5 domains → cap 20 bounds the survivors
    assert stats["n_after_domain_cap"] <= 5 * 20
    assert stats["n_after_decontam"] > 0
    with pytest.raises(ValueError, match="url_col"):
        prepare_training_data(
            spark, SF, str(tmp_path / "x"), blocked_domains=["a.com"]
        )
    with pytest.raises(ValueError, match="not in documents columns"):
        prepare_training_data(
            spark, SF, str(tmp_path / "y"), url_col="url"
        )


@pytest.mark.slow
def test_prepare_training_data_bpe_exact_tokens(spark, tmp_path):
    """bpe_tokenizer=<vocab size> trains on the surviving corpus and
    switches packing/shard accounting to EXACT counts: every written
    doc carries n_tokens_bpe, pack budgets bind on it, and the shard
    token stats sum the exact counts."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.curation import (
        prepare_training_data,
    )

    out = str(tmp_path / "train_bpe")
    stats = prepare_training_data(
        spark,
        SF,
        out,
        max_tokens=512,
        num_shards=2,
        min_quality=0.0,
        bpe_tokenizer=200,
    )
    assert stats["bpe_report"] is not None
    assert stats["bpe_report"]["n_merges"] > 0
    written = spark.read.parquet(out)
    assert "n_tokens_bpe" in written.columns
    # exact counts: at least one token per whitespace word, fewer than
    # one per character
    row = written.select(
        F.sum("n_tokens_bpe").alias("bpe"),
        F.sum("n_tokens_ws").alias("ws"),
        F.sum(F.length("text")).alias("chars"),
    ).first()
    assert row["ws"] <= row["bpe"] < row["chars"]
    # pack budget binds on the EXACT count
    per_pack = written.groupBy("pack_id").agg(
        F.sum("n_tokens_bpe").alias("tot"), F.count("*").alias("n")
    )
    assert per_pack.filter((F.col("tot") > 512) & (F.col("n") > 1)).isEmpty()
    # shard stats account the exact tokens
    assert sum(s["n_tokens"] for s in stats["shards"]) == row["bpe"]
