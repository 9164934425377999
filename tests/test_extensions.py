"""LLM-pipeline operator correctness beyond the SQL oracles: kNN vs a
NumPy reference, LSH recall, MinHash recall vs exact Jaccard, SimHash
on seeded near-dups, approx-aggregate error bounds, multimodal decode
plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.catalog import (
    load_table,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
    QUERIES,
    RETIRED_QUERIES,
    clear_intermediate_caches,
    session_memo,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
    dedup_ngram_jaccard,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.multimodal import (
    decode_image_batch,
)

SF = "/root/testdata/sf0.001"


def test_knn_matches_numpy(spark):
    """Exact brute-force kNN agrees with a NumPy reference."""
    emb = load_table(spark, SF, "embeddings").toPandas()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    q_ids = (0, 1, 2)
    got = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    for qid in q_ids:
        qv = vecs[ids == qid][0]
        mask = ~np.isin(ids, q_ids)
        sims = (vecs[mask] @ qv) / (
            np.linalg.norm(vecs[mask], axis=1) * np.linalg.norm(qv)
        )
        order = np.lexsort((ids[mask], -sims))  # sim desc, vec_id asc
        expect = ids[mask][order][:10]
        mine = got[got.query_id == qid].sort_values("rank")["vec_id"].to_numpy()
        assert list(mine) == list(expect)


def test_lsh_recall(spark):
    """Approximate kNN recalls ≥ 50% of the exact top-10 (recall@10)."""
    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    both = QUERIES["knn_approx"](spark, SF).toPandas()
    approx = both[both.method == "lsh"]
    recalls = []
    for qid in exact.query_id.unique():
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        recalls.append(len(e & a) / len(e))
    assert sum(recalls) / len(recalls) >= 0.5


@pytest.mark.slow
def test_minhash_recall_vs_exact_jaccard(spark):
    """Every strongly-similar pair (exact Jaccard ≥ 0.6) is surfaced by
    the MinHash LSH candidates."""
    exact = dedup_ngram_jaccard(spark, SF).toPandas()
    strong = {
        (a, b)
        for a, b, j in zip(exact.doc_a, exact.doc_b, exact.jaccard)
        if j >= 0.6
    }
    if not strong:
        pytest.skip("no strong near-dup pairs at this SF")
    lsh = QUERIES["dedup_minhash_lsh"](spark, SF).toPandas()
    found = set(zip(lsh.doc_a, lsh.doc_b))
    assert strong <= found


def test_simhash_identical_docs_distance_zero(spark):
    """Exact duplicate docs → identical simhash (hamming 0 pairs appear)."""
    dup_clusters = QUERIES["dedup_exact"](spark, SF).toPandas()
    n_dups = (dup_clusters.n_copies > 1).sum()
    sim = RETIRED_QUERIES["dedup_simhash"](spark, SF).toPandas()
    if n_dups:
        assert (sim.hamming == 0).any()


def test_approx_aggregates_within_tolerance(spark):
    # the query validates its own sketches: every tolerance flag TRUE
    rows = QUERIES["approx_aggregates"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["hll_within_10pct"] and r["p50_rank_ok"] and r["p95_rank_ok"]


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image_batch(pd.Series([b"abc"]))


def test_decode_fake_deterministic():
    s = pd.Series([b"hello world", b"\x89PNG rest"])
    a = decode_image_batch(s, fake=True)
    b = decode_image_batch(s, fake=True)
    pd.testing.assert_frame_equal(a, b)
    assert list(a.columns) == ["width", "height", "brightness"]
    assert a.loc[0, "width"] == 11  # len % 640


def test_media_frame_sample_covers_blob(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.multimodal import (
        media_frame_sample,
    )

    pdf = media_frame_sample(spark, SF).drop("blob").toPandas()
    one = pdf[pdf.media_id == pdf.media_id.iloc[0]].sort_values("chunk_idx")
    # chunks tile the blob: offsets monotonically increase, total length
    # equals the final offset+length
    assert (one.offset.diff().dropna() > 0).all()
    last = one.iloc[-1]
    assert last.offset + last.length >= one.iloc[0].offset


def test_embedding_cosine_dedup_vs_numpy(spark):
    """LSH-bucketed cosine near-dup finds the same >=0.95 pairs as the
    NumPy all-pairs ground truth (recall 1.0 expected at this threshold;
    no false positives because candidates are exact-verified)."""
    emb = load_table(spark, SF, "embeddings").toPandas()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    S = n @ n.T
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*iu)
        if round(S[i, j], 4) >= 0.95
    }
    got = QUERIES["dedup_embedding_cosine"](spark, SF).toPandas()
    found = {(int(a), int(b)) for a, b in zip(got.vec_a, got.vec_b)}
    # exact-verified candidates => no false positives
    assert found <= truth or not truth
    # high recall (pigeonhole over 4 bands at cos>=0.95)
    if truth:
        assert len(found & truth) / len(truth) >= 0.9


def test_embedding_cosine_dedup_planted_pairs(spark):
    """Non-vacuous recall check on the PURE operator: the synthetic
    corpus has NO >=0.95 pairs (max pairwise cosine 0.60), so run the
    LSH dedup against a planted corpus — 200 random vectors plus 20
    near-copies (tiny noise, cosine ~0.999) — and require every planted
    pair found AND nothing else (the r3 defect was the operator itself
    fabricating rows; this pins purity). Deterministic: planted data
    and hyperplanes are both fixed-seed."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        embedding_cosine_pairs,
    )

    rng = np.random.default_rng(424242)
    base = rng.standard_normal((200, 64)).astype(np.float64)
    dup_src = rng.choice(200, size=20, replace=False)
    dups = base[dup_src] + 0.02 * rng.standard_normal((20, 64))
    vecs = np.vstack([base, dups])
    ids = np.arange(len(vecs))
    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [v.astype(np.float32) for v in vecs],
        }
    )

    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    S = n @ n.T
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*iu)
        if round(S[i, j], 4) >= 0.95
    }
    assert len(truth) >= 20  # the planted pairs are really above threshold

    got = embedding_cosine_pairs(spark.createDataFrame(pdf)).toPandas()
    found = {(int(a), int(b)) for a, b in zip(got.vec_a, got.vec_b)}
    assert found == truth


def test_catalog_publish(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.catalog import (
        Catalog,
    )

    c = Catalog(spark)
    df = load_table(spark, SF, "region")
    c.publish(df, "published_region")
    assert spark.table("published_region").count() == df.count()
    assert "published_region" in [t.name for t in spark.catalog.listTables()]
    spark.sql("DROP TABLE published_region")


def test_dedup_clusters_match_union_find(spark):
    """Connected components over near-dup pairs agree with a union-find
    reference on both membership and canonical (min-id) labels."""
    pairs = dedup_ngram_jaccard(spark, SF).toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in zip(pairs.doc_a, pairs.doc_b):
        union(int(a), int(b))
    truth = {x: find(x) for x in parent}

    got = QUERIES["dedup_clusters"](spark, SF).toPandas()
    mine = {int(r.doc_id): int(r.cluster_id) for r in got.itertuples()}
    assert mine == truth


def test_jaccard_prefix_strategy_matches_index(spark):
    """The prefix-filtered (AllPairs) strategy is EXACT: identical pair
    set and jaccard values as the inverted-index strategy."""
    idx = dedup_ngram_jaccard(spark, SF).toPandas()
    pre = dedup_ngram_jaccard(spark, SF, strategy="prefix").toPandas()
    key = lambda df: {  # noqa: E731
        (int(r.doc_a), int(r.doc_b)): round(float(r.jaccard), 6)
        for r in df.itertuples()
    }
    assert key(idx) == key(pre)
    assert len(idx) > 0  # non-vacuous: the corpus has real near-dups


def test_jaccard_strategies_match_bruteforce_random(spark, tmp_path):
    """Both exact-Jaccard strategies agree with a Python brute-force
    reference on randomized corpora — including docs shorter than the
    shingle width (empty sets) and planted high-overlap pairs. This
    pins the AllPairs prefix-length lemma (an off-by-one would silently
    lose borderline pairs that the fixture corpus doesn't contain)."""
    import itertools

    rng = np.random.default_rng(20260813)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        n = int(rng.integers(1, 30))  # includes 1-2 token docs
        docs.append(" ".join(rng.choice(vocab, size=n)))
    for i in range(0, 20, 2):  # planted borderline near-dups
        base = docs[i].split()
        k = max(1, len(base) // 4)
        mutated = base[:-k] + list(rng.choice(vocab, size=k))
        docs.append(" ".join(mutated))

    def shingles(text):
        toks = text.lower().split()
        return {
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        }

    truth = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(docs), 2):
        sa, sb = shingles(a), shingles(b)
        if not sa or not sb:
            continue
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.35:
            truth[(i, j)] = round(jac, 6)

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": docs,
            "lang": "en",
            "source": "t",
            "n_chars": [len(d) for d in docs],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )

    for strat in ("index", "prefix"):
        got = dedup_ngram_jaccard(
            spark, str(tmp_path), strategy=strat
        ).toPandas()
        mine = {
            (int(r.doc_a), int(r.doc_b)): round(float(r.jaccard), 6)
            for r in got.itertuples()
        }
        assert mine == truth, f"strategy={strat}"
    assert truth  # non-vacuous: borderline pairs really exist


def test_dedup_clusters_minhash_edge_source(spark):
    """connected_components over the MinHash-LSH pair set (the 100 TB
    path for saturated corpora) agrees with a union-find reference over
    the SAME edge set — membership and canonical min-id labels."""
    pairs = QUERIES["dedup_minhash_lsh"](spark, SF).toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in zip(pairs.doc_a, pairs.doc_b):
        union(int(a), int(b))
    truth = {x: find(x) for x in parent}

    got = QUERIES["dedup_clusters"](spark, SF, edge_source="minhash").toPandas()
    mine = {int(r.doc_id): int(r.cluster_id) for r in got.itertuples()}
    assert mine == truth
    assert mine  # non-vacuous: the corpus has minhash candidate pairs


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """The reliable-checkpoint path (checkpoint_dir= → setCheckpointDir
    + checkpoint(), survives executor loss on a real cluster) produces
    the same cluster labels as the default localCheckpoint path, and
    really writes checkpoint data to the given directory."""
    default = QUERIES["dedup_clusters"](spark, SF).toPandas()
    ckpt_dir = tmp_path / "ckpt"
    reliable = QUERIES["dedup_clusters"](
        spark, SF, checkpoint_dir=str(ckpt_dir)
    ).toPandas()
    d = {int(r.doc_id): int(r.cluster_id) for r in default.itertuples()}
    r = {int(r.doc_id): int(r.cluster_id) for r in reliable.itertuples()}
    assert d == r
    assert any(ckpt_dir.rglob("*"))  # checkpoint blocks actually landed


def test_ivf_recall(spark):
    """IVF probing half the cells recalls >=40% of the exact top-10 on
    this near-unstructured corpus (recall ~= probed fraction when the
    data has no cluster structure; see _ivf_topk docstring). Both IVF
    paths are measured: the driver entry (fixed seeded quantizer,
    partitioned layout) and the Lloyd-trained library path
    (_ivf_topk)."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.similarity import (
        _ivf_topk,
    )

    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    both = QUERIES["knn_approx_ivf"](spark, SF).toPandas()
    for approx in (both[both.method == "ivf"], _ivf_topk(spark, SF).toPandas()):
        recalls = []
        for qid in exact.query_id.unique():
            e = set(exact[exact.query_id == qid].vec_id)
            a = set(approx[approx.query_id == qid].vec_id)
            recalls.append(len(e & a) / len(e))
        assert sum(recalls) / len(recalls) >= 0.4


def test_pivot_missing_cell_zero_filled(spark, tmp_path):
    """A (group, pivot-value) combination absent from the data must
    surface as qty=0.0, not NULL — Spark's PivotFirst fills absent
    cells AFTER the agg, so the zero-fill has to happen post-pivot."""
    rows = [("R", "F", 1.0), ("R", "F", 2.0), ("N", "O", 3.0)]
    spark.createDataFrame(
        rows, "l_returnflag string, l_linestatus string, l_quantity double"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = {
        (r["l_returnflag"], r["linestatus"]): r["qty"]
        for r in RETIRED_QUERIES["pivot_unpivot"](spark, str(tmp_path)).collect()
    }
    assert got[("R", "O")] == 0.0  # absent combo: zero, never NULL
    assert got[("R", "F")] == 3.0
    assert got[("N", "F")] == 0.0


def test_outliers_zero_variance_day_survives_ansi(spark, tmp_path):
    """A day whose events all carry the same value (std = 0) must be
    dropped, not crash with DIVIDE_BY_ZERO under ANSI mode."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        # zero-variance day: n=3, identical values
        (1, base, 5.0),
        (2, base + dt.timedelta(hours=1), 5.0),
        (3, base + dt.timedelta(hours=2), 5.0),
        # normal day with spread
        (4, base + dt.timedelta(days=1), 1.0),
        (5, base + dt.timedelta(days=1, hours=1), 2.0),
        (6, base + dt.timedelta(days=1, hours=2), 100.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = RETIRED_QUERIES["daily_value_outliers"](spark, str(tmp_path)).collect()
    # no exception, and no rows from the zero-variance day
    assert all(r["event_id"] not in (1, 2, 3) for r in out)


def test_dedup_mode_strings_validated(spark):
    """Typo'd mode strings raise instead of silently running the default
    algorithm (ADVICE r4)."""
    with pytest.raises(ValueError, match="strategy"):
        dedup_ngram_jaccard(spark, SF, strategy="Prefix")
    with pytest.raises(ValueError, match="edge_source"):
        QUERIES["dedup_clusters"](spark, SF, edge_source="minhsah")


def test_checkpoint_dir_conflict_raises(spark, tmp_path):
    """connected_components refuses to silently repoint the
    session-global checkpoint dir at a different location (ADVICE r4):
    setCheckpointDir is context-wide, so hijacking it mid-session would
    redirect OTHER callers' checkpoint data."""
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    if not opt.isDefined():
        # establish one through the public path first
        QUERIES["dedup_clusters"](
            spark, SF, checkpoint_dir=str(tmp_path / "first")
        )
    with pytest.raises(ValueError, match="checkpoint dir"):
        QUERIES["dedup_clusters"](
            spark, SF, checkpoint_dir=str(tmp_path / "other")
        )


def test_ivf_centroid_cache_keyed_by_corpus(spark, tmp_path):
    """ADVICE r4 (medium): two different embeddings corpora in ONE
    session must get separate centroid memo entries — the old key used
    the logical-plan string, which printed parquet relations without
    their path and collided."""
    import numpy as np

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.similarity import (
        _train_ivf_centroids,
    )
    from pyspark.sql import functions as F

    e1 = load_table(spark, SF, "embeddings")
    cent1 = _train_ivf_centroids(e1, K=8, corpus_id=SF)
    # second corpus: per-element shift changes vector DIRECTIONS (a
    # scale would not — training normalizes), so centroids must differ
    e1.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(1.0)).alias("embedding"),
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    e2 = load_table(spark, str(tmp_path), "embeddings")
    cent2 = _train_ivf_centroids(e2, K=8, corpus_id=str(tmp_path))

    # each corpus holds its own entry: a memo lookup whose build
    # returns None (and so holds nothing) finds the held matrix
    held = lambda corpus_id: session_memo(  # noqa: E731
        spark, "ivf_centroids", (corpus_id, 8), lambda: None
    )
    assert held(SF) is cent1
    assert held(str(tmp_path)) is cent2
    assert not np.allclose(cent1, cent2)
    # repeat call on corpus 1 is a memo HIT (identity), not a retrain
    assert _train_ivf_centroids(e1, K=8, corpus_id=SF) is cent1


def test_ivf_probe_warm_job_budget(spark):
    """VERDICT r11 #7: a warm knn_approx_ivf probe must stay inside a
    small fixed Spark-job budget. r12 removed three per-call jobs from
    the probe: the query-row collect is memoized per (app, corpus), the
    broadcast q side is rebuilt driver-side from those rows (no second
    filtered parquet scan), and the layout read carries an explicit
    schema (no footer-sampling inference job). The pre-r12 shape paid
    all three every call (7 jobs warm at sf0.1); the bound leaves
    headroom for AQE stage-job variance."""
    st = spark.sparkContext.statusTracker()
    run = lambda: (  # noqa: E731
        QUERIES["knn_approx_ivf"](spark, SF)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    run()  # warm the layout, centroid and query-row memos
    before = set(st.getJobIdsForGroup(None) or [])
    run()
    after = set(st.getJobIdsForGroup(None) or [])
    n = len(after - before)
    assert n <= 6, f"warm IVF probe ran {n} jobs (budget 6)"


@pytest.mark.parametrize("memo", ["tf_idf", "ivf_layout"])
def test_dead_app_cache_entries_evicted(spark, tmp_path, memo):
    """A memo call must drop and release the entries keyed by a dead
    applicationId — otherwise every session restart leaks a full entry
    set: persisted frames pinning py4j references into the dead JVM
    (the tf table must be unpersisted) and temp dirs on disk (the IVF
    layout's dir must be removed)."""
    import shutil
    from types import SimpleNamespace

    dead = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="dead-app-id"))
    if memo == "tf_idf":

        class FakeFrame:
            unpersisted = False

            def unpersist(self):
                self.unpersisted = True

        fake = FakeFrame()
        session_memo(dead, "tf_table", "some/sf", lambda: fake)
        released = lambda: fake.unpersisted  # noqa: E731
        entry = "tf_idf"
    else:
        stale = tmp_path / "ivf_cells_stale"
        stale.mkdir()
        session_memo(
            dead, "ivf_layout", "some/sf", lambda: str(stale), release=shutil.rmtree
        )
        released = lambda: not stale.exists()  # noqa: E731
        entry = "knn_approx_ivf"
    assert not released()
    QUERIES[entry](spark, SF).count()
    assert released()


def test_clear_intermediate_caches_releases_every_memo(spark):
    """Slope tools time first evaluations through
    clear_intermediate_caches, so it must release every memo entry: a
    held one would pass for a flat curve. After warming four memo-backed
    entries and clearing, the JVM holds no more persisted RDDs than
    before the warm-up, the IVF layout dir is gone, and the centroid
    memo trains anew."""
    import os

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.similarity import (
        _ivf_layout,
        _train_ivf_centroids,
    )

    jsc = spark.sparkContext._jsc
    persisted = lambda: jsc.getPersistentRDDs().size()  # noqa: E731
    clear_intermediate_caches()
    before = persisted()
    for name in ("tf_idf", "dedup_minhash_lsh", "lm_perplexity", "knn_approx_ivf"):
        QUERIES[name](spark, SF).write.format("noop").mode("overwrite").save()
    e = load_table(spark, SF, "embeddings")
    cent = _train_ivf_centroids(e, K=8, corpus_id=SF)
    layout = _ivf_layout(spark, SF)  # a hit: knn_approx_ivf wrote it
    assert persisted() > before
    assert os.path.isdir(layout)

    clear_intermediate_caches()
    assert persisted() <= before
    assert not os.path.exists(layout)
    assert _train_ivf_centroids(e, K=8, corpus_id=SF) is not cent


def test_cc_edge_layout_joins_without_edge_shuffle(spark):
    """The r11 Hash-Min layout optimization, plan-pinned: with the
    static edge side pre-partitioned/pre-sorted and cached
    (_hashmin_edge_layout), a propagation step's sort-merge join must
    not re-shuffle or re-sort the edges — only the label side and the
    min-aggregate exchange remain. Broadcast is disabled for the test
    so the join takes the shape it has at cluster scale, where the
    label side is |V| rows and cannot broadcast."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        _hashmin_edge_layout,
        _hashmin_step,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = spark.range(5000).select(
            (F.col("id") % 1000).alias("doc_a"),
            ((F.col("id") * 7) % 1000).alias("doc_b"),
        ).localCheckpoint()
        edges = _hashmin_edge_layout(pairs)
        try:
            labels = (
                edges.select(F.col("doc_a").alias("doc_id"))
                .distinct()
                .withColumn("label", F.col("doc_id"))
                .localCheckpoint()
            )
            stepped = _hashmin_step(edges, labels)
            stepped.write.format("noop").mode("overwrite").save()
            plan = stepped._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            # every data-moving exchange that is not the cached
            # layout's own REPARTITION_BY_COL must key on the LABEL
            # side (doc_id) — an edge-side doc_b exchange would mean
            # the cached layout was not reused
            moving = [
                line
                for line in plan.splitlines()
                if "Exchange" in line
                and "ReusedExchange" not in line
                and "REPARTITION_BY_COL" not in line
            ]
            assert moving, plan
            assert all("doc_id" in line for line in moving), plan

            # r12 (VERDICT r11 #4): the non-broadcast CLUSTER shape is
            # the SHUFFLE_HASH-hinted step — hash-join against the
            # cached layout, which additionally drops the per-step SORT
            # of the |V|-row label side that the SMJ shape above pays.
            hinted = _hashmin_step(edges, labels, shuffle_hash=True)
            hinted.write.format("noop").mode("overwrite").save()
            hplan = hinted._jdf.queryExecution().executedPlan().toString()
            assert "ShuffledHashJoin" in hplan, hplan
            # no sort of the label side anywhere (the only Sort allowed
            # is the cached layout's own doc_b sortWithinPartitions,
            # printed inside the InMemoryRelation's cacheBuilder)
            assert not [
                line
                for line in hplan.splitlines()
                if "Sort [doc_id" in line
            ], hplan
            hmoving = [
                line
                for line in hplan.splitlines()
                if "Exchange" in line
                and "ReusedExchange" not in line
                and "REPARTITION_BY_COL" not in line
            ]
            assert hmoving, hplan
            assert all("doc_id" in line for line in hmoving), hplan
        finally:
            edges.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.slow
def test_connected_components_random_graph_fuzz(spark):
    """connected_components vs a pure-python union-find over a sweep of
    seeded random graphs, including long chains (diameter >> 2-3, so
    Hash-Min genuinely iterates) and density extremes."""
    import random

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        connected_components,
    )

    def union_find(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # label = min node id in component
        label = {}
        for x in range(n_nodes):
            r = find(x)
            label.setdefault(r, []).append(x)
        return {
            x: min(members) for r, members in label.items() for x in members
        }

    rng = random.Random(20250814)
    cases = []
    for trial in range(6):
        n = rng.randint(20, 60)
        m = rng.randint(0, n * 2)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cases.append((n, edges))
    # adversarial: one long chain (diameter n-1 → many Hash-Min rounds)
    cases.append((40, [(i, i + 1) for i in range(39)]))

    for n, edges in cases:
        if not edges:
            continue
        ref = union_find(n, edges)
        pair_graph = spark.createDataFrame(
            [(a, b) for a, b in edges], "doc_a long, doc_b long"
        )
        touched = {x for e in edges for x in e}
        expect = {x: ref[x] for x in touched}
        for algorithm in ("hashmin", "star"):
            got = {
                int(r["doc_id"]): int(r["cluster_id"])
                for r in connected_components(
                    pair_graph, algorithm=algorithm
                ).collect()
            }
            assert got == expect, (
                f"{algorithm}: n={n}, edges={edges[:10]}..."
            )


def test_connected_components_star_long_chain(spark):
    """The star contraction is the high-diameter scale path: a 60-node
    chain converges within ~log² rounds where Hash-Min needs diameter
    rounds (its max_rounds rail RAISES instead of returning
    half-propagated labels); unknown algorithm names raise."""
    import pytest as _pytest

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    got = {
        int(r["doc_id"]): int(r["cluster_id"])
        for r in connected_components(
            chain, algorithm="star", max_rounds=12
        ).collect()
    }
    assert got == {i: 0 for i in range(61)}

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, algorithm="hashmin", max_rounds=12).count()
    with _pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(chain, algorithm="bogus")


def test_semantic_dedup_planted_groups(spark):
    """SemDeDup composition: planted near-identical groups (clones with
    tiny noise) must collapse to their min-id representative; singletons
    and the report must account for every input row exactly once."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        semantic_dedup,
    )

    rng = np.random.default_rng(5150)
    base = rng.standard_normal((60, 64)).astype(np.float64)
    # groups: ids {0,60,61} clone base[0]; {5,62} clone base[5]
    clones = np.vstack(
        [
            base[0] + 0.01 * rng.standard_normal(64),
            base[0] + 0.01 * rng.standard_normal(64),
            base[5] + 0.01 * rng.standard_normal(64),
        ]
    )
    vecs = np.vstack([base, clones])
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs)),
            "embedding": [v.astype(np.float32) for v in vecs],
        }
    )
    # confirm the planted structure is the ONLY >=0.97 structure
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    S = n @ n.T
    iu = np.triu_indices(len(vecs), k=1)
    truth_pairs = {
        (int(i), int(j)) for i, j in zip(*iu) if round(S[i, j], 4) >= 0.97
    }
    assert truth_pairs == {(0, 60), (0, 61), (60, 61), (5, 62)}

    kept, report = semantic_dedup(spark.createDataFrame(pdf), threshold=0.97)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    rep = {r["vec_id"]: r["representative"] for r in report.collect()}
    assert rep == {60: 0, 61: 0, 62: 5}
    assert kept_ids == set(range(len(vecs))) - set(rep)
    assert 0 in kept_ids and 5 in kept_ids


def test_semantic_dedup_no_near_pairs_keeps_everything(spark):
    """A corpus with no cosine>=threshold structure must come back
    intact with an empty report (the empty-pair-graph path through
    connected_components)."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        semantic_dedup,
    )

    rng = np.random.default_rng(99)
    vecs = rng.standard_normal((30, 64))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(30),
            "embedding": [v.astype(np.float32) for v in vecs],
        }
    )
    kept, report = semantic_dedup(spark.createDataFrame(pdf), threshold=0.99)
    assert report.isEmpty()
    assert kept.count() == 30


def test_exact_substring_pairs_planted_spans(spark):
    """Docs sharing a >=k-token verbatim run pair up (with the right
    shared-window count); shorter shared runs and disjoint docs don't;
    a boilerplate window over the postings cap is dropped."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        exact_substring_pairs,
    )

    span = " ".join(f"s{i}" for i in range(12))  # 12-token shared run
    short = " ".join(f"t{i}" for i in range(7))  # 7-token shared run
    boiler = " ".join(f"b{i}" for i in range(10))  # 10-token boilerplate
    rows = [
        (1, f"alpha beta {span} gamma delta"),
        (2, f"epsilon {span} zeta eta theta"),
        (3, f"iota {short} kappa wholly unrelated words here indeed"),
        (4, f"lambda {short} mu other unrelated vocabulary right there"),
        (5, "completely disjoint text with nothing shared at all okay"),
    ] + [(100 + i, f"x{i} {boiler} y{i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_windows"]
        for r in exact_substring_pairs(docs, k=10).collect()
    }
    # 12-token run shares 12-10+1 = 3 distinct 10-token windows
    assert got.get((1, 2)) == 3
    assert (3, 4) not in got  # 7 < k
    assert not any(5 in p for p in got)
    # boilerplate docs pair up below the cap...
    assert (100, 101) in got
    # ...and vanish when the cap is tighter than the family size
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in exact_substring_pairs(docs, k=10, max_postings=4).collect()
    }
    assert not any(a >= 100 for a, _ in capped)
    assert (1, 2) in capped


def test_remove_shared_substrings_planted_spans(spark):
    """The removal half of the Lee et al. recipe: a shared >=k run is
    cut from every non-canonical doc (canonical = smallest (doc_id,
    pos) keeps it verbatim), unique text and short-shared text are
    untouched, NULL cleans to ''."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        remove_shared_substrings,
    )

    span = " ".join(f"S{i}" for i in range(25))
    short = " ".join(f"t{i}" for i in range(7))
    docs = spark.createDataFrame(
        [
            (1, f"a1 b1 c1 {span} d1 e1"),
            (2, f"a2 b2 {span} z2"),
            (3, f"a3 {span} {span} z3"),  # within-doc repeat
            (4, f"iota {short} kappa unrelated words here indeed truly"),
            (5, f"lambda {short} mu other vocabulary right there now"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in remove_shared_substrings(docs, k=20).collect()
    }
    assert out[1]["text"] == f"a1 b1 c1 {span} d1 e1"  # canonical: intact
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text"] == "a2 b2 z2"  # span excised, context kept
    assert out[2]["n_tokens_removed"] == 25
    # within-doc repeat: both occurrences are non-canonical vs doc 1
    assert out[3]["text"] == "a3 z3"
    assert out[3]["n_tokens_removed"] == 50
    assert out[4]["n_tokens_removed"] == 0  # 7-token share < k
    assert out[5]["n_tokens_removed"] == 0
    assert out[6]["text"] == "" and out[6]["n_tokens_removed"] == 0
    assert set(out[1].asDict()) == {"doc_id", "text", "n_tokens_removed"}

    # idempotence on this corpus: the surviving single occurrence is no
    # longer duplicated, so a second pass removes nothing
    from pyspark.sql import functions as F

    again = remove_shared_substrings(
        spark.createDataFrame(
            [(k, v["text"]) for k, v in out.items()],
            "doc_id long, text string",
        ),
        k=20,
    )
    assert again.agg(F.sum("n_tokens_removed")).first()[0] == 0


def test_dedup_lines_planted(spark):
    """Corpus-wide line dedup (the CCNet/RefinedWeb boilerplate pass):
    a repeated line is cut everywhere but its smallest-(doc, line_no)
    occurrence under keep='first' and everywhere under keep='none';
    normalization folds case/inner-whitespace; blank lines are never
    counted or cut; untouched docs keep text byte-for-byte (tabs,
    blank lines intact); NULL cleans to ''."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        dedup_lines,
    )

    banner = "Accept our cookies"
    docs = spark.createDataFrame(
        [
            (1, f"alpha\n{banner}\nbeta gamma"),
            (2, f"{banner}\ndelta\n{banner}"),  # within-doc repeat too
            (3, "unique text\n\nwith\ta tab  kept"),
            (4, "ACCEPT   OUR COOKIES\nepsilon"),  # normalized match
            (5, "\n\n"),  # only blank lines — 3 docs share '' as a key
            (6, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert out[1]["text"] == f"alpha\n{banner}\nbeta gamma"  # canonical
    assert out[1]["n_lines_removed"] == 0
    assert out[2]["text"] == "delta"  # both non-canonical copies cut
    assert out[2]["n_lines_removed"] == 2
    assert out[3]["text"] == "unique text\n\nwith\ta tab  kept"  # bytes
    assert out[3]["n_lines_removed"] == 0
    assert out[4]["text"] == "epsilon"  # case+whitespace fold matched
    assert out[4]["n_lines_removed"] == 1
    assert out[5]["text"] == "\n\n" and out[5]["n_lines_removed"] == 0
    assert out[6]["text"] == "" and out[6]["n_lines_removed"] == 0
    assert set(out[1].asDict()) == {"doc_id", "text", "n_lines_removed"}

    # keep='none': the canonical occurrence goes too (CCNet's choice)
    none_out = {
        r["doc_id"]: r for r in dedup_lines(docs, keep="none").collect()
    }
    assert none_out[1]["text"] == "alpha\nbeta gamma"
    assert none_out[1]["n_lines_removed"] == 1

    # normalize=False: the case variant no longer matches, and with
    # only 2 raw-equal occurrences left doc 1's copy is canonical
    raw_out = {
        r["doc_id"]: r
        for r in dedup_lines(docs, normalize=False).collect()
    }
    assert raw_out[4]["n_lines_removed"] == 0
    assert raw_out[1]["n_lines_removed"] == 0
    assert raw_out[2]["text"] == "delta"

    # threshold: 4 normalized occurrences exist (doc 2 has two), so
    # min_occurrences=4 still fires on all three non-canonicals; 5
    # does not
    assert (
        dedup_lines(docs, min_occurrences=4)
        .agg(F.sum("n_lines_removed"))
        .first()[0]
        == 3
    )
    assert (
        dedup_lines(docs, min_occurrences=5)
        .agg(F.sum("n_lines_removed"))
        .first()[0]
        == 0
    )

    # idempotence under keep='first': one occurrence survives, so a
    # second pass removes nothing
    again = dedup_lines(
        spark.createDataFrame(
            [(k, v["text"]) for k, v in out.items()],
            "doc_id long, text string",
        )
    )
    assert again.agg(F.sum("n_lines_removed")).first()[0] == 0

    # passthrough columns survive in order
    with_src = spark.createDataFrame(
        [(1, "web", f"{banner}\nx"), (2, "web", f"y\n{banner}")],
        "doc_id long, src string, text string",
    )
    got = dedup_lines(with_src)
    assert got.columns == ["doc_id", "src", "text", "n_lines_removed"]
    assert {r["doc_id"]: r["text"] for r in got.collect()} == {
        1: f"{banner}\nx",
        2: "y",
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_occurrences"):
        dedup_lines(docs, min_occurrences=1)
    with _pytest.raises(ValueError, match="keep"):
        dedup_lines(docs, keep="bogus")


def test_dedup_lines_incremental_union_parity(spark):
    """The standing-corpus line lane: dedup_lines_incremental(batch,
    build_line_index(corpus)) must equal the batch operator run on the
    UNION restricted to batch docs — for both keep modes — without
    ever rescanning corpus text. Also: the append lifecycle (index +
    batch rows) catches a later batch, and the validation rails fire."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_line_index,
        dedup_lines,
        dedup_lines_incremental,
    )

    banner = "subscribe to our newsletter"
    footer = "all rights reserved"
    corpus = spark.createDataFrame(
        [
            (1, f"alpha\n{banner}\nbody one"),
            (2, f"{banner}\nbody two\n{footer}"),
            (3, "unique corpus text"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # banner: corpus-hot already → cut here (canonical in corpus)
            (10, f"{banner}\nfresh ten"),
            # footer: 1 corpus + 1 batch occurrence → hot via the union
            (11, f"fresh eleven\n{footer}"),
            # batch-internal duplicate: canonical is (12, 0), cut in 13
            (12, "promo line repeated\nfresh twelve"),
            (13, "promo line repeated\nfresh thirteen"),
            (14, None),
        ],
        "doc_id long, text string",
    )
    idx = build_line_index(corpus)
    batch_ids = {10, 11, 12, 13, 14}
    for keep in ("first", "none"):
        inc = {
            r["doc_id"]: (r["text"], r["n_lines_removed"])
            for r in dedup_lines_incremental(batch, idx, keep=keep).collect()
        }
        ref = {
            r["doc_id"]: (r["text"], r["n_lines_removed"])
            for r in dedup_lines(corpus.unionByName(batch), keep=keep)
            .filter(F.col("doc_id") >= 10)
            .collect()
        }
        assert inc == ref, f"keep={keep}: {inc} != {ref}"
        assert set(inc) == batch_ids
    # spot semantics: corpus canonicals win, batch canonicals survive
    inc = {
        r["doc_id"]: r
        for r in dedup_lines_incremental(batch, idx).collect()
    }
    assert inc[10]["text"] == "fresh ten"
    assert inc[11]["text"] == "fresh eleven"
    assert inc[12]["text"] == "promo line repeated\nfresh twelve"
    assert inc[13]["text"] == "fresh thirteen"
    assert inc[14]["text"] == "" and inc[14]["n_lines_removed"] == 0

    # append lifecycle: index + this batch's rows catches a later batch
    # reusing a batch-only line ('promo line repeated' is now indexed)
    idx2 = idx.unionByName(build_line_index(batch))
    later = spark.createDataFrame(
        [(20, "promo line repeated\nbrand new")],
        "doc_id long, text string",
    )
    got = dedup_lines_incremental(later, idx2).collect()[0]
    assert got["text"] == "brand new" and got["n_lines_removed"] == 1

    # rails: normalization mismatch, malformed index, bad params
    with pytest.raises(ValueError, match="normalize"):
        dedup_lines_incremental(batch, idx, normalize=False)
    with pytest.raises(ValueError, match="build_line_index"):
        dedup_lines_incremental(batch, corpus)
    with pytest.raises(ValueError, match="min_occurrences"):
        dedup_lines_incremental(batch, idx, min_occurrences=1)
    with pytest.raises(ValueError, match="keep"):
        dedup_lines_incremental(batch, idx, keep="bogus")


def test_dedup_lines_count_mode_docs(spark):
    """count_mode='docs' (CCNet's cross-shard notion): a line repeated
    only WITHIN one doc never becomes hot, while a cross-doc line does
    — and once hot, every occurrence (within-doc repeats included) is
    still cut except the canonical."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        dedup_lines,
    )

    nav = "home products about"
    banner = "accept cookies"
    docs = spark.createDataFrame(
        [
            (1, f"{nav}\nalpha\n{nav}\n{nav}"),  # nav is 1-doc only
            (2, f"{banner}\nbeta\n{banner}"),  # banner crosses docs
            (3, f"gamma\n{banner}"),
        ],
        "doc_id long, text string",
    )
    occ = {
        r["doc_id"]: r for r in dedup_lines(docs).collect()
    }  # occurrences mode: both fire
    assert occ[1]["text"] == f"{nav}\nalpha"
    assert occ[1]["n_lines_removed"] == 2
    dm = {
        r["doc_id"]: r
        for r in dedup_lines(docs, count_mode="docs").collect()
    }
    # nav: 3 occurrences but ONE doc — untouched in docs mode
    assert dm[1]["text"] == f"{nav}\nalpha\n{nav}\n{nav}"
    assert dm[1]["n_lines_removed"] == 0
    # banner: 2 docs — hot; doc 2 keeps the canonical, loses its repeat
    assert dm[2]["text"] == f"{banner}\nbeta"
    assert dm[2]["n_lines_removed"] == 1
    assert dm[3]["text"] == "gamma"
    assert (
        dedup_lines(docs, count_mode="docs", min_occurrences=3)
        .agg(F.sum("n_lines_removed"))
        .first()[0]
        == 0
    )
    import pytest as _p

    with _p.raises(ValueError, match="count_mode"):
        dedup_lines(docs, count_mode="bogus")


@pytest.mark.slow
def test_dedup_lines_incremental_random_parity(spark):
    """Seeded fuzz of the union-parity contract: random multi-line docs
    over a tiny vocabulary (so collisions are common), split into
    corpus/batch — the incremental result must equal the batch
    operator on the union restricted to batch docs, for both keep
    modes and a higher threshold."""
    import random

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_line_index,
        dedup_lines,
        dedup_lines_incremental,
    )

    voc = ["ad", "buy", "now", "read", "more", "cookie"]
    for seed in (7, 19, 42):
        rng = random.Random(seed)

        def doc():
            return "\n".join(
                " ".join(
                    rng.choice(voc) for _ in range(rng.randint(1, 3))
                )
                for _ in range(rng.randint(0, 5))
            )

        corpus = spark.createDataFrame(
            [(i, doc()) for i in range(20)], "doc_id long, text string"
        )
        batch = spark.createDataFrame(
            [(100 + i, doc()) for i in range(10)],
            "doc_id long, text string",
        )
        idx = build_line_index(corpus)
        for keep, mo, cm in (
            ("first", 2, "occurrences"),
            ("none", 2, "occurrences"),
            ("first", 3, "occurrences"),
            ("first", 2, "docs"),
            ("none", 3, "docs"),
        ):
            inc = {
                r["doc_id"]: (r["text"], r["n_lines_removed"])
                for r in dedup_lines_incremental(
                    batch, idx, min_occurrences=mo, keep=keep, count_mode=cm
                ).collect()
            }
            ref = {
                r["doc_id"]: (r["text"], r["n_lines_removed"])
                for r in dedup_lines(
                    corpus.unionByName(batch),
                    min_occurrences=mo,
                    keep=keep,
                    count_mode=cm,
                )
                .filter("doc_id >= 100")
                .collect()
            }
            assert inc == ref, f"seed={seed} keep={keep} mo={mo} cm={cm}"


def test_shared_substring_runs_planted(spark):
    """Maximal-run recovery: a 30-token shared run and a separate
    12-token shared run between the same pair come back as exactly two
    rows with the right starts and lengths; sub-k shares and disjoint
    docs yield nothing; a within-doc repeated span reports one run per
    diagonal occurrence."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        shared_substring_runs,
    )

    run = " ".join(f"R{j}" for j in range(30))
    run2 = " ".join(f"Q{j}" for j in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"a1 b1 {run} c1 {run2} d1"),
            (2, f"x2 {run} y2 z2 w2 v2 u2 t2 {run2} s2"),
            (3, "totally different words " + " ".join(f"u{j}" for j in range(20))),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["run_tokens"])
        for r in shared_substring_runs(docs, k=10).collect()
    )
    assert got == [(1, 2, 2, 1, 30), (1, 2, 33, 37, 12)]

    # within-doc repeat: doc 5 contains the span twice → two diagonals
    span = " ".join(f"S{j}" for j in range(15))
    docs2 = spark.createDataFrame(
        [(4, f"h4 {span} t4"), (5, f"{span} mid5 {span}")],
        "doc_id long, text string",
    )
    got2 = sorted(
        (r["start_a"], r["start_b"], r["run_tokens"])
        for r in shared_substring_runs(docs2, k=10).collect()
    )
    assert got2 == [(1, 0, 15), (1, 16, 15)]

    # hot cap counts OCCURRENCES: a window repeated within documents
    # past max_postings is dropped (bounding the self-join fan-in),
    # even though only two distinct docs carry it
    boiler = " ".join(f"B{j}" for j in range(10))
    docs3 = spark.createDataFrame(
        [(6, (boiler + " ") * 4), (7, (boiler + " ") * 4)],
        "doc_id long, text string",
    )
    # each doc has 31 tokens → repeated windows; cap 5 < total
    # occurrences of the all-boilerplate windows → nothing survives
    assert shared_substring_runs(docs3, k=10, max_postings=5).count() == 0
    # with a generous cap the shared runs come back
    assert shared_substring_runs(docs3, k=10, max_postings=256).count() > 0


def test_shared_substring_runs_duckdb_reference(spark):
    """Hash-free DuckDB recomputation of the maximal runs on the
    fixture corpus (window strings + gaps-and-islands) must match the
    operator row-for-row."""
    import duckdb

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        shared_substring_runs,
    )

    k = 10
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    got = sorted(
        map(tuple, shared_substring_runs(docs, k=k).collect())
    )
    want = sorted(
        map(
            tuple,
            duckdb.sql(
                rf"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '\s+'),
                             t -> t <> '') AS toks
          FROM '{SF}/documents.parquet'
        ), occ AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+{k - 1}], ' ') AS w
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - {k - 1})) AS i)
        ), keep AS (
          -- occurrence-count cap (join fan-in), not distinct docs
          SELECT w FROM occ GROUP BY w HAVING count(*) <= 256
        ), shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pa, b.pos AS pb
          FROM occ a JOIN keep USING (w) JOIN occ b USING (w)
          WHERE a.doc_id < b.doc_id
        ), grp AS (
          SELECT *, pa - row_number() OVER (
                   PARTITION BY doc_a, doc_b, pb - pa ORDER BY pa) AS g
          FROM shared
        )
        SELECT doc_a, doc_b,
               min(pa) AS start_a,
               CAST(min(pa) + (pb - pa) AS BIGINT) AS start_b,
               CAST(max(pa) - min(pa) + {k} AS BIGINT) AS run_tokens
        FROM grp GROUP BY doc_a, doc_b, pb - pa, g
        """
            ).fetchall(),
        )
    )
    assert got == want
    assert got  # the fixture corpus has real shared runs


def test_remove_shared_substrings_duckdb_reference(spark):
    """Cross-check against a direct window-string reference in DuckDB
    on the fixture documents: per-doc removed-token counts must match a
    hash-free recomputation of marked coverage."""
    import duckdb

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        remove_shared_substrings,
    )

    k = 10
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    got = {
        r["doc_id"]: r["n_tokens_removed"]
        for r in remove_shared_substrings(docs, k=k).collect()
    }
    want = dict(
        duckdb.sql(
            rf"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
          FROM '{SF}/documents.parquet'
        ), occ AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+{k - 1}], ' ') AS w
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - {k - 1})) AS i)
        ), dup AS (
          SELECT w, min(doc_id * 1000000 + pos) AS canon
          FROM occ GROUP BY w HAVING count(*) >= 2
        ), marked AS (
          SELECT o.doc_id, o.pos FROM occ o JOIN dup d USING (w)
          WHERE o.doc_id * 1000000 + o.pos <> d.canon
        ), cover AS (
          SELECT DISTINCT m.doc_id, m.pos + j AS tok_pos
          FROM marked m, LATERAL (SELECT unnest(generate_series(0, {k - 1})) AS j)
        )
        SELECT t.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_removed
        FROM toks t LEFT JOIN (
          SELECT doc_id, count(*) AS n FROM cover GROUP BY doc_id
        ) c USING (doc_id)
        """
        ).fetchall()
    )
    assert got == want
    assert sum(got.values()) > 0  # the fixture corpus has real dups


def test_incremental_substring_index_matches_batch_on_union(spark):
    """The r6-VERDICT gap: substring-checking a new batch against a
    STANDING corpus via its persisted window index. Within-corpus
    pairs (known at index-build time) plus the incremental result must
    equal the batch detector on the union — including the hot cap,
    which the incremental path computes over the union's totals."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_window_index,
        exact_substring_pairs,
        exact_substring_pairs_incremental,
    )

    k = 8
    span = " ".join(f"S{j}" for j in range(12))
    span2 = " ".join(f"T{j}" for j in range(12))
    hotwin = " ".join(f"H{j}" for j in range(8))
    corpus = spark.createDataFrame(
        [
            (1, f"a1 b1 {span} c1"),
            (2, f"a2 {span} b2 c2"),          # shares span with 1
            (3, f"a3 {hotwin} b3 c3 d3 e3"),  # hot window carrier
            (4, f"a4 {hotwin} b4 c4 d4 e4"),
            (5, "five totally unrelated tokens " + " ".join(f"u{j}" for j in range(8))),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, f"x10 {span} y10 {span2} z10"),  # matches 1, 2 and 13
            (11, f"x11 {hotwin} y11"),  # pushes hotwin over cap 3
            (12, f"x12 {hotwin} y12"),
            (13, f"q13 {span2} r13"),   # within-batch pair with 10
        ],
        "doc_id long, text string",
    )
    # span occupies 3 docs in the union (kept at cap 3); hotwin
    # occupies 4 (2 corpus + 2 batch) → over the cap, dropped from
    # BOTH the union run and the incremental run
    cap = 3

    idx = build_window_index(corpus, k=k)
    incremental = exact_substring_pairs_incremental(
        batch, idx, k=k, max_postings=cap
    )
    union_batch = exact_substring_pairs(
        corpus.unionByName(batch), k=k, max_postings=cap
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # the contract: incremental == the batch-on-union rows touching a
    # new doc (standing within-corpus pairs are the index owner's —
    # already computed when the corpus was indexed)
    inc = rows(incremental)
    assert inc == [t for t in rows(union_batch) if t[0] >= 10 or t[1] >= 10]
    # the span matches survived (corpus-vs-new AND new-vs-new), the
    # over-cap boilerplate pair did not
    pairs_only = {(a, b) for a, b, _ in inc}
    assert {(1, 10), (2, 10), (10, 13)} <= pairs_only
    assert not any({a, b} & {11, 12} and {a, b} & {3, 4} for a, b in pairs_only)

    # replay safety: append the batch's own rows to the index (the
    # crash-between-append-and-commit window) and re-run — same result
    idx_replayed = idx.unionByName(build_window_index(batch, k=k))
    again = exact_substring_pairs_incremental(
        batch, idx_replayed, k=k, max_postings=cap
    )
    assert rows(again) == inc

    # the incremental checker reports its union cap too: 4 occupied
    # docs for hotwin (2 corpus + 2 batch) over cap 3 → 1 hot window,
    # 4 dropped distinct-doc postings
    _p, capr = exact_substring_pairs_incremental(
        batch, idx, k=k, max_postings=cap, cap_report=True
    )
    rowc = capr.first()
    assert (
        rowc["n_hot_windows"],
        rowc["dropped_postings"],
        rowc["max_postings"],
    ) == (1, 4, 3)

    # k mismatch is an explicit error, not silent emptiness — and a
    # MIXED-k index (foreign-k rows appended) raises too, rather than
    # passing on a lucky sampled row while the foreign rows silently
    # match nothing (the check is a parquet-stats-skippable predicate,
    # so a well-formed index pays ~nothing for it)
    with pytest.raises(ValueError, match="contains k=8 .* queried\\s+with k=10"):
        exact_substring_pairs_incremental(batch, idx, k=10)
    mixed = idx.unionByName(build_window_index(batch, k=10))
    with pytest.raises(ValueError, match="contains k=10 .* queried\\s+with k=8"):
        exact_substring_pairs_incremental(batch, mixed, k=8)


def test_compact_window_index_parity_and_trim(spark, tmp_path):
    """compact_window_index: (a) rewrites a many-small-files index into
    right-sized files with the SAME rows; (b) the hot-window trim keeps
    max_postings+1+margin rows per boilerplate window, and incremental
    results are bit-identical pre/post trim — the union cap is monotone,
    so a window over the cap from the index alone stays over it in
    every future check; (c) a mixed-k index is refused."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_window_index,
        compact_window_index,
        exact_substring_pairs_incremental,
    )

    k = 8
    cap, margin = 3, 1
    keep = cap + 1 + margin  # 5 rows kept per hot window
    hotwin = " ".join(f"H{j}" for j in range(k))
    span = " ".join(f"S{j}" for j in range(k + 4))
    corpus_rows = [(i, f"a{i} {hotwin} b{i}") for i in range(9)]  # 9 > keep
    corpus_rows += [(20, f"x20 {span} y20"), (21, f"x21 {span} y21")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    path = str(tmp_path / "widx")
    # three separate appends → many small files, like the streaming lane
    for lo, hi in [(0, 4), (4, 9), (9, 30)]:
        chunk = corpus.filter(f"doc_id >= {lo} and doc_id < {hi}")
        build_window_index(chunk, k=k).write.mode("append").parquet(path)

    batch = spark.createDataFrame(
        [(100, f"q100 {hotwin} r100"), (101, f"q101 {span} r101")],
        "doc_id long, text string",
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def check():
        idx = spark.read.parquet(path)
        return rows(
            exact_substring_pairs_incremental(batch, idx, k=k, max_postings=cap)
        )

    import glob

    before = check()
    files_before = len(glob.glob(f"{path}/part-*"))
    rows_before = spark.read.parquet(path).count()
    report = compact_window_index(
        spark, path, max_postings=cap, hot_keep_margin=margin
    )
    # bit-identical incremental results: span pairs survive, the hot
    # window stays dropped (9 kept→5 rows, 5 + 1 batch = 6 > cap)
    assert check() == before
    assert {(t[0], t[1]) for t in before} >= {(20, 101), (21, 101)}
    assert not any(100 in (a, b) for a, b, _ in before)
    # hotwin spans only one k-window; its 9 rows trim to keep=5
    assert report["hot_windows_trimmed"] == 1
    assert report["rows_trimmed"] == 9 - keep
    assert report["rows_before"] == rows_before
    assert report["rows_after"] == rows_before - (9 - keep)
    assert spark.read.parquet(path).count() == report["rows_after"]
    # small-file rewrite: 3+ appends' files collapse to the computed
    # file count (row volume far below target_rows_per_file → 1)
    files_after = len(glob.glob(f"{path}/part-*"))
    assert files_after == report["files_after"] == 1 < files_before
    assert report["files_before"] == files_before
    # untrimmed windows keep every row: doc 20/21's span windows intact
    # (x20 + 12 span tokens + y20 = 14 tokens → 7 k=8 windows per doc)
    kept = spark.read.parquet(path)
    assert kept.filter("doc_id in (20, 21)").count() == 2 * 7
    # k column survives the rewrite
    assert {r["k"] for r in kept.select("k").distinct().collect()} == {k}

    # mixed-k refusal — compaction must not bake a broken index
    build_window_index(batch, k=k + 2).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="mixed-k"):
        compact_window_index(spark, path)


def test_compact_window_index_empty_index_is_a_noop_rewrite(spark, tmp_path):
    """A first micro-batch whose docs all dedup away leaves a ZERO-row
    window index (the append lane always writes the frame) — offline
    maintenance over it must no-op cleanly, not raise the mixed-k
    error (collect_set over zero rows is [], which is not 'mixed')."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_window_index,
        compact_window_index,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "widx_empty")
    build_window_index(empty, k=8).write.parquet(path)
    report = compact_window_index(spark, path, max_postings=4)
    assert report["rows_before"] == report["rows_after"] == 0
    assert report["hot_windows_trimmed"] == report["rows_trimmed"] == 0
    # the swapped-in index is still a readable, appendable parquet dir
    assert spark.read.parquet(path).count() == 0


def test_compact_line_index_rewrite_and_rails(spark, tmp_path):
    """compact_line_index: appended small files collapse, the row SET
    is unchanged, the swapped dir keeps serving dedup_lines_incremental
    with identical results; conflicting (line-key, doc) aggregates and
    mixed norm both RAISE instead of merging the contradiction in."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_line_index,
        compact_line_index,
        dedup_lines_incremental,
    )

    corpus = spark.createDataFrame(
        [(1, "shared banner\nalpha"), (2, "shared banner\nbeta")],
        "doc_id long, text string",
    )
    extra = spark.createDataFrame(
        [(3, "shared banner\ngamma")], "doc_id long, text string"
    )
    path = str(tmp_path / "lidx")
    build_line_index(corpus).write.parquet(path)
    build_line_index(extra).write.mode("append").parquet(path)
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    batch = spark.createDataFrame(
        [(10, "shared banner\nfresh")], "doc_id long, text string"
    )
    got_before = dedup_lines_incremental(
        batch, spark.read.parquet(path)
    ).collect()
    report = compact_line_index(spark, path, target_rows_per_file=100)
    assert report["rows_before"] == report["rows_after"] == len(before)
    assert report["files_after"] <= report["files_before"]
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before
    got_after = dedup_lines_incremental(
        batch, spark.read.parquet(path)
    ).collect()
    assert got_after == got_before
    assert got_after[0]["text"] == "fresh"

    # conflicting aggregates for the same (line-key, doc): RAISE
    conflicted = spark.read.parquet(path).withColumn(
        "n_occ", F.col("n_occ") + 1
    )
    conflicted.write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="conflicting aggregates"):
        compact_line_index(spark, path)

    # mixed norm: RAISE
    path2 = str(tmp_path / "lidx2")
    build_line_index(corpus).write.parquet(path2)
    build_line_index(extra, normalize=False).write.mode("append").parquet(
        path2
    )
    with pytest.raises(ValueError, match="norm"):
        compact_line_index(spark, path2)


@pytest.mark.slow
def test_compact_corpus_index_rewrite_preserves_rows_and_tags(spark, tmp_path):
    """compact_corpus_index: many small appended files collapse to one,
    the row SET (including __src_* replay tags) is unchanged, and
    dedup_incremental over the compacted index reaches the same
    decisions."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_corpus_index,
        compact_corpus_index,
        dedup_incremental,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i} body tokens alpha beta gamma {i}") for i in range(9)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "cidx")
    # three tagged appends, like three committed micro-batches
    for b, (lo, hi) in enumerate([(0, 3), (3, 6), (6, 9)]):
        chunk = docs.filter(f"doc_id >= {lo} and doc_id < {hi}")
        build_corpus_index(chunk).select(
            "*",
            F.lit("file:///ck").alias("__src_ck"),
            F.lit(b).cast("long").alias("__src_batch"),
        ).write.mode("append").parquet(path)

    import glob

    def rows(df):
        return sorted(map(tuple, df.fillna(0).collect()))

    before_rows = rows(spark.read.parquet(path))
    files_before = len(glob.glob(f"{path}/part-*"))
    # a batch containing one exact dup of doc 4 and one fresh doc
    batch = spark.createDataFrame(
        [(100, "doc number 4 body tokens alpha beta gamma 4"), (101, "entirely new content here")],
        "doc_id long, text string",
    )

    def decisions():
        kept, report = dedup_incremental(
            batch, spark.read.option("mergeSchema", "true").parquet(path)
        )
        return (
            sorted(r["doc_id"] for r in kept.select("doc_id").collect()),
            sorted(map(tuple, report.select("doc_id", "reason").collect())),
        )

    before = decisions()
    rep = compact_corpus_index(spark, path)
    assert decisions() == before
    assert before[0] == [101]  # the exact dup of doc 4 dropped
    assert rows(spark.read.parquet(path)) == before_rows
    assert rep["rows_before"] == rep["rows_after"] == len(before_rows)
    files_after = len(glob.glob(f"{path}/part-*"))
    assert files_after == rep["files_after"] == 1 < files_before
    assert rep["files_before"] == files_before


def test_compact_window_index_heals_torn_swap(spark, tmp_path):
    """A crash at any point of the two-rename swap is healed by the
    next call: an incomplete tmp rolls BACK to the pre-compaction
    index; a complete tmp with the index dir missing rolls FORWARD."""
    import os
    import shutil

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_window_index,
        compact_window_index,
    )

    k = 8
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}w{j}" for j in range(k + 2))) for i in range(6)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "widx")
    build_window_index(docs, k=k).write.parquet(path)
    expect = sorted(map(tuple, spark.read.parquet(path).collect()))

    # roll-back: crash between the renames left old in place and an
    # INCOMPLETE tmp (no _SUCCESS) — the index dir is missing
    os.rename(path, f"{path}__compact_old")
    os.makedirs(f"{path}__compact_tmp")
    with open(f"{path}__compact_tmp/part-junk.parquet", "wb") as f:
        f.write(b"torn")
    report = compact_window_index(spark, path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == expect
    assert report["rows_after"] == len(expect)
    assert not os.path.exists(f"{path}__compact_old")
    assert not os.path.exists(f"{path}__compact_tmp")

    # roll-forward: complete tmp (_SUCCESS present), index dir missing
    shutil.copytree(path, f"{path}__compact_tmp")
    os.rename(path, f"{path}__compact_old")
    report = compact_window_index(spark, path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == expect
    assert report["rows_after"] == len(expect)
    assert not os.path.exists(f"{path}__compact_old")
    assert not os.path.exists(f"{path}__compact_tmp")

    # all three dirs present is unreachable under atomic rename — it
    # means a non-atomic (S3A-style) rename tore mid-copy and the index
    # dir and old may BOTH be partial: the heal must refuse to guess
    # (and must not delete either recovery source)
    shutil.copytree(path, f"{path}__compact_tmp")
    shutil.copytree(path, f"{path}__compact_old")
    with pytest.raises(OSError, match="non-atomic"):
        compact_window_index(spark, path)
    assert os.path.exists(f"{path}__compact_old")
    assert os.path.exists(f"{path}__compact_tmp")
    shutil.rmtree(f"{path}__compact_tmp")
    shutil.rmtree(f"{path}__compact_old")

    # a negative margin would let the trim un-hot (or empty) the very
    # windows it must preserve as hot — rejected at the API boundary
    with pytest.raises(ValueError, match="hot_keep_margin"):
        compact_window_index(spark, path, max_postings=2, hot_keep_margin=-1)


@pytest.mark.slow
def test_dedup_incremental_substring_lane(spark):
    """dedup_incremental(window_index=...): a new doc sharing >=
    min_shared_windows k-token windows with the corpus drops with
    reason 'substring'; exact dups still outrank it; untouched docs
    survive."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        build_corpus_index,
        build_window_index,
        dedup_incremental,
    )

    span = " ".join(f"W{j}" for j in range(8))
    filler_a = " ".join(f"i{j}" for j in range(10))
    filler_b = " ".join(f"o{j}" for j in range(10))
    corpus = spark.createDataFrame(
        [
            (1, f"alpha beta {span} gamma delta"),
            (2, "entirely different corpus content " + " ".join(f"c{j}" for j in range(10))),
        ],
        "doc_id long, text string",
    )
    fp_idx = build_corpus_index(corpus)
    win_idx = build_window_index(corpus, k=8)
    batch = spark.createDataFrame(
        [
            # shares exactly the 8-token span window with doc 1 but is
            # mostly unique text: document-level Jaccard ~0.17, far
            # below the 0.5 near threshold — ONLY the substring lane
            # can catch this quote-level reuse (the lane's raison
            # d'être)
            (10, f"{filler_a} {span} {filler_b}"),
            (11, "entirely different corpus content " + " ".join(f"c{j}" for j in range(10))),  # exact dup of 2
            (12, "fresh new tokens " + " ".join(f"n{j}" for j in range(10))),
        ],
        "doc_id long, text string",
    )
    clean, report = dedup_incremental(
        batch, fp_idx, threshold=0.5, window_index=win_idx, window_k=8
    )
    rep = {r["doc_id"]: r for r in report.collect()}
    assert rep[10]["reason"] == "substring"
    assert rep[10]["matched_doc_id"] == 1
    assert rep[10]["est_jaccard"] is None
    # the exact lane outranks the substring lane for doc 11 (it shares
    # its whole text → also a substring match, but reports 'exact')
    assert rep[11]["reason"] == "exact"
    assert sorted(r["doc_id"] for r in clean.collect()) == [12]

    # min_shared_windows above the actual share → substring lane quiet
    _c2, r2 = dedup_incremental(
        batch, fp_idx, threshold=0.5, window_index=win_idx, window_k=8,
        min_shared_windows=100,
    )
    assert sorted(r["doc_id"] for r in r2.collect()) == [11]
    with pytest.raises(ValueError, match="min_shared_windows"):
        dedup_incremental(
            batch, fp_idx, window_index=win_idx, min_shared_windows=0
        )


def test_substring_cap_report_hand_computed(spark):
    """The postings-cap observability report matches a hand-computed
    fixture: 5 docs sharing exactly ONE identical 5-token window, cap
    3 → one hot window, 5 dropped posting rows — and the same cap run
    with positions counts occurrences, so a within-doc repeat raises
    the dropped mass without adding docs."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        exact_substring_pairs,
        shared_substring_runs,
    )

    boiler = "B1 B2 B3 B4 B5"
    docs = spark.createDataFrame(
        [(i, f"u{i}a u{i}b {boiler} u{i}c") for i in range(5)],
        "doc_id long, text string",
    )
    pairs, cap = exact_substring_pairs(
        docs, k=5, max_postings=3, cap_report=True
    )
    row = cap.first()
    # only the pure-boilerplate window is identical across docs (every
    # other window mixes in per-doc unique tokens): 1 hot window with
    # one distinct-doc posting per doc
    assert (
        row["n_hot_windows"],
        row["dropped_postings"],
        row["max_postings"],
    ) == (1, 5, 3)
    # the cap actually dropped the window: no doc pair shares anything
    assert pairs.count() == 0

    # positional path: duplicate the window inside one doc — postings
    # count OCCURRENCES, so the dropped mass rises to 6 from 5 docs
    docs2 = spark.createDataFrame(
        [(i, f"u{i}a u{i}b {boiler} u{i}c") for i in range(4)]
        + [(4, f"u4a u4b {boiler} x4 y4 z4 w4 v4 {boiler} u4c")],
        "doc_id long, text string",
    )
    _runs, cap2 = shared_substring_runs(
        docs2, k=5, max_postings=3, cap_report=True
    )
    row2 = cap2.first()
    assert (row2["n_hot_windows"], row2["dropped_postings"]) == (1, 6)

    # an uncapped run reports zeros — the report is present, not NULL
    _p3, cap3 = exact_substring_pairs(
        docs, k=5, max_postings=256, cap_report=True
    )
    row3 = cap3.first()
    assert (row3["n_hot_windows"], row3["dropped_postings"]) == (0, 0)


def test_exact_substring_pairs_validation(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        exact_substring_pairs,
    )

    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        exact_substring_pairs(d, k=0)
    with _pytest.raises(ValueError, match="max_postings"):
        exact_substring_pairs(d, max_postings=1)


def test_exact_substring_hash_independence_and_blank_docs(spark):
    """The second window hash must not be a function of the first
    (Spark's multi-arg xxhash64 folds sequentially, so a SUFFIX salt
    adds zero entropy — the salt must come first), and blank/NULL docs
    must share no windows."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        exact_substring_pairs,
    )

    # pin the operator's ACTUAL h2 expression to the salt-first form by
    # inspecting its plan: a regression back to the suffix-salt
    # (xxhash64(w, 1) — a pure function of xxhash64(w) under the fold)
    # is otherwise invisible to black-box tests, since engineering an
    # xxhash64 collision to expose it is infeasible
    probe = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    plan = (
        exact_substring_pairs(probe, k=2)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    import re

    assert re.search(r"xxhash64\(1,", plan), plan  # salt-first present
    assert not re.search(r"xxhash64\(\w+#\d+, 1\)", plan), plan  # no suffix salt

    docs = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, None), (4, "a b"), (5, "a b")],
        "doc_id long, text string",
    )
    got = {
        (r2["doc_a"], r2["doc_b"])
        for r2 in exact_substring_pairs(docs, k=1).collect()
    }
    # blank/NULL docs pair with nothing; the real shared window pairs
    assert got == {(4, 5)}


def test_exact_substring_pairs_vs_bruteforce_reference(spark):
    """Randomized cross-check: the operator's (pair → shared-window
    count) map must equal a brute-force Python reference on corpora
    with engineered overlap (shared spans spliced between random
    docs). Deterministic seeds; k below/at/above span lengths."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.dedup import (
        exact_substring_pairs,
    )

    rng = np.random.default_rng(77)
    vocab = [f"v{i}" for i in range(40)]

    def rand_toks(n):
        return [vocab[i] for i in rng.integers(0, len(vocab), n)]

    for k in (3, 5, 8):
        docs_toks = {}
        for d in range(12):
            docs_toks[d] = rand_toks(int(rng.integers(5, 25)))
        # splice shared spans into some pairs
        for a, b, span_len in ((0, 1, 9), (2, 3, 5), (4, 5, 3)):
            span = rand_toks(span_len)
            docs_toks[a] = docs_toks[a][:2] + span + docs_toks[a][2:]
            docs_toks[b] = span + docs_toks[b][:4]

        expect = {}
        wins = {
            d: {
                tuple(t[i : i + k])
                for i in range(len(t) - k + 1)
            }
            for d, t in docs_toks.items()
        }
        for a in wins:
            for b in wins:
                if a < b and wins[a] & wins[b]:
                    expect[(a, b)] = len(wins[a] & wins[b])

        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs_toks.items()],
            "doc_id long, text string",
        )
        got = {
            (r["doc_a"], r["doc_b"]): r["n_shared_windows"]
            for r in exact_substring_pairs(df, k=k).collect()
        }
        assert got == expect, f"k={k}"


def test_resize_stub_raises_without_fake():
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.multimodal import (
        resize_image_batch,
    )

    with pytest.raises(NotImplementedError):
        resize_image_batch(pd.Series([b"abc"]), 8, 8)


def test_media_resize_pipeline(spark):
    """media_resize: Arrow-batched resize stage appends (resized,
    out_width, out_height); output bytes bounded by the target area;
    deterministic."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.multimodal import (
        media_from_documents,
        media_resize,
    )

    m = media_from_documents(spark, SF).limit(50)
    out = media_resize(m, width=16, height=16, fake=True)
    pdf = out.select(
        "media_id", "n_bytes", "out_width", "out_height",
        F.length("resized").alias("n_out"),
    ).toPandas()
    assert (pdf.out_width == 16).all() and (pdf.out_height == 16).all()
    cap = 16 * 16 // 64
    assert (pdf.n_out <= pdf.n_bytes.clip(upper=cap)).all()
    again = media_resize(m, width=16, height=16, fake=True)
    pd.testing.assert_frame_equal(
        pdf,
        again.select(
            "media_id", "n_bytes", "out_width", "out_height",
            F.length("resized").alias("n_out"),
        ).toPandas(),
    )


def test_embed_media_bridges_into_ann_stack(spark):
    """embed_media produces the array<float> the similarity/PQ stack
    consumes: unit-norm embeddings, NULL for empty blobs, and the
    whole media → embed → PQ-encode → ADC-score chain runs."""
    import numpy as np

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
        pq,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.multimodal import (
        embed_media,
        media_from_documents,
    )

    m = media_from_documents(spark, SF)
    e = embed_media(m, dim=64)
    rows = e.limit(20).collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        assert v.shape == (64,) and abs(np.linalg.norm(v) - 1.0) < 1e-6
    # identical bytes → identical embedding (deterministic featurizer)
    again = {r["media_id"]: r["embedding"] for r in e.limit(20).collect()}
    assert all(
        np.array_equal(again[r["media_id"]], r["embedding"]) for r in rows
    )
    # the bridge: PQ codebooks train on it and encode it — media rows
    # are now first-class citizens of the ANN stack
    clear_intermediate_caches()
    books = pq.train_pq_codebooks(
        e.withColumnRenamed("media_id", "vec_id"), m=8, ksub=16,
        corpus_id="media#bridge",
    )
    clear_intermediate_caches()
    coded = pq.pq_encode(e, books)
    got = coded.filter(F.col("pq_code").isNotNull()).limit(5).collect()
    assert all(len(r["pq_code"]) == 8 for r in got)
    # NULL/empty blobs embed to NULL
    empty = spark.createDataFrame(
        [(1, b""), (2, None), (3, b"xyz")],
        "media_id long, blob binary",
    )
    got = {r["media_id"]: r["embedding"] for r in embed_media(empty).collect()}
    assert got[1] is None and got[2] is None and got[3] is not None


def test_embed_media_validates_dim():
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.multimodal import (
        embed_media,
    )

    with pytest.raises(ValueError, match="divide 256"):
        embed_media(None, dim=60)
