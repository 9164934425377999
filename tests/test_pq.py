"""Product-quantization ANN (operators/pq.py): codebook determinism,
encode/decode laws, ADC recall vs the exact brute-force baseline, and
the IVF-PQ composition. Thresholds are MEASURED on this synthetic
near-unstructured corpus (recall ≈ candidate-pool fraction is the
random-data floor; ADC clears it several times over)."""

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
    clear_intermediate_caches,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
    pq,
)

SF = "/root/testdata/sf0.001"


def _recall(exact: pd.DataFrame, got: pd.DataFrame) -> float:
    rs = []
    for q in exact.query_id.unique():
        e = set(exact[exact.query_id == q].vec_id)
        g = set(got[got.query_id == q].vec_id)
        rs.append(len(e & g) / len(e))
    return sum(rs) / len(rs)


def test_codebooks_deterministic_and_shaped(spark):
    e = load_table(spark, SF, "embeddings")
    b1 = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    clear_intermediate_caches()
    b2 = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)


def test_train_rejects_bad_m(spark):
    e = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq.train_pq_codebooks(e, m=7, corpus_id=SF)
    with pytest.raises(ValueError, match="training sample"):
        pq.train_pq_codebooks(e, m=8, ksub=512, corpus_id=SF)


def test_encode_codes_in_range_and_null_safe(spark):
    e = load_table(spark, SF, "embeddings")
    books = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    with_null = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 7, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    coded = pq.pq_encode(with_null, books).select("vec_id", "pq_code")
    rows = {r["vec_id"]: r["pq_code"] for r in coded.collect()}
    assert rows[7] is None
    for vid, code in rows.items():
        if vid == 7:
            continue
        assert len(code) == 8
        assert all(0 <= c < 16 for c in code)


def test_decode_roundtrips_centroids_exactly(spark):
    """A vector that IS a codebook reconstruction encodes back to its
    own codes and decodes bit-identically — the quantizer's fixed-point
    law."""
    e = load_table(spark, SF, "embeddings")
    books = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    vec = np.concatenate([books[j][3] for j in range(8)]).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(1, vec.tolist())], "vec_id long, embedding array<float>"
    )
    out = pq.pq_decode(pq.pq_encode(df, books), books).collect()[0]
    assert list(out["pq_code"]) == [3] * 8
    assert np.allclose(out["pq_approx"], vec, atol=1e-6)


def test_decode_reconstruction_beats_trivial_baseline(spark):
    """Mean reconstruction error of the PQ-decoded corpus is well under
    the norm of the normalized vectors (=1): quantization keeps most of
    the signal. Guards against codebooks degenerating to a point."""
    e = load_table(spark, SF, "embeddings")
    books = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    out = pq.pq_decode(pq.pq_encode(e, books), books).select(
        "embedding", "pq_approx"
    )
    errs = []
    for r in out.limit(100).collect():
        x = np.asarray(r["embedding"], dtype=np.float64)
        x /= np.linalg.norm(x)
        errs.append(np.linalg.norm(x - np.asarray(r["pq_approx"])))
    assert np.mean(errs) < 0.8  # unit-norm vectors; 0-info would be ~sqrt(2)


def test_pq_recall_vs_bruteforce(spark):
    """ADC + exact refine recalls ≥ 50% of the true top-10 from a 10%
    candidate pool (measured 0.60; random-pool floor is 0.10)."""
    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    got = pq.pq_topk(spark, SF, refine=50).toPandas()
    assert _recall(exact, got) >= 0.5
    # output contract matches the brute-force entry
    assert list(got.columns) == ["query_id", "vec_id", "cosine", "rank"]
    assert (got.groupby("query_id").size() == 10).all()


def test_pq_recall_grows_with_refine(spark):
    """The refine knob is the recall/IO dial: a larger ADC pool can
    only add true neighbors (the exact re-rank is monotone in pool)."""
    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    small = pq.pq_topk(spark, SF, refine=20).toPandas()
    big = pq.pq_topk(spark, SF, refine=200).toPandas()
    assert _recall(exact, big) >= _recall(exact, small)
    assert _recall(exact, big) >= 0.8  # measured 0.93 at a 40% pool


def test_ivf_pq_recall(spark):
    """The composed IVF-PQ index (probe half the cells, ADC within)
    stays ≥ 40% recall — the IVF entry's own floor, so PQ compression
    costs little on top of cell pruning (measured 0.53)."""
    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    got = pq.ivf_pq_topk(spark, SF).toPandas()
    assert _recall(exact, got) >= 0.4


def test_zero_vector_in_sample_does_not_poison_codebooks(spark):
    """An all-zero embedding in the training sample must not NaN the
    codebooks (the clamp pq_encode uses applies to training too)."""
    e = load_table(spark, SF, "embeddings").withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 5,
            F.array(*[F.lit(0.0).cast("float")] * 64),
        ).otherwise(F.col("embedding")),
    )
    clear_intermediate_caches()
    books = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF + "#z")
    clear_intermediate_caches()
    assert np.isfinite(books).all()


def test_null_embeddings_are_skipped_by_adc_scan(spark):
    """A corpus row with NULL embedding codes to NULL and is dropped
    before the ADC scorer — the scan must not crash on mixed batches."""
    e = load_table(spark, SF, "embeddings")
    books = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    with_null = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 9, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    coded = pq.pq_encode(with_null, books).filter(
        F.col("pq_code").isNotNull()
    )
    qids, Qn = pq._query_matrix(e)
    luts = pq._adc_luts(Qn, books)
    adc = pq._adc_score_udf(
        luts, {int(v): i for i, v in enumerate(qids)}, 8
    )
    scored = (
        coded.crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(int(i),) for i in qids], "query_id long"
                )
            )
        )
        .select(adc(F.col("query_id"), F.col("pq_code")).alias("s"))
        .agg(F.count("*").alias("n"))
        .collect()[0]
    )
    # 500 rows - 1 NULL, × 3 queries
    assert scored["n"] == (500 - 1) * 3


def test_pq_deterministic_end_to_end(spark):
    a = pq.pq_topk(spark, SF).toPandas()
    b = pq.pq_topk(spark, SF).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_ivf_pq_partitioned_layout_prunes_and_recalls(spark, tmp_path):
    """IVF-PQ production story: codes written partitionBy(cell), probe
    prunes at the file-listing level (PartitionFilters), codebooks load
    back from the layout, and recall holds through the round trip."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.plans.explain import (
        physical_plan,
    )

    out = str(tmp_path / "ivfpq")
    cent, books = pq.ivf_pq_write_partitioned(spark, SF, out)
    # cent=None AND books=None: a fresh process probes the layout from
    # its persisted quantizers alone, zero retraining
    df = pq.ivf_pq_probe_partitioned(spark, SF, out)
    plan = physical_plan(df)
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines, plan
    assert "cell" in scan_lines[0] and "IN" in scan_lines[0]
    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    got = df.toPandas()
    assert _recall(exact, got) >= 0.4
    # the layout stores ONLY the compressed index (no raw vectors)
    cols = set(spark.read.parquet(out).columns)
    assert cols == {"vec_id", "pq_code", "cell"}


def test_codebook_roundtrip_and_header_check(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    books = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    p = str(tmp_path / "books.json")
    pq.save_pq_codebooks(books, p)
    back = pq.load_pq_codebooks(p)
    assert np.array_equal(books, back)
    import json

    doc = json.load(open(p))
    doc["ksub"] = 99  # corrupt the header
    json.dump(doc, open(p, "w"))
    with pytest.raises(ValueError, match="disagrees"):
        pq.load_pq_codebooks(p)


def test_ivf_pq_append_equals_rebuild(spark, tmp_path):
    """Appending a batch into the layout with its persisted quantizers
    returns EXACTLY what a same-quantizer rebuild over the union
    returns — incremental maintenance never changes probe results."""
    e = load_table(spark, SF, "embeddings")
    half = e.filter((F.col("vec_id") % 2 == 0) | F.col("vec_id").isin(0, 1, 2))
    rest = e.filter((F.col("vec_id") % 2 == 1) & ~F.col("vec_id").isin(0, 1, 2))

    # build over half the corpus (quantizers train on the FULL table's
    # deterministic sample either way — sf_dir is the corpus id)
    grown = str(tmp_path / "grown")
    pq.ivf_pq_write_partitioned(spark, SF, grown)
    # rewrite the layout's data to only `half`, keeping its quantizers
    books, cent = pq.load_pq_codebooks(
        grown + "/_pq_books.json", with_centroids=True
    )
    import shutil

    for n in list(__import__("os").listdir(grown)):
        if n.startswith("cell="):
            shutil.rmtree(f"{grown}/{n}")
    pq.pq_encode(
        half.filter(~F.col("vec_id").isin(0, 1, 2)).withColumn(
            "cell", pq._ivf_cell_udf(cent)("embedding")
        ),
        books,
    ).select("vec_id", "cell", "pq_code").write.mode("append").partitionBy(
        "cell"
    ).parquet(grown)

    n = pq.ivf_pq_append(spark, rest, grown)
    assert n == rest.count()

    full = str(tmp_path / "full")
    pq.ivf_pq_write_partitioned(spark, SF, full)

    a = pq.ivf_pq_probe_partitioned(spark, SF, grown).toPandas()
    b = pq.ivf_pq_probe_partitioned(spark, SF, full).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values(["query_id", "rank"]).reset_index(drop=True),
        b.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )


def test_ivf_pq_append_requires_centroids(spark, tmp_path):
    import json
    import os

    e = load_table(spark, SF, "embeddings")
    out = str(tmp_path / "nocent")
    os.makedirs(out)
    books = pq.train_pq_codebooks(e, m=8, ksub=16, corpus_id=SF)
    pq.save_pq_codebooks(books, os.path.join(out, "_pq_books.json"))
    with pytest.raises(ValueError, match="no centroids"):
        pq.ivf_pq_append(spark, e.limit(1), out)


def test_ivf_pq_append_excludes_query_vectors(spark, tmp_path):
    """Re-ingesting a QUERY vector via append must not put it in the
    layout (the build path excludes it) — else query 0 returns itself
    at rank 1 and append≡rebuild breaks."""
    e = load_table(spark, SF, "embeddings")
    out = str(tmp_path / "qex")
    pq.ivf_pq_write_partitioned(spark, SF, out)
    before = spark.read.parquet(out).count()
    n = pq.ivf_pq_append(spark, e.filter(F.col("vec_id").isin(0, 1, 2)), out)
    assert n == 0
    assert spark.read.parquet(out).count() == before
    got = pq.ivf_pq_probe_partitioned(spark, SF, out).toPandas()
    assert not set(got.vec_id) & {0, 1, 2}


def test_resolve_refine_auto_scales_with_corpus():
    """refine='auto' (r9, VERDICT r8 #3): constant candidate-pool
    FRACTION with a floor — the dial the r8 measurement said to hold
    (recall tracks pool fraction, not absolute pool size)."""
    # floor regime: tiny corpora get max(50, 5k)
    assert pq.resolve_refine("auto", 200, k=10) == 50
    assert pq.resolve_refine("auto", 200, k=20) == 100
    # fraction regime: 2.5% of the corpus
    assert pq.resolve_refine("auto", 2_000, k=10) == 50
    assert pq.resolve_refine("auto", 20_000, k=10) == 500
    assert pq.resolve_refine("auto", 1_000_000, k=10) == 25_000
    # ints pass through; junk raises
    assert pq.resolve_refine(77, 10**9, k=10) == 77
    with pytest.raises(ValueError, match="auto"):
        pq.resolve_refine("plenty", 100, k=10)


@pytest.mark.skipif(
    not __import__("os").environ.get("SPARK_GRAFT_ORGANIC"),
    reason="organic x10 gate: set SPARK_GRAFT_ORGANIC=1 to run",
)
def test_pq_auto_refine_holds_recall_at_x10(spark):
    """The r8 finding, closed in code: a FIXED refine=50 decays from
    ~0.37 recall (x1, ~2k vectors) to ~0.23 at organic x10 (~20k),
    while refine='auto' (iso-fraction) must hold the x10 recall at or
    above the x1 floor with no manual dial."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.gen_organic_sf import build_organic

    sf1 = build_organic(spark, 1)
    sf10 = build_organic(spark, 10)

    def recall_at(sf_dir, refine):
        clear_intermediate_caches()
        exact = QUERIES["knn_bruteforce"](spark, sf_dir).toPandas()
        got = pq.ivf_pq_topk(spark, sf_dir, refine=refine).toPandas()
        return _recall(exact, got)

    r1_auto = recall_at(sf1, "auto")
    r10_fixed = recall_at(sf10, 50)
    r10_auto = recall_at(sf10, "auto")
    # the auto dial holds at scale: x10 recall >= the x1 floor, and
    # strictly beats the fixed-pool decay
    assert r10_auto >= r1_auto - 1e-9, (r1_auto, r10_auto)
    assert r10_auto > r10_fixed, (r10_fixed, r10_auto)


def test_resolve_nprobe_and_cells_auto(spark):
    """r10 (VERDICT r9 #7): nprobe='auto' holds the probed-cell
    FRACTION constant (floor 8, clamped to K); K='auto' sizes cells to
    a bounded row target; both reject junk."""
    import pytest

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
        pq,
    )

    assert pq.resolve_nprobe(3, 16) == 3          # explicit passes through
    assert pq.resolve_nprobe("auto", 16) == 8     # the x1 operating point
    assert pq.resolve_nprobe("auto", 160) == 80   # iso-fraction at 10× K
    assert pq.resolve_nprobe("auto", 4) == 4      # floor clamps to K
    with pytest.raises(ValueError, match="nprobe"):
        pq.resolve_nprobe(None, 16)

    assert pq.resolve_cells(16, 999) == 16
    assert pq.resolve_cells("auto", 2_000) == 16          # floor
    assert pq.resolve_cells("auto", 200_000) == 100       # n / 2000
    assert pq.resolve_cells("auto", lambda: 400_000) == 200  # lazy count
    with pytest.raises(ValueError, match="K="):
        pq.resolve_cells(2.5, 10)


def test_ivf_pq_topk_all_dials_auto_matches_recall(spark):
    """Both dials on auto must not regress recall at the base scale —
    the auto operating point equals the previous fixed one there."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
        pq,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.similarity import (
        knn_bruteforce,
    )

    sf = "/root/testdata/sf0.001"
    exact = {}
    for r in knn_bruteforce(spark, sf).select(
        "query_id", "vec_id"
    ).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    df = pq.ivf_pq_topk(spark, sf, K="auto", nprobe="auto", refine="auto")
    for r in df.select("query_id", "vec_id").collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.5


def test_centroid_trainer_sample_scales_with_k(spark):
    """r10 review: the IVF trainer's sample scales with K (max(256,
    4K)) — a K above the old fixed 256-row sample no longer silently
    collapses to 256 centroids, and a K above the corpus clamps to the
    corpus size."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.catalog import (
        load_table,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.similarity import (
        _train_ivf_centroids,
    )

    e = load_table(spark, SF, "embeddings")
    cent = _train_ivf_centroids(e, K=300, corpus_id=f"{SF}#k300")
    n = e.count()
    assert cent.shape[0] == min(300, n)
    assert cent.shape[0] > 256 or n <= 256


# -- r11: index maintenance under deletes + re-cluster (VERDICT r10 #2) --


def _probe_frame(spark, path):
    return (
        pq.ivf_pq_probe_partitioned(spark, SF, path)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_ivf_pq_delete_equals_rebuild_without_victims(spark, tmp_path):
    """delete ≡ rebuild: removing ids from the layout returns EXACTLY
    what a same-quantizer rebuild over the survivors returns — probes
    never see deleted ids and survivor ranking is bit-identical (the
    append≡rebuild contract's mirror image)."""
    import os
    import shutil

    e = load_table(spark, SF, "embeddings")
    live = str(tmp_path / "live")
    pq.ivf_pq_write_partitioned(spark, SF, live)
    # victims: ids currently IN probe results, so the assertion bites
    before = _probe_frame(spark, live)
    victims = sorted(set(before.vec_id))[:5]

    n = pq.ivf_pq_delete(spark, victims, live)
    assert n == 5
    after = _probe_frame(spark, live)
    assert not set(after.vec_id) & set(victims)

    # manual rebuild from survivors with the SAME persisted quantizers
    ref = str(tmp_path / "ref")
    pq.ivf_pq_write_partitioned(spark, SF, ref)
    books, cent = pq.load_pq_codebooks(
        os.path.join(ref, "_pq_books.json"), with_centroids=True
    )
    for d in list(os.listdir(ref)):
        if d.startswith("cell="):
            shutil.rmtree(os.path.join(ref, d))
    pq.pq_encode(
        e.filter(~F.col("vec_id").isin(*pq._QUERY_IDS))
        .filter(~F.col("vec_id").isin(*victims))
        .withColumn("cell", pq._ivf_cell_udf(cent)("embedding")),
        books,
    ).select("vec_id", "cell", "pq_code").write.mode("append").partitionBy(
        "cell"
    ).parquet(ref)
    pd.testing.assert_frame_equal(after, _probe_frame(spark, ref))


def test_ivf_pq_delete_rewrites_only_touched_cells(spark, tmp_path):
    """The write-amplification bound: deleting ids that live in ONE
    cell leaves every other cell's files untouched on disk, and
    deleting every id in a cell removes its directory outright."""
    import os

    out = str(tmp_path / "wamp")
    pq.ivf_pq_write_partitioned(spark, SF, out)
    layout = spark.read.parquet(out).select("vec_id", "cell").toPandas()
    counts = layout.groupby("cell").size()
    victim_cell = int(counts.idxmin())
    victims = sorted(layout[layout.cell == victim_cell].vec_id)

    def files_of(cell):
        d = os.path.join(out, f"cell={cell}")
        return sorted(os.listdir(d)) if os.path.isdir(d) else None

    untouched = {
        int(c): files_of(int(c)) for c in counts.index if c != victim_cell
    }
    # partial delete: cell rewritten, siblings byte-for-byte untouched
    n = pq.ivf_pq_delete(spark, victims[:1], out)
    assert n == 1
    for c, before in untouched.items():
        assert files_of(c) == before
    # full-cell delete: the directory disappears
    n = pq.ivf_pq_delete(spark, victims[1:], out)
    assert n == len(victims) - 1
    assert files_of(victim_cell) is None
    for c, before in untouched.items():
        assert files_of(c) == before
    got = _probe_frame(spark, out)
    assert not set(got.vec_id) & set(victims)


def test_ivf_pq_delete_unknown_ids_noop(spark, tmp_path):
    out = str(tmp_path / "noop")
    pq.ivf_pq_write_partitioned(spark, SF, out)
    before = spark.read.parquet(out).count()
    assert pq.ivf_pq_delete(spark, [10**9, 10**9 + 1], out) == 0
    assert spark.read.parquet(out).count() == before


def test_ivf_pq_recluster_restores_cell_bounds(spark, tmp_path):
    """Append-heavy growth packs cells past the rows-per-cell target;
    recluster splits ONLY the oversized ones with the persisted
    quantizers: row-conservation, one cell per vector, a smaller max
    cell, updated centroids persisted, and probes (fresh process: all
    dials from the layout) still clear the recall floor."""
    import os

    out = str(tmp_path / "recl")
    pq.ivf_pq_write_partitioned(spark, SF, out, K=4)
    layout = spark.read.parquet(out)
    total = layout.count()
    counts_before = {
        r["cell"]: r["n"]
        for r in layout.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    target = max(10, int(max(counts_before.values()) // 3))
    report = pq.ivf_pq_recluster(spark, SF, out, rows_per_cell=target)
    assert report["split_cells"], counts_before
    assert report["rows_moved"] == sum(
        counts_before[c] for c in report["split_cells"]
    )

    after = spark.read.parquet(out)
    assert after.count() == total  # row conservation
    assert after.select("vec_id").distinct().count() == total  # one cell each
    counts_after = {
        r["cell"]: r["n"]
        for r in after.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    assert max(counts_after.values()) < max(counts_before.values())
    # unsplit cells kept their ids and exact counts
    for c, nb in counts_before.items():
        if c not in report["split_cells"]:
            assert counts_after[c] == nb
    # centroid table grew and persists beside the codes
    books, cent = pq.load_pq_codebooks(
        os.path.join(out, "_pq_books.json"), with_centroids=True
    )
    assert cent.shape[0] == report["new_cells"] > 4
    assert set(counts_after) <= set(range(cent.shape[0]))

    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    assert _recall(exact, _probe_frame(spark, out)) >= 0.4


def test_ivf_pq_recluster_noop_under_target(spark, tmp_path):
    import os

    out = str(tmp_path / "reclnoop")
    cent, _ = pq.ivf_pq_write_partitioned(spark, SF, out)
    mtime = os.path.getmtime(os.path.join(out, "_pq_books.json"))
    report = pq.ivf_pq_recluster(spark, SF, out, rows_per_cell=10**9)
    # new_cells always means the centroid-table size (r11 review: the
    # no-op path used to return 0, giving the field two meanings)
    assert report == {
        "split_cells": [],
        "new_cells": cent.shape[0],
        "rows_moved": 0,
    }
    assert os.path.getmtime(os.path.join(out, "_pq_books.json")) == mtime


def test_ivf_pq_recluster_orphaned_vectors_refuse(spark, tmp_path):
    """An indexed vector with no row in the primary embeddings table
    (deleted upstream without ivf_pq_delete) makes recluster REFUSE —
    an inner member join would silently drop it from the rewritten
    cell (r11 review)."""
    out = str(tmp_path / "orph")
    pq.ivf_pq_write_partitioned(spark, SF, out, K=4)
    layout = spark.read.parquet(out)
    total = layout.count()
    ghost = spark.createDataFrame(
        [(10**9, 0, bytearray(b"\x00" * 8))],
        "vec_id long, cell int, pq_code binary",
    )
    ghost.write.mode("append").partitionBy("cell").parquet(out)
    with pytest.raises(ValueError, match="ivf_pq_delete"):
        pq.ivf_pq_recluster(
            spark, SF, out, rows_per_cell=max(10, total // 12)
        )
    # the refused recluster mutated nothing
    assert spark.read.parquet(out).count() == total + 1


def test_ivf_pq_probe_scans_orphan_cells(spark, tmp_path):
    """Crash-window safety (r11 review): recluster writes data BEFORE
    centroids, so a crash between them leaves cells ≥ the persisted
    centroid table — the probe path must scan those unconditionally or
    the moved vectors are unsearchable until the next recluster."""
    import os

    out = str(tmp_path / "crashw")
    pq.ivf_pq_write_partitioned(spark, SF, out, K=4)
    books, cent_before = pq.load_pq_codebooks(
        os.path.join(out, "_pq_books.json"), with_centroids=True
    )
    total = spark.read.parquet(out).count()
    report = pq.ivf_pq_recluster(
        spark, SF, out, rows_per_cell=max(10, total // 12)
    )
    assert report["new_cells"] > 4
    # simulate the crash: data rewritten, centroid persist LOST
    pq.save_pq_codebooks(
        books, os.path.join(out, "_pq_books.json"),
        centroids=cent_before,
    )
    got = _probe_frame(spark, out)
    exact = QUERIES["knn_bruteforce"](spark, SF).toPandas()
    assert _recall(exact, got) >= 0.4  # moved vectors still searchable
    # and the orphan cells really were in the scan
    moved_cells = set(
        r["cell"]
        for r in spark.read.parquet(out)
        .select("cell").distinct().collect()
        if r["cell"] >= cent_before.shape[0]
    )
    assert moved_cells, "recluster should have created new cells"


@pytest.mark.slow
def test_ivf_pq_append_after_recluster_routes_to_split_cells(
    spark, tmp_path
):
    """The maintenance ops compose: an append AFTER a recluster encodes
    against the post-split centroid table, so new vectors land in the
    refined geometry (cell ids may exceed the original K) and probes
    find them."""
    out = str(tmp_path / "cycle")
    pq.ivf_pq_write_partitioned(spark, SF, out, K=4)
    layout = spark.read.parquet(out)
    victims = [
        r["vec_id"]
        for r in layout.select("vec_id").orderBy("vec_id").limit(3).collect()
    ]
    max_cell = layout.groupBy().agg(F.max("cell").alias("m")).collect()[0]["m"]
    total = layout.count()  # before the rewrites invalidate the listing
    pq.ivf_pq_delete(spark, victims, out)
    report = pq.ivf_pq_recluster(
        spark, SF, out,
        rows_per_cell=max(10, (total // 4) // 3),
    )
    assert report["new_cells"] > 4
    e = load_table(spark, SF, "embeddings")
    back = e.filter(F.col("vec_id").isin(*victims))
    assert pq.ivf_pq_append(spark, back, out) == 3
    relisted = spark.read.parquet(out)
    assert relisted.filter(F.col("vec_id").isin(*victims)).count() == 3
    # at least some post-recluster routing uses the NEW cell ids
    assert (
        relisted.filter(F.col("cell") > max_cell).count() > 0
    )
    got = _probe_frame(spark, out)
    assert len(got) > 0
