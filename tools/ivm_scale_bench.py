"""Join-IVM maintenance cost at scale (VERDICT r7 #1, measured):
does maintaining the reference's report — a grouped aggregate over
orders ⋈ customers (template.py:485-490) — via
MaintainedJoinAggregate actually cost O(changed rows), while the
reference's per-run recompute costs O(table)?

Protocol, at sf0.1 and at organic xN (fresh-draw data from
tools/gen_organic_sf.build_organic — not replicated copies):

1. Seed a FACT KeyedTable from orders (unique key fk; join key
   jk = o_custkey % 997; measure price as decimal(18,2) — exact IVM
   arithmetic; layout PARTITIONED by jkb = jk % 32, the join-key
   bucketing the dim term's pruning claim depends on) and a DIM
   KeyedTable from customer (record key jk, precombine c_custkey,
   attr seg); rebuild the maintained (count, sum) view from the
   joined snapshot.
2. FACT-ONLY window: upsert a FIXED 2,000-row price-update batch
   (same absolute size at every scale — the nightly-churn shape) and
   time the apply: ΔF ⋈ D₁ + fold, O(window + |groups|).
3. DIM window: upsert a FIXED 20-key segment rewrite and time the
   apply twice —
   a. fact_base = the full fact snapshot (the layout-agnostic form:
      the F₀ ⋈ ΔD term scans the fact table);
   b. fact_base = the snapshot pre-filtered by the changed keys'
      jkb partitions + jk list (semantically the same semi-join —
      only fact rows whose jk changed participate — but the literal
      IN filter lets parquet partition pruning cut the scan to the
      touched directories: the 'on a join-key-partitioned layout the
      dim term is a touched-files read' claim, measured).
4. FULL RECOMPUTE baseline after each window: the reference's shape —
   re-join both snapshots and re-aggregate (written to a noop-style
   parquet target so the whole plan executes).
5. Exact-parity assert: the maintained view equals the recompute after
   EVERY window (decimal sums — bit-exact), at both scales.

Prints one JSON line: absolute seconds at base and xN plus the xN/base
slope per operation. The claim to check: recompute slope tracks the
data (≈N), maintenance slopes stay near 1 (fixed window, |groups|
fixed), and the pruned dim term beats the unpruned one.

Bench-only tooling: correctness gates still run on the driver's
read-only testdata.

Usage: python tools/ivm_scale_bench.py [N]   (default N=10)
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (  # noqa: E402
    get_spark,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.catalog import (  # noqa: E402
    load_table,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.ivm import (  # noqa: E402
    MaintainedJoinAggregate,
    MaintainedStarAggregate,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.upsert import (  # noqa: E402
    KeyedTable,
)
from tools.gen_organic_sf import build_organic  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
N_DIM_KEYS = 997
N_BUCKETS = 32
FACT_WINDOW = 2_000  # fixed absolute churn per run, every scale
DIM_WINDOW = 20


def _sources(spark: SparkSession, sf_dir: str):
    fact_src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("fk"),
        F.lit(0).cast("long").alias("fpre"),
        (F.col("o_custkey") % N_DIM_KEYS).cast("int").alias("jk"),
        ((F.col("o_custkey") % N_DIM_KEYS) % N_BUCKETS)
        .cast("int")
        .alias("jkb"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    dim_src = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % N_DIM_KEYS).cast("int").alias("jk"),
        F.col("c_custkey").cast("long").alias("dpre"),
        F.col("c_mktsegment").alias("seg"),
    )
    return fact_src, dim_src


def _recompute(view, fact, dim, out_dir: str) -> float:
    """The reference's per-run shape: full join + aggregate, executed
    end-to-end into parquet."""
    t0 = time.time()
    view.joined(fact.snapshot(), {"dim": dim.snapshot()}).groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").alias("sum_price"),
    ).write.mode("overwrite").parquet(out_dir)
    return time.time() - t0


def _assert_parity(view, fact, dim) -> None:
    got = sorted(
        (r["seg"], r["n_rows"], str(r["sum_price"]))
        for r in view.current()
        .select("seg", "n_rows", "sum_price")
        .collect()
    )
    want = sorted(
        (r["seg"], r["n_rows"], str(r["sum_price"]))
        for r in view.joined(fact.snapshot(), {"dim": dim.snapshot()})
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").alias("sum_price"),
        )
        .collect()
    )
    assert got == want, f"maintained view diverged: {got[:3]} vs {want[:3]}"


def run_scale(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    work = tempfile.mkdtemp(prefix=f"ivmscale_{tag}_")
    fact_src, dim_src = _sources(spark, sf_dir)
    fact = KeyedTable(
        spark,
        f"{work}/fact",
        record_key="fk",
        precombine="fpre",
        partition_cols=["jkb"],
        keep_versions=10,
    )
    dim = KeyedTable(
        spark,
        f"{work}/dim",
        record_key="jk",
        precombine="dpre",
        keep_versions=10,
    )
    out: dict = {"n_fact_rows": fact_src.count()}

    t0 = time.time()
    f1 = fact.upsert(fact_src)
    d1 = dim.upsert(dim_src)
    out["seed_tables_sec"] = round(time.time() - t0, 2)

    view = MaintainedJoinAggregate(
        spark,
        f"{work}/view",
        on=("jk", "jk"),
        group_cols=["seg"],
        sum_cols=["price"],
    )
    t0 = time.time()
    view.rebuild(
        view.joined(fact.snapshot(), {"dim": dim.snapshot()}),
        through={"fact": f1, "dim": d1},
    )
    out["seed_view_sec"] = round(time.time() - t0, 2)

    # ---- fact-only window: FIXED 2k price updates -------------------
    upd = (
        fact.snapshot()
        .orderBy("fk")
        .limit(FACT_WINDOW)
        .select(
            "fk",
            F.lit(1).cast("long").alias("fpre"),
            "jk",
            "jkb",
            (F.col("price") + F.lit(7.50).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("price"),
        )
    )
    f2 = fact.upsert(upd)
    t0 = time.time()
    dim_states = {"dim": lambda t: dim.snapshot(as_of=t)}
    view.apply(
        fact.cdc(begin=f1, end=f2),
        {"dim": None},
        dim_states=dim_states,
        through={"fact": f2, "dim": d1},
    )
    out["apply_fact_window_sec"] = round(time.time() - t0, 2)
    _assert_parity(view, fact, dim)
    out["recompute_sec"] = round(
        _recompute(view, fact, dim, f"{work}/recompute1"), 2
    )

    # ---- dim window: FIXED 20-key segment rewrite -------------------
    changed = list(range(1, 1 + DIM_WINDOW))
    d2 = dim.upsert(
        spark.createDataFrame(
            [(k, 10**12 + k, "REWRITTEN") for k in changed],
            "jk int, dpre long, seg string",
        )
    )
    # (a) layout-agnostic: full fact snapshot as F0
    t0 = time.time()
    view.apply(
        None,
        {"dim": dim.cdc(begin=d1, end=d2)},
        dim_states=dim_states,
        fact_base=lambda: fact.snapshot(as_of=f2),
        through={"fact": f2, "dim": d2},
    )
    out["apply_dim_window_fullscan_sec"] = round(time.time() - t0, 2)
    _assert_parity(view, fact, dim)

    # (b) pruned: same semi-join pre-applied as a literal filter so the
    # partitioned layout's directory pruning fires
    changed2 = [k + DIM_WINDOW for k in changed]
    d3 = dim.upsert(
        spark.createDataFrame(
            [(k, 10**12 + k, "REWRITTEN2") for k in changed2],
            "jk int, dpre long, seg string",
        )
    )
    jkbs = sorted({k % N_BUCKETS for k in changed2})
    t0 = time.time()
    view.apply(
        None,
        {"dim": dim.cdc(begin=d2, end=d3)},
        dim_states=dim_states,
        fact_base=lambda: fact.snapshot(as_of=f2).filter(
            F.col("jkb").isin(jkbs) & F.col("jk").isin(changed2)
        ),
        through={"fact": f2, "dim": d3},
    )
    out["apply_dim_window_pruned_sec"] = round(time.time() - t0, 2)
    _assert_parity(view, fact, dim)
    out["recompute2_sec"] = round(
        _recompute(view, fact, dim, f"{work}/recompute2"), 2
    )

    shutil.rmtree(work, ignore_errors=True)
    return out




# ---- star class (r9, VERDICT r8 #5): the 2-dim telescoped fold ------
N_PART_KEYS = 127
PART_WINDOW = 10


def _star_sources(spark: SparkSession, sf_dir: str):
    fact_src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("fk"),
        F.lit(0).cast("long").alias("fpre"),
        (F.col("o_custkey") % N_DIM_KEYS).cast("int").alias("ck"),
        (F.col("o_orderkey") % N_PART_KEYS).cast("int").alias("pk"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cust_src = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % N_DIM_KEYS).cast("int").alias("ck"),
        F.col("c_custkey").cast("long").alias("cpre"),
        F.col("c_mktsegment").alias("seg"),
    )
    part_src = load_table(spark, sf_dir, "part").select(
        (F.col("p_partkey") % N_PART_KEYS).cast("int").alias("pk"),
        F.col("p_partkey").cast("long").alias("ppre"),
        F.col("p_brand").alias("cat"),
    )
    return fact_src, cust_src, part_src


def _nulls_first(t):
    # the LEFT star's NULL attribute groups must sort (None vs str)
    return tuple((v is not None, v) for v in t)


def _star_assert_parity(view, fact, cust, part) -> None:
    got = sorted(
        (
            (r["seg"], r["cat"], r["n_rows"], str(r["sum_price"]))
            for r in view.current()
            .select("seg", "cat", "n_rows", "sum_price")
            .collect()
        ),
        key=_nulls_first,
    )
    want = sorted(
        (
            (r["seg"], r["cat"], r["n_rows"], str(r["sum_price"]))
            for r in view.joined(
                fact.snapshot(),
                {"cust": cust.snapshot(), "part": part.snapshot()},
            )
            .groupBy("seg", "cat")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("price").alias("sum_price"),
            )
            .collect()
        ),
        key=_nulls_first,
    )
    assert got == want, f"star view diverged: {got[:3]} vs {want[:3]}"


def run_scale_star(
    spark: SparkSession, sf_dir: str, tag: str, how: str = "inner"
) -> dict:
    """The star (fact ⋈ cust ⋈ part) class at one scale: seed, a FIXED
    fact-only window, a FIXED both-dims window-set (the telescoped
    old/new pinning with TWO changed sides in one fold), parity after
    every window, and the full-recompute baseline.

    ``how="left"`` (r10) measures the OUTER star: the dims seed with
    only the EVEN half of their key domains, so half the fact rows
    live in NULL attribute groups and the both-dims window's odd-key
    rewrites drive the existence-counterweight migrations (rows
    leaving the NULL groups) — the left-specific term whose cost this
    lane isolates. Parity checks run against the view's own LEFT
    ``joined()`` recompute at every step."""
    work = tempfile.mkdtemp(prefix=f"ivmstar_{tag}_")
    fact_src, cust_src, part_src = _star_sources(spark, sf_dir)
    if how == "left":
        cust_src = cust_src.filter(F.col("ck") % 2 == 0)
        part_src = part_src.filter(F.col("pk") % 2 == 0)
    fact = KeyedTable(
        spark, f"{work}/fact", record_key="fk", precombine="fpre",
        keep_versions=10,
    )
    cust = KeyedTable(
        spark, f"{work}/cust", record_key="ck", precombine="cpre",
        keep_versions=10,
    )
    part = KeyedTable(
        spark, f"{work}/part", record_key="pk", precombine="ppre",
        keep_versions=10,
    )
    out: dict = {"n_fact_rows": fact_src.count()}
    t0 = time.time()
    f1 = fact.upsert(fact_src)
    c1 = cust.upsert(cust_src)
    p1 = part.upsert(part_src)
    out["seed_tables_sec"] = round(time.time() - t0, 2)

    view = MaintainedStarAggregate(
        spark,
        f"{work}/view",
        dims=[("cust", "ck", "ck"), ("part", "pk", "pk")],
        group_cols=["seg", "cat"],
        sum_cols=["price"],
        how=how,
    )
    t0 = time.time()
    view.rebuild(
        view.joined(
            fact.snapshot(),
            {"cust": cust.snapshot(), "part": part.snapshot()},
        ),
        through={"fact": f1, "cust": c1, "part": p1},
    )
    out["seed_view_sec"] = round(time.time() - t0, 2)

    dim_states = {
        "cust": lambda t: cust.snapshot(as_of=t),
        "part": lambda t: part.snapshot(as_of=t),
    }

    # ---- fact-only window: FIXED 2k price updates -------------------
    upd = (
        fact.snapshot()
        .orderBy("fk")
        .limit(FACT_WINDOW)
        .select(
            "fk",
            F.lit(1).cast("long").alias("fpre"),
            "ck",
            "pk",
            (F.col("price") + F.lit(7.50).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("price"),
        )
    )
    f2 = fact.upsert(upd)
    t0 = time.time()
    view.apply(
        fact.cdc(begin=f1, end=f2),
        {"cust": None, "part": None},
        dim_states=dim_states,
        through={"fact": f2, "cust": c1, "part": p1},
    )
    out["apply_fact_window_sec"] = round(time.time() - t0, 2)
    _star_assert_parity(view, fact, cust, part)

    # ---- BOTH-dims window-set: FIXED rewrites on each dimension -----
    c2 = cust.upsert(
        spark.createDataFrame(
            [(k, 10**12 + k, "REWRITTEN") for k in range(1, 1 + DIM_WINDOW)],
            "ck int, cpre long, seg string",
        )
    )
    p2 = part.upsert(
        spark.createDataFrame(
            [(k, 10**12 + k, "RW") for k in range(1, 1 + PART_WINDOW)],
            "pk int, ppre long, cat string",
        )
    )
    t0 = time.time()
    view.apply(
        None,
        {
            "cust": cust.cdc(begin=c1, end=c2),
            "part": part.cdc(begin=p1, end=p2),
        },
        dim_states=dim_states,
        fact_base=lambda: fact.snapshot(as_of=f2),
        through={"fact": f2, "cust": c2, "part": p2},
    )
    out["apply_both_dims_sec"] = round(time.time() - t0, 2)
    _star_assert_parity(view, fact, cust, part)

    t0 = time.time()
    view.joined(
        fact.snapshot(),
        {"cust": cust.snapshot(), "part": part.snapshot()},
    ).groupBy("seg", "cat").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").alias("sum_price"),
    ).write.mode("overwrite").parquet(f"{work}/recompute")
    out["recompute_sec"] = round(time.time() - t0, 2)

    shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2] if len(sys.argv) > 2 else "both"
    spark = get_spark(app_name="ivm-scale")
    organic = build_organic(spark, n)
    if only in ("both", "join"):
        base = run_scale(spark, BASE_SF, "base")
        spark.catalog.clearCache()
        big = run_scale(spark, organic, f"x{n}")
        slopes = {
            k: round(big[k] / base[k], 2)
            for k in (
                "apply_fact_window_sec",
                "apply_dim_window_fullscan_sec",
                "apply_dim_window_pruned_sec",
                "recompute_sec",
                "recompute2_sec",
            )
            if base[k] > 0
        }
        print(
            json.dumps(
                {
                    "metric": "ivm_join_scale",
                    "n": n,
                    "unit": "sec",
                    "base": base,
                    f"x{n}": big,
                    "slopes": slopes,
                }
            )
        )
    if only in ("both", "star"):
        if only == "star":
            # star-only runs lack the join pass's implicit JVM warmup;
            # without one the BASE measurement absorbs all codegen/
            # executor warmup and the slopes read nonsensically <1
            run_scale_star(spark, BASE_SF, "warmup")
        sbase = run_scale_star(spark, BASE_SF, "base")
        spark.catalog.clearCache()
        sbig = run_scale_star(spark, organic, f"x{n}")
        sslopes = {
            k: round(sbig[k] / sbase[k], 2)
            for k in (
                "apply_fact_window_sec",
                "apply_both_dims_sec",
                "recompute_sec",
            )
            if sbase[k] > 0
        }
        print(
            json.dumps(
                {
                    "metric": "ivm_star_scale",
                    "n": n,
                    "unit": "sec",
                    "base": sbase,
                    f"x{n}": sbig,
                    "slopes": sslopes,
                }
            )
        )
    if only == "left":
        # r10: the LEFT-outer star lane — NULL groups populated (dims
        # seed the even half of their key domains) and odd-key dim
        # rewrites drive the existence-counterweight migrations
        run_scale_star(spark, BASE_SF, "warmup", how="left")
        lbase = run_scale_star(spark, BASE_SF, "base", how="left")
        spark.catalog.clearCache()
        lbig = run_scale_star(spark, organic, f"x{n}", how="left")
        lslopes = {
            k: round(lbig[k] / lbase[k], 2)
            for k in (
                "apply_fact_window_sec",
                "apply_both_dims_sec",
                "recompute_sec",
            )
            if lbase[k] > 0
        }
        print(
            json.dumps(
                {
                    "metric": "ivm_star_left_scale",
                    "n": n,
                    "unit": "sec",
                    "base": lbase,
                    f"x{n}": lbig,
                    "slopes": lslopes,
                }
            )
        )


if __name__ == "__main__":
    main()
