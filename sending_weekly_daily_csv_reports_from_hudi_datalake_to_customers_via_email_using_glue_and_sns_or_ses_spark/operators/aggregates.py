"""Aggregation operators (SURVEY.md §2.7 X1/X2/X6).

The reference's transform slot accepts arbitrary Spark SQL
(template.py:319-322), so group-by aggregation is part of its declared
capability; these give it first-class named coverage.

Scale notes: every groupBy here is a partial-aggregate (map-side
combine) + final aggregate — Spark does that automatically for all
built-in aggregates, so the shuffle carries pre-aggregated rows keyed by
the (low-cardinality) group keys, not raw data. That is the right shape
at 100 TB. Money sums go through decimal(18,2) so the DuckDB oracle is
bit-identical (double only at the very end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from . import query, session_memo


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
                          * CAST(1 + CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical scan→filter→groupBy→8 aggregates.
    Whole plan stays in WholeStageCodegen; shipdate filter pushes to
    parquet. Averages are computed as exact-decimal sum ÷ count so both
    engines produce the identical double.

    Cross-engine float discipline for the 3-factor charge (pinned by
    the r4 organic-x4 parity run, which caught a last-ulp divergence):
    the naive (18,2)×(19,2)×(19,2) chain overflows decimal width 38,
    and each engine then takes a DIFFERENT precision-reduction path.
    The disc_price intermediate is therefore cast down to DECIMAL(18,4)
    and the tax factor to DECIMAL(4,2) — both exact, the VALUES are
    tiny; only the static types overflowed — so the whole chain stays
    exact on both engines. Money sums are additionally round()ed to
    scale 2 BEFORE the double cast: a scale-6 sum numerator can exceed
    2^53 where DuckDB's decimal→double path double-rounds; at scale 2
    both engines convert exactly."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (1 - _dec("l_discount"))
    charge = disc_price.cast("decimal(18,4)") * (
        (F.lit(1) + _dec("l_tax")).cast("decimal(4,2)")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias(
            "avg_price"
        ),
        (F.sum(_dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("cube_rollup_revenue", oracle=_CUBE_SQL)
def cube_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 in one statement: CUBE(status, priority) materializes all four
    grouping sets — {(status,priority), (status), (priority), ()} — i.e.
    a strict superset of ROLLUP's sets plus the explicit-GROUPING-SETS
    shape, with grouping() flags disambiguating subtotal rows from
    genuine NULL keys. Spark expands grouping sets in a single
    Expand+Aggregate — no extra scans. SQL-string path: the reference's
    transform slot (template.py:319-322) accepts exactly this. Only the
    one table the statement reads is registered — register_testdata
    would schema-read all 10 (and flip the events nanos conf) for
    nothing."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CUBE_SQL)


@query(
    "approx_aggregates",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders_exact,
           TRUE AS hll_within_10pct,
           TRUE AS p50_rank_ok,
           TRUE AS p95_rank_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: sketch-based aggregates — approx_count_distinct (HLL++) and
    percentile_approx (KLL-style) — validated against their error
    contracts INSIDE the query, which makes the nondeterministic sketch
    hash-checkable: the oracle asserts the exact distinct count plus
    literal-TRUE tolerance flags; if Spark's sketches drift outside
    tolerance the booleans flip and the value hash fails.

      * hll_within_10pct: |approx − exact| / exact ≤ 0.10 (rsd 0.02)
      * p50/p95_rank_ok: the exact fraction of rows ≤ the approximate
        percentile lands within ±0.05/±0.03 of the target rank

    At 100 TB these sketches are the *only* sane distinct-count/quantile
    plans: constant memory per group, one pass, mergeable partials.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # cached per (applicationId, sf_dir): the persist has three
    # consumers (broadcast rank probe + final join) — without it the
    # countDistinct + two percentile sketches rerun and lineitem is
    # scanned three times; the cache keeps REPEAT invocations (bench
    # best-of-2, long driver sessions) from stacking a new
    # session-lifetime block per call
    sketch = session_memo(
        spark,
        "approx_sketch",
        sf_dir,
        lambda: li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders_exact"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95_approx"),
        )
        .persist(),
    )
    ranks = (
        li.join(F.broadcast(sketch), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.when(F.col("l_extendedprice") <= F.col("p50_approx"), 1).otherwise(0))
                / F.count("*")
            ).alias("frac50"),
            (
                F.sum(F.when(F.col("l_extendedprice") <= F.col("p95_approx"), 1).otherwise(0))
                / F.count("*")
            ).alias("frac95"),
        )
    )
    return (
        sketch.join(ranks, "l_returnflag")
        .select(
            "l_returnflag",
            "n_orders_exact",
            (
                F.abs(F.col("approx_orders") - F.col("n_orders_exact"))
                / F.col("n_orders_exact")
                <= 0.10
            ).alias("hll_within_10pct"),
            F.col("frac50").between(0.45, 0.55).alias("p50_rank_ok"),
            F.col("frac95").between(0.92, 0.98).alias("p95_rank_ok"),
        )
    )


@query(
    "pivot_unpivot",
    retired=True,  # r7: slot funded shared_substring_runs; the pivot/
    # unpivot primitives stay value-checked by test_retired_parity
    oracle="""
    SELECT l_returnflag, 'O' AS linestatus,
           CAST(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT l_returnflag, 'F' AS linestatus,
           CAST(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no discovery scan — at scale,
    always pass the values so Spark skips the extra distinct job), then
    unpivot (melt) straight back to (key, measure, value) rows — both
    reshape operators in one plan, value-identical to the flat
    conditional aggregation the oracle computes."""
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        # a coalesce INSIDE the pivot agg is ineffective — Spark's
        # two-phase PivotFirst rewrite fills absent (group, value)
        # cells with NULL after the agg runs; zero-fill must happen on
        # the pivoted columns to match the oracle's coalesce(..., 0)
        .fillna(0.0, subset=["O", "F"])
    )
    return (
        pivoted.unpivot(
            ids=["l_returnflag"],
            values=["O", "F"],
            variableColumnName="linestatus",
            valueColumnName="qty",
        )
    )


@query(
    "salted_heavy_hitter_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def salted_heavy_hitter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant aggregation by salting: l_returnflag has only 3
    values (extreme key skew — at 100 TB each key is one giant reducer).
    Phase 1 aggregates (key, salt) over 16 salts, spreading each hot key
    across 16 tasks; phase 2 merges the 48 partials. Result is provably
    identical to the plain GROUP BY — which is exactly what the oracle
    checks. (Spark's partial aggregation often hides this problem for
    algebraic aggs; salting is the general fix, e.g. for
    collect_list/distinct-style states.)"""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("__salt", F.pmod(F.xxhash64("l_orderkey"), 16))
    phase1 = salted.groupBy("l_returnflag", "__salt").agg(
        F.sum(_dec("l_quantity")).alias("qty_part"),
        F.count("*").alias("n_part"),
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("qty_part").cast("double").alias("total_qty"),
        F.sum("n_part").alias("n"),
    )


@query(
    "profile_columns",
    retired=True,  # r7: slot funded remove_shared_substrings; X1's
    # multi-aggregate shape stays green via q1_pricing_summary and
    # salted_heavy_hitter_agg, and this entry via test_retired_parity
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_rows,
           count(c_name) AS name_nonnull,
           count(DISTINCT c_nationkey) AS nation_distinct,
           CAST(min(c_acctbal) AS DOUBLE) AS bal_min,
           CAST(max(c_acctbal) AS DOUBLE) AS bal_max,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum,
           CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS bal_negative
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-stratum data profiling (X1's multi-aggregate shape:
    count / count-distinct / min / max / decimal sum, plus null counts
    and rule violations) — the data-quality gate a pipeline runs before
    training ingestion. min/max of raw doubles are order-independent
    picks of stored values → exact parity; a single scan + aggregate."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.count("c_name").alias("name_nonnull"),
        F.countDistinct("c_nationkey").alias("nation_distinct"),
        F.min("c_acctbal").alias("bal_min"),
        F.max("c_acctbal").alias("bal_max"),
        F.sum(_dec("c_acctbal")).cast("double").alias("bal_sum"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("bal_negative"),
    )


@query(
    "daily_value_outliers",
    retired=True,  # r7: slot funded decontaminate_fuzzy; the window/
    # agg primitives stay driver-green elsewhere (window_frames,
    # q1_pricing_summary), this entry via test_retired_parity
    oracle="""
    WITH stats AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS ss,
             count(*) AS n
      FROM events GROUP BY day
    ), scored AS (
      SELECT e.event_id, CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS day, e.value,
             (e.value - st.s / st.n)
               / nullif(sqrt((st.ss - st.s * st.s / st.n) / (st.n - 1)), 0) AS z
      FROM events e JOIN stats st ON CAST(date_trunc('day', e.ts) AS TIMESTAMP) = st.day
      WHERE st.n > 1
    )
    SELECT event_id, day, CAST(value AS DOUBLE) AS value,
           CAST(round(z, 3) AS DOUBLE) AS z_score
    FROM scored WHERE abs(z) > 3.0
    """,
)
def daily_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day z-score outliers over event values — the drift/anomaly
    gate. Mean/std are derived from EXACT decimal sums (sum, sum-of-
    squares), so both engines compute identical doubles and the z-score
    comparison is reproducible (stddev_samp's float accumulation order
    would not be). Broadcast join of per-day stats back onto events."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    dec = F.col("value").cast("decimal(18,6)")
    stats = e.groupBy("day").agg(
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
        F.count("*").alias("n"),
    ).filter(F.col("n") > 1)
    mean = F.col("s") / F.col("n")
    std = F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1))
    # zero-variance day guard: std = 0 would throw DIVIDE_BY_ZERO under
    # ANSI mode (Spark 4 default); the CASE makes z NULL there so the
    # |z| filter drops the rows — the same NULL semantics the oracle's
    # nullif produces
    z = F.when(std != 0, (F.col("value") - mean) / std)
    return (
        e.join(F.broadcast(stats), "day")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3.0)
        .select(
            "event_id",
            "day",
            "value",
            F.round("z", 3).cast("double").alias("z_score"),
        )
    )
