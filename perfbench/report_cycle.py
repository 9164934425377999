"""The ``report_cycle`` workload: the paper's scheduled incremental
report, with writes beside reads.

One client, closed loop. Each cycle commits one seeded batch into the
``orders`` BucketedTable (and, every ``dim_every`` cycles, an attribute
change into the ``customers`` KeyedTable), then runs ``run_pipeline``
over INC ``orders`` and FULL ``customers`` (join + aggregate, one DQ
rule, CSV, delivery doubles, checkpoint) and ``run_maintained_join_report``
over the same tables. The seed load and ``warmup_cycles`` cycles (with
the seed, more than ``keep_versions`` commits, so the cleaner is in
steady state; the first cycle's reports also cover the seed) are
set-up; the cycles after them are timed until ``seconds`` have passed.

Every report is checked after the loop, outside timing: each INC report
holds exactly the orders committed since the previous one, grouped by
the customers' segment at that time; the final maintained view equals a direct join
recompute over the final snapshots (and a Python mirror of the tables);
and each non-empty run sent one email.
"""

from __future__ import annotations

import csv
import glob
import os
import statistics
import time
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (
    catalog,
    pipeline,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.delivery import (
    EmailSender,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
    ivm,
    quality,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.filegroups import (
    BucketedTable,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.upsert import (
    KeyedTable,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sources import (
    incremental,
)

from perfbench import gen, harness, trace

REPORT_SQL = """
SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders, SUM(o.o_amount) AS amount
FROM orders o JOIN customers c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""

#: the public calls the traced run wraps: (owner, attribute, span name)
LAYERS = [
    (BucketedTable, "upsert", "sinks.filegroups.upsert"),
    (KeyedTable, "upsert", "sinks.upsert.upsert"),
    (catalog.Catalog, "register", "catalog.register"),
    (catalog.Catalog, "sql", "catalog.sql"),
    (catalog.Catalog, "commit_incremental", "catalog.commit_incremental"),
    (incremental.IncrementalReader, "read", "sources.incremental.read"),
    (incremental.CDCReader, "read", "sources.incremental.cdc_read"),
    (quality, "expect", "operators.quality.expect"),
    (pipeline, "write_csv_report", "sinks.report.write_csv"),
    (pipeline, "deliver_report", "delivery.deliver"),
    (ivm.MaintainedJoinAggregate, "apply", "operators.ivm.apply"),
]

STEPS = ("commit", "report", "maintained")


class ReportCycle:
    def __init__(self, spark, tracer, work: str, seed: int, sizes: dict):
        self.spark = spark
        self.tracer = tracer
        self.inputs = gen.ReportCycleInputs(seed, sizes)
        self.fact = BucketedTable(
            spark,
            os.path.join(work, "orders"),
            record_key="o_orderkey",
            precombine="o_ver",
            num_buckets=sizes["num_buckets"],
            keep_versions=sizes["keep_versions"],
        )
        self.dim = KeyedTable(
            spark,
            os.path.join(work, "customers"),
            record_key="c_custkey",
            precombine="c_ver",
            keep_versions=sizes["keep_versions"],
        )
        ck = os.path.join(work, "checkpoints")
        self.report_cfg = pipeline.PipelineConfig(
            sources=[
                catalog.SourceSpec(
                    "orders",
                    self.fact.root,
                    fmt="bucketed",
                    load_type="INC",
                    options={"checkpoint_root": ck},
                ),
                catalog.SourceSpec("customers", self.dim.root, fmt="hudi"),
            ],
            query=REPORT_SQL,
            report_base=os.path.join(work, "reports"),
            recipients=["ops@example.com"],
            quality_rules=[quality.completeness("amount", 1.0)],
        )
        self.maintained_cfg = pipeline.MaintainedJoinReportConfig(
            fact_path=self.fact.root,
            fact_name="orders_cdc",
            dim_path=self.dim.root,
            dim_name="customers_cdc",
            on=("o_custkey", "c_custkey"),
            group_cols=["c_mktsegment"],
            sum_cols=["o_amount"],
            view_path=os.path.join(work, "view"),
            report_base=os.path.join(work, "maintained_reports"),
            checkpoint_root=ck,
            recipients=["ops@example.com"],
        )
        self.report_sender = EmailSender()
        self.maintained_sender = EmailSender()
        # the Python mirror of both tables
        self.orders: dict[int, tuple] = {}
        self.segment: dict[int, str] = {}
        self.cycles: list[dict] = []
        self.pending: list[tuple] = []  # orders committed since the last INC report
        self.reports: list[tuple[str, dict]] = []  # (path, expected)
        self.maintained_results: list = []
        self.attempted = 0
        self.failed = 0
        self.last_view = None

    # -- the loop -------------------------------------------------------
    def _frame(self, rows: list[tuple], schema: str):
        """The client's batch as a DataFrame, shipped through Arrow."""
        columns = [c.split()[0] for c in schema.split(",")]
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=columns), schema)

    def _frames(self, batch: gen.Batch):
        orders = self._frame(batch.orders, gen.ORDERS_SCHEMA)
        customers = (
            self._frame(batch.customers, gen.CUSTOMERS_SCHEMA) if batch.customers else None
        )
        return orders, customers

    def _by_segment(self, orders) -> dict:
        """{segment: (orders, amount)} under the mirrored customers."""
        out: dict = defaultdict(lambda: [0, 0])
        for row in orders:
            agg = out[self.segment[row[1]]]
            agg[0] += 1
            agg[1] += row[3]
        return {k: tuple(v) for k, v in out.items()}

    def _mirror(self, batch: gen.Batch) -> None:
        """Apply the batch to the mirror; its orders wait for the next
        INC report."""
        for row in batch.customers:
            self.segment[row[0]] = row[2]
        for row in batch.orders:
            self.orders[row[0]] = row
        self.pending.extend(batch.orders)

    def _op(self, name: str, fn, **attrs):
        """One timed operation: (seconds, result); a raise counts as a
        failure and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, **attrs):
                result = fn()
        except Exception as exc:  # noqa: BLE001 — counted, then checked
            print(f"report_cycle: {name} raised {type(exc).__name__}: {exc}")
            self.failed += 1
            result = None
        return time.perf_counter() - t0, result

    def _reports(self, **attrs) -> dict:
        t_rep, res = self._op(
            "report",
            lambda: pipeline.run_pipeline(
                self.spark, self.report_cfg, sender=self.report_sender
            ),
            **attrs,
        )
        if res is not None:
            self.reports.append((res.report_path, self._by_segment(self.pending)))
            self.pending = []
        t_mnt, mres = self._op(
            "maintained",
            lambda: pipeline.run_maintained_join_report(
                self.spark, self.maintained_cfg, sender=self.maintained_sender
            ),
            **attrs,
        )
        self.maintained_results.append(mres)
        if mres is not None:
            self.last_view = mres.df
        return {"report": t_rep, "maintained": t_mnt}

    def seed(self) -> None:
        batch = gen.Batch(self.inputs.seed_orders(), self.inputs.seed_customers())
        self._mirror(batch)
        orders, customers = self._frames(batch)
        self.dim.upsert(customers)
        self.fact.upsert(orders)

    def cycle(self, timed: bool) -> dict:
        batch = self.inputs.next_batch()
        self._mirror(batch)
        orders, customers = self._frames(batch)
        dim = customers is not None
        attrs = {"timed": timed, "dim": dim, "cycle": self.inputs.cycle}

        def commit():
            out = {"fact": self.fact.upsert(orders)}
            if dim:
                out["dim"] = self.dim.upsert(customers)
            return out

        t_commit, commits = self._op("commit", commit, **attrs)
        rec = {
            "cycle": self.inputs.cycle,
            "timed": timed,
            "dim": dim,
            "commit": t_commit,
            "commits": commits or {},
            "fact_rows": len(batch.orders),
            "dim_rows": len(batch.customers),
            **self._reports(**attrs),
        }
        rec["total"] = rec["commit"] + rec["report"] + rec["maintained"]
        self.cycles.append(rec)
        return rec

    # -- checks ---------------------------------------------------------
    def check(self) -> list[str]:
        problems = []
        for path, expected in self.reports:
            parts = glob.glob(os.path.join(path, "*.csv"))
            got = {}
            for part in parts:
                with open(part, newline="") as f:
                    for row in csv.DictReader(f):
                        got[row["segment"]] = (int(row["n_orders"]), int(row["amount"]))
            if got != expected:
                problems.append(f"INC report {path}: got {got}, expected {expected}")
        n_runs = len(self.reports)
        if len(self.report_sender.outbox) != n_runs:
            problems.append(
                f"{len(self.report_sender.outbox)} report emails for {n_runs} runs"
            )
        n_maintained = sum(r is not None for r in self.maintained_results)
        if n_maintained != len(self.maintained_results):
            problems.append("a maintained run found no change after a commit")
        if len(self.maintained_sender.outbox) != n_maintained:
            problems.append(
                f"{len(self.maintained_sender.outbox)} maintained emails for "
                f"{n_maintained} non-empty runs"
            )
        mirror = self._by_segment(self.orders.values())
        fs, ds = self.fact.snapshot(), self.dim.snapshot()
        recompute = {
            r["c_mktsegment"]: (r["n"], r["s"])
            for r in fs.join(ds, fs["o_custkey"] == ds["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_amount").alias("s"))
            .collect()
        }
        view = (
            {
                r["c_mktsegment"]: (r["n_rows"], r["sum_o_amount"])
                for r in self.last_view.collect()
            }
            if self.last_view is not None
            else None
        )
        if recompute != mirror:
            problems.append(f"snapshot join {recompute} != mirror {mirror}")
        if view != recompute:
            problems.append(f"maintained view {view} != recompute {recompute}")
        return problems

    def bytes_per_user_byte(self, work: str) -> float:
        """Bytes under both table roots over the bytes of their live
        snapshots written once as parquet."""
        copy = os.path.join(work, "user_copy")
        for name, table in (("orders", self.fact), ("customers", self.dim)):
            table.snapshot().coalesce(1).write.mode("overwrite").parquet(
                os.path.join(copy, name)
            )
        stored = harness.du_bytes(self.fact.root) + harness.du_bytes(self.dim.root)
        return stored / harness.du_bytes(copy)


def _bytes_of_commit(root: str, commit: str) -> int:
    """Bytes of every file a KeyedTable commit wrote (its snapshot and
    log directories and metadata all carry the commit id)."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if commit in path[len(root):]:
                total += os.path.getsize(path)
    return total


def steady_cycle_s(cycles: list[dict], dim_every: int) -> float:
    """p50(commit) + p50(report) + p50(maintained), with commit and
    maintained taken separately over fact-only and dim cycles and
    weighted by the dim schedule."""
    w_dim = 1 / dim_every

    def p50(step, dim):
        return statistics.median(c[step] for c in cycles if c["dim"] == dim)

    report = statistics.median(c["report"] for c in cycles)
    return report + sum(
        (1 - w_dim) * p50(step, False) + w_dim * p50(step, True)
        for step in ("commit", "maintained")
    )


def run(spark, tracer, work: str, seed: int, seconds: float, sizes: dict) -> dict:
    bench = ReportCycle(spark, tracer, work, seed, sizes)
    t0 = time.perf_counter()
    bench.seed()
    seed_s = time.perf_counter() - t0
    warm = [bench.cycle(timed=False) for _ in range(sizes["warmup_cycles"])]
    setup_s = time.perf_counter() - t0

    timed: list[dict] = []
    t_start = time.perf_counter()
    # whole (fact-only, dim) pairs, so both kinds weigh the same
    while time.perf_counter() - t_start < seconds or len(timed) % sizes["dim_every"]:
        timed.append(bench.cycle(timed=True))
    peak = harness.peak_rss_mb()
    retained = harness.retained_heap_mb(spark)

    # per-commit write counters, read back from the tables after timing
    stats = bench.fact.stats()["commits"]
    for c in bench.cycles:
        if "fact" in c["commits"]:
            c["fact_touched_groups"] = stats[c["commits"]["fact"]]["touched_groups"]
            c["fact_bytes_written"] = stats[c["commits"]["fact"]]["bytes_written"]
        if "dim" in c["commits"]:
            c["dim_bytes_written"] = _bytes_of_commit(bench.dim.root, c["commits"]["dim"])

    return {
        "setup_s": setup_s,
        "seed_s": seed_s,
        "cold_s": sum(c["total"] for c in warm),
        "warm_s": steady_cycle_s(timed, sizes["dim_every"]),
        "peak_rss_mb": peak,
        "retained_heap_mb": retained,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "problems": bench.check(),
        "steps": {
            step: harness.latency_summary([c[step] for c in timed])
            for step in STEPS
        },
        "steps_dim": {
            step: harness.latency_summary([c[step] for c in timed if c["dim"]])
            for step in ("commit", "maintained")
        },
        "cycles": bench.cycles,
        "bytes_per_user_byte": bench.bytes_per_user_byte(work),
    }


def layer_metrics(record: dict, spans, attributed) -> dict:
    """The traced run's per-layer metrics: per timed cycle medians of
    each layer's span time and counters, and per step the Spark job and
    stage counts, executor time and driver-only time."""
    by_id = {sp.id: sp for sp in spans}

    def step_of(sp):
        while sp.parent is not None:
            sp = by_id[sp.parent]
        return sp

    timed = [sp for sp in spans if sp.parent is None and sp.attrs.get("timed")]
    timed_ids = {sp.id for sp in timed}
    under: dict[tuple[str, str], list] = defaultdict(list)
    for sp in spans:
        if sp.parent is None:
            continue
        top = step_of(sp)
        if top.id in timed_ids:
            under[(top.name, sp.name)].append(sp)

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    def span_s(step, name):
        return med(sp.duration for sp in under[(step, name)])

    out = {
        "sinks.filegroups.upsert_s": span_s("commit", "sinks.filegroups.upsert"),
        "sinks.upsert.upsert_s": span_s("commit", "sinks.upsert.upsert"),
        "catalog.register_s": span_s("report", "catalog.register"),
        "sources.incremental.read_s": span_s("report", "sources.incremental.read"),
        "catalog.sql_s": span_s("report", "catalog.sql"),
        "operators.quality.expect_s": span_s("report", "operators.quality.expect"),
        "sinks.report.write_csv_s": span_s("report", "sinks.report.write_csv"),
        "catalog.commit_incremental_s": span_s(
            "report", "catalog.commit_incremental"
        ),
        "delivery.deliver_s": span_s("report", "delivery.deliver"),
        "sources.incremental.cdc_read_s": span_s(
            "maintained", "sources.incremental.cdc_read"
        ),
        "operators.ivm.apply_s": span_s("maintained", "operators.ivm.apply"),
    }
    cycles = {c["cycle"]: c for c in record["cycles"] if c["timed"]}

    def counter(key):
        return med(c[key] for c in cycles.values() if key in c)

    out["sinks.filegroups.bytes_written"] = counter("fact_bytes_written")
    out["sinks.filegroups.touched_groups"] = counter("fact_touched_groups")
    out["sinks.upsert.bytes_written"] = counter("dim_bytes_written")
    out["sources.incremental.records_per_row"] = med(
        attributed[sp.id]["input_records"] / cycles[step_of(sp).attrs["cycle"]]["fact_rows"]
        for sp in under[("report", "sources.incremental.read")]
    )
    out["operators.ivm.records_per_changed_row"] = med(
        attributed[sp.id]["input_records"]
        / (
            cycles[step_of(sp).attrs["cycle"]]["fact_rows"]
            + cycles[step_of(sp).attrs["cycle"]]["dim_rows"]
        )
        for sp in under[("maintained", "operators.ivm.apply")]
    )
    selfs = trace.self_times(spans)
    for step in STEPS:
        tops = [sp for sp in timed if sp.name == step]
        out[f"{step}.spark.jobs"] = med(attributed[sp.id]["jobs"] for sp in tops)
        out[f"{step}.spark.stages"] = med(attributed[sp.id]["stages"] for sp in tops)
        out[f"{step}.spark.executor_run_s"] = med(
            attributed[sp.id]["executor_run_s"] for sp in tops
        )
        out[f"{step}.driver_s"] = med(attributed[sp.id]["driver_s"] for sp in tops)
        if step != "commit":
            out[f"{step}.unattributed_s"] = med(selfs[sp.id] for sp in tops)
    return out
