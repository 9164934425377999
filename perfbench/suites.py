"""The ``operator_suite`` workload: registry entries over a seeded,
testdata-shaped corpus — the LLM-data operators (dedup self-joins,
Python/Arrow stages, the session memos) and the relational SQL entries
(Catalyst joins and aggregates), at least one entry per operator module.

One client, closed loop. Set-up writes the corpus. The cold pass
evaluates every entry once, in suite order, in the run's fresh session
(first evaluations, session memos empty); warm passes repeat the suite
until ``seconds`` have passed. Each evaluation collects the entry's
result to the Spark driver — what a client of the engine receives. After
timing, the results of the cold pass and of the last warm pass are
compared with each entry's DuckDB oracle on the same corpus
(``tests/oracle_harness.compare``).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (
    ORACLES,
    QUERIES,
)

from perfbench import gen, harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Collected:
    """A result already collected, in the shape ``compare`` reads."""

    def __init__(self, df, rows):
        self.columns, self.dtypes, self.rows = df.columns, df.dtypes, rows

    def collect(self):
        return self.rows


def module_of(entry: str) -> str:
    return QUERIES[entry].__module__.rsplit(".", 1)[1]


def run(spark, tracer, work: str, seed: int, seconds: float, entries: list, corpus: dict) -> dict:
    unknown = [e for e in entries if e not in QUERIES]
    if unknown:
        raise ValueError(f"suite names unknown registry entries {unknown}")
    sf_dir = os.path.join(work, "corpus")
    t0 = time.perf_counter()
    planted = gen.write_corpus(
        spark, sf_dir, seed, corpus["rows"], corpus["near_dup_every"]
    )
    setup_s = time.perf_counter() - t0

    attempted = failed = 0

    results: dict[str, dict] = {}

    def evaluate(entry: str, n_pass: int) -> float:
        """Time one evaluation; keep the result of pass 0 (cold) and of
        the latest warm pass for the checks."""
        nonlocal attempted, failed
        attempted += 1
        label = "cold" if n_pass == 0 else "warm"
        t = time.perf_counter()
        try:
            with tracer.span("entry", module=module_of(entry), n_pass=n_pass):
                df = QUERIES[entry](spark, sf_dir)
                rows = df.collect()
            results.setdefault(label, {})[entry] = Collected(df, rows)
        except Exception as exc:  # noqa: BLE001 — counted, then checked
            print(f"suite: {entry} raised {type(exc).__name__}: {exc}")
            failed += 1
        return time.perf_counter() - t

    cold = {e: evaluate(e, 0) for e in entries}
    warm: list[dict] = []
    t_start = time.perf_counter()
    while not warm or time.perf_counter() - t_start < seconds:
        warm.append({e: evaluate(e, len(warm) + 1) for e in entries})
    peak = harness.peak_rss_mb()
    retained = harness.retained_heap_mb(spark)

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from oracle_harness import compare, duck_connection

    con = duck_connection(sf_dir)
    problems = []
    for label, got in results.items():
        for e in entries:
            if e not in got:
                problems.append(f"{e}: no {label} result")
            elif e in ORACLES:
                problems += [f"{e} ({label}): {p}" for p in compare(got[e], con, ORACLES[e])]
            elif not got[e].rows:
                problems.append(f"{e} ({label}): no rows and no oracle")
    con.close()

    return {
        "setup_s": setup_s,
        "cold_s": sum(cold.values()),
        "warm_s": statistics.median(sum(p.values()) for p in warm),
        "peak_rss_mb": peak,
        "retained_heap_mb": retained,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "near_dup_share": planted["near_dup_share"],
        "cold": cold,
        "warm": warm,
    }


def layer_metrics(entries: list, spans, attributed) -> dict:
    """Per operator module: warm-pass time, stages, shuffle bytes
    written, executor time and driver-only time (medians over warm
    passes of the module's per-pass sums), and cold-pass time."""
    per_pass: dict[tuple[str, int], dict] = defaultdict(lambda: defaultdict(float))
    for sp in spans:
        if sp.name != "entry":
            continue
        acc = per_pass[(sp.attrs["module"], sp.attrs["n_pass"])]
        acc["s"] += sp.duration
        for key in ("stages", "shuffle_write_bytes", "executor_run_s", "driver_s"):
            acc[key] += attributed[sp.id][key]
    out = {}
    for module in sorted({module_of(e) for e in entries}):
        warm = [v for (m, n), v in per_pass.items() if m == module and n > 0]
        prefix = f"operators.{module}"
        out[f"{prefix}.warm_s"] = statistics.median(v["s"] for v in warm)
        for key in ("stages", "shuffle_write_bytes", "executor_run_s", "driver_s"):
            out[f"{prefix}.{key}"] = statistics.median(v[key] for v in warm)
        out[f"{prefix}.cold_s"] = per_pass[(module, 0)]["s"]
    return out
