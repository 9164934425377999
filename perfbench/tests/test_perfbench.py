"""The benchmark's own tests: seeded generation, the tail percentile,
span arithmetic and the event-log parser. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (
    get_spark,
)

from perfbench import gen, harness, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _sizes():
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
        return json.load(f)["report_cycle"]["sizes"]


def _draw(seed: int, n_batches: int = 6):
    inputs = gen.ReportCycleInputs(seed, _sizes())
    seed_tables = (inputs.seed_customers(), inputs.seed_orders())
    batches = [inputs.next_batch() for _ in range(n_batches)]
    return seed_tables, [(b.orders, b.customers) for b in batches]


def test_report_cycle_inputs_are_deterministic_per_seed():
    assert _draw(7) == _draw(7)
    assert _draw(7) != _draw(8)


def test_report_cycle_batches_follow_the_sizes():
    sizes = _sizes()
    _, batches = _draw(3, n_batches=2 * sizes["dim_every"])
    live = sizes["orders_rows"]
    for i, (orders, customers) in enumerate(batches, start=1):
        keys = [r[0] for r in orders]
        assert len(keys) == len(set(keys)) == sizes["batch_updates"] + sizes["batch_inserts"]
        assert sum(k >= live for k in keys) == sizes["batch_inserts"]
        live += sizes["batch_inserts"]
        assert all(r[2] == i for r in orders)  # the version is the cycle
        dim_cycle = i % sizes["dim_every"] == 0
        assert len(customers) == (sizes["dim_changes"] if dim_cycle else 0)


def test_corpus_is_deterministic_per_seed(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    spark = get_spark(app_name="perfbench-test", master="local[1]")
    rows = {
        "region": 5, "nation": 25, "customer": 30, "supplier": 5, "part": 20,
        "orders": 40, "lineitem": 80, "events": 30, "documents": 40, "embeddings": 10,
    }

    def tables(seed, name):
        out = tmp_path / name
        share = gen.write_corpus(spark, str(out), seed, rows, dup_every=20)
        return share, {
            t: sorted(map(str, pq.read_table(str(out / f"{t}.parquet")).to_pylist()))
            for t in rows
        }

    try:
        share_a, a = tables(1, "a")
        _, b = tables(1, "b")
        _, c = tables(2, "c")
    finally:
        spark.stop()
    assert share_a == {"near_dup_share": 0.05}
    assert a == b
    assert a["documents"] != c["documents"] and a["orders"] != c["orders"]
    assert a["nation"] == c["nation"]  # fixed catalogs, as in TPC-H


@pytest.mark.parametrize(
    "n, p",
    [(0, None), (10, None), (11, 9), (20, 50), (100, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert harness.tail_percentile(n) == p
    if p is not None:
        values = list(range(n))
        assert sum(v > harness.nearest_rank(values, p) for v in values) >= 10


def test_latency_summary_names_the_tail():
    summary = harness.latency_summary([float(i) for i in range(20)])
    assert summary == {"n": 20, "p50_s": 9.5, "tail_pct": 50, "tail_s": 9.0}
    assert harness.latency_summary([1.0, 3.0]) == {"n": 2, "p50_s": 2.0}


def _span(i, start, end, parent=None, name="s"):
    return trace.Span(i, name, start, end, parent)


def test_covered_is_the_clipped_union():
    assert trace.covered([], 0, 10) == 0
    assert trace.covered([(1, 3), (2, 5), (8, 12), (-4, -1)], 0, 10) == 6
    assert trace.covered([(0, 10), (2, 3)], 0, 10) == 10


def test_self_times_on_nested_spans():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),  # overlaps its sibling
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent's end
        _span(5, 1.5, 2.0, parent=2),
        _span(6, 20.0, 21.0),  # another root, no children
    ]
    selfs = trace.self_times(spans)
    assert selfs == {1: 4.0, 2: 1.5, 3: 3.0, 4: 4.0, 5: 0.5, 6: 1.0}
    # a root with disjoint children: its self time plus theirs is its duration
    flat = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 4.0, 9.0, 1)]
    assert sum(trace.self_times(flat).values()) == 10.0


def test_event_log_parser_on_a_captured_log():
    """A log captured from Spark 4.1 (trimmed to the events and fields
    the parser reads): under a ``report`` span, ``catalog.sql`` ran an
    aggregate (two jobs, one of whose two stages was skipped) and
    ``sinks.report.write_csv`` one job; then two untagged jobs ran."""
    jobs, stages = trace.parse_event_log(os.path.join(HERE, "data", "eventlog_small.jsonl"))
    with open(os.path.join(HERE, "data", "eventlog_small_spans.json")) as f:
        spans = [trace.Span(**s) for s in json.load(f)]
    assert {j.id: j.span for j in jobs.values()} == {0: 2, 1: 2, 2: 3, 3: None, 4: None}
    assert jobs[1].stages == [1, 2] and 1 not in stages  # skipped stage
    assert all(j.end >= j.start for j in jobs.values())
    assert stages[0].shuffle_write_bytes > 0 and stages[0].input_records == 1000

    got = trace.attribute(spans, jobs, stages)
    by_name = {s.name: s for s in spans}
    sql, csv, report = (by_name[n].id for n in ("catalog.sql", "sinks.report.write_csv", "report"))
    assert (got[sql]["jobs"], got[sql]["stages"]) == (2, 2)
    assert (got[csv]["jobs"], got[csv]["stages"]) == (1, 1)
    assert (got[report]["jobs"], got[report]["stages"]) == (3, 3)
    assert got[report]["input_records"] == got[sql]["input_records"] + got[csv]["input_records"]
    for sid, m in got.items():
        span = next(s for s in spans if s.id == sid)
        assert 0 <= m["driver_s"] <= span.duration
    # the report span's own time (a 50 ms sleep between its children)
    # is all driver time
    assert trace.self_times(spans)[report] >= 0.05
    assert got[report]["driver_s"] >= trace.self_times(spans)[report]


def test_benchmark_json_matches_the_workload_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in contract["workloads"]] == [
        "report_cycle", "operator_suite"
    ]
    assert [m["name"] for m in contract["per_layer"]] == list(spec["per_layer"])
    assert all(
        m["unit"] == spec["per_layer"][m["name"]]["unit"] for m in contract["per_layer"]
    )
    setup = next(m for m in contract["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in contract["end_to_end"])
