"""The repository benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload report_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root; ``--workload all`` runs every workload in
turn, each in its own process, and prints one combined result. Workloads (sizes and reasons in
``perfbench/workloads.json``): ``report_cycle`` and ``operator_suite``.
Spark runs on ``local[nproc]``; the run generates
its inputs from ``--seed``, measures for ``--seconds``, checks every
output, and prints one JSON object as its last line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run wraps the engine's public
calls in spans, enables Spark's event log, and reports the per-layer
metrics instead (layers a workload does not exercise read 0). Every
run also writes its raw record — per-step and per-entry times, the
no-op job time at start and end (host noise), tracing spans summary —
to ``.perfbench_work/records/``. A failed check prints the result with
``"correct": false`` and exits 1. Everything the run writes stays under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")


def _environment(work: str) -> None:
    """Keep every scratch file under ``work`` and size Spark to the
    host. Must run before pyspark or the engine is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    names = [w["name"] for w in contract["workloads"]]
    if args.workload not in names + ["all"]:
        ap.error(f"unknown workload {args.workload!r}; one of {names} or all")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if args.workload == "all":
        return _run_all(names, args)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        record = _run(args, spec, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, "records", name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    if args.trace:
        values = {m["name"]: record["layers"].get(m["name"], 0.0) for m in contract["per_layer"]}
        units = {m["name"]: m["unit"] for m in contract["per_layer"]}
    else:
        values = {m["name"]: record[m["name"]] for m in contract["end_to_end"]}
        units = {m["name"]: m["unit"] for m in contract["end_to_end"]}
    correct = not record["problems"]
    for p in record["problems"]:
        print(f"CHECK FAILED: {p}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in values.items()
                },
            }
        )
    )
    return 0 if correct else 1


def _run_all(names: list[str], args) -> int:
    """Each workload in a fresh process; the combined result prefixes
    every metric with its workload."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False).stdout
        print(out, end="")
        try:
            result = json.loads(out.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError):
            result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for metric, value in result["metrics"].items():
            combined["metrics"][f"{name}.{metric}"] = value
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def _run(args, spec: dict, work: str, t_process: float) -> dict:
    from perfbench import harness, report_cycle, suites, trace

    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    spark = harness.start_session(work, event_dir)
    try:
        session_s = time.perf_counter() - t_process
        noop_start = harness.noop_job_s(spark)
        tracer = trace.Tracer(spark) if args.trace else trace.NullTracer()
        wl = spec[args.workload]
        if args.workload == "report_cycle":
            uninstall = trace.install(tracer, report_cycle.LAYERS) if args.trace else None
            try:
                rec = report_cycle.run(
                    spark, tracer, work, args.seed, args.seconds, wl["sizes"]
                )
            finally:
                if uninstall:
                    uninstall()
        else:
            rec = suites.run(
                spark, tracer, work, args.seed, args.seconds, wl["entries"], spec["corpus"]
            )
        noop_end = harness.noop_job_s(spark)
    finally:
        harness.stop_session(spark)

    rec["setup_s"] += session_s
    rec["noop_job_s"] = {"start": noop_start, "end": noop_end}
    rec["workload"] = args.workload
    rec["seed"] = args.seed
    print(f"host noise: no-op Spark job {noop_start * 1000:.1f} ms at start, {noop_end * 1000:.1f} ms at end")
    if args.trace:
        (log,) = [os.path.join(event_dir, n) for n in os.listdir(event_dir)]
        jobs, stages = trace.parse_event_log(log)
        attributed = trace.attribute(tracer.spans, jobs, stages)
        if args.workload == "report_cycle":
            layers = report_cycle.layer_metrics(rec, tracer.spans, attributed)
            layers["bytes_per_user_byte"] = rec["bytes_per_user_byte"]
        else:
            layers = suites.layer_metrics(wl["entries"], tracer.spans, attributed)
        layers["traced_warm_s"] = rec["warm_s"]
        rec["layers"] = layers
        rec["spans"] = len(tracer.spans)
    return rec


if __name__ == "__main__":
    raise SystemExit(main())
