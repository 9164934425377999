"""Run one workload on several seeds and report each metric's median and
spread — the distance between its first and third quartile as a share
of its median, the figure the bounds in ``BENCHMARK.json`` are held to.

    python3 perfbench/spread.py --workload report_cycle --seeds 1-10 [--trace 1] [--out FILE]

Runs are sequential, one process each, from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    first, last = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    runs = []
    for seed in range(first, last + 1):
        cmd = [
            sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(contract["run_seconds"]), "--trace", str(args.trace),
        ]
        proc = subprocess.run(
            cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if proc.returncode != 0 or not result["correct"] or result["failed"]:
            print(f"seed {seed}: exit {proc.returncode}, {result}")
            return 1
        runs.append({k: v["value"] for k, v in result["metrics"].items()})
        print(f"seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
    summary = {}
    for name in runs[0]:
        values = [r[name] for r in runs]
        summary[name] = {
            "median": statistics.median(values),
            "spread": spread(values),
            "values": values,
        }
        print(f"{name:40s} median {summary[name]['median']:.4g}  spread {summary[name]['spread']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {"workload": args.workload, "seeds": args.seeds, "trace": args.trace, "metrics": summary},
                f,
                indent=1,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
