"""Benchmark harness: runs the headline query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...},
     "first_eval_total": sec, "queries_first_eval": {name: sec, ...},
     "sf": "..."}

Timing: each query's plan is fully executed into Spark's ``noop`` sink
(materializes every row, no driver-side collect bias). One JVM-warmup
run of the flagship query precedes timing.

Cold vs warm (VERDICT r4 next-round #4): several operators share
per-(session, sf) intermediates — the jaccard pair graph, the tf table,
the approx-agg sketch, the IVF layout — held by one mechanism,
``operators.session_memo``, and released together by
``operators.clear_intermediate_caches``; so a query's SECOND evaluation
can be 10-20× its first. Both numbers are real: ``queries`` /
``value`` report STEADY STATE (min of two runs; the long-running
cluster's behavior, and the comparable-across-rounds headline), while
``queries_first_eval`` / ``first_eval_total`` report each query's FIRST
run in suite order (cache-build cost included — an intermediate already
built by an EARLIER suite query is not rebuilt, exactly as a production
session would behave)."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (  # noqa: E402
    get_spark,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators import (  # noqa: E402
    QUERIES,
)

#: entries EXCLUDED from the headline set — fast scan/point-lookup
#: micro-entries whose steady-state cost is noise-scale (they stay
#: driver-oracled every round; excluding them keeps the suite total
#: dominated by real operator work). Every other LIVE registry entry
#: benches automatically: the suite list derives from ``QUERIES`` at
#: run time (VERDICT r10 #7 — the r10 crash class was a hand-
#: maintained HEADLINE naming a retired entry, masked by the driver's
#: pipe; retiring an entry now needs zero bench.py edits, and a stale
#: name HERE fails the run loudly instead).
EXCLUDE = {
    "approx_aggregates",
    "bloom_point_lookup",
    "filegroup_snapshot",
    "incremental_scan",
    "ivm_report",
    "q3_shipping_priority",
    "salted_heavy_hitter_agg",
    "scalar_datetime_keys",
    "streaming_hourly_rollup",
    "streaming_session_window",
}


def headline() -> list[str]:
    """The benched suite: the live registry minus :data:`EXCLUDE`, in
    registration order (suite order is the first-eval cache-build
    order). Unknown EXCLUDE names raise — a retired/renamed entry left
    here is a stale config, not a silent skip."""
    stale = EXCLUDE - set(QUERIES)
    if stale:
        raise ValueError(
            f"bench.py EXCLUDE names unknown queries {sorted(stale)} — "
            "the registry no longer has them; drop the stale entries"
        )
    return [name for name in QUERIES if name not in EXCLUDE]


HEADLINE = headline()


def run_once(spark, sf_dir: str, name: str) -> float:
    t0 = time.time()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def run_suite() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")

    run_once(spark, sf_dir, "flagship_report")  # JVM warmup

    # three runs per query: run 1 = first_eval (pays codegen + any
    # shared intermediate not built by an earlier suite query), min of
    # all three = steady state (the long-running cluster's number;
    # headline `value`). Three, not two: this host shows multi-second
    # noise bursts (2-3× on a single query) that can span two
    # back-to-back runs; the warm runs are cache-hit cheap, so a third
    # sample costs little and clips the burst from the steady number.
    timings: dict[str, float] = {}
    first_eval: dict[str, float] = {}
    for name in HEADLINE:
        try:
            runs = [run_once(spark, sf_dir, name) for _ in range(3)]
        except Exception as exc:  # noqa: BLE001 — fail LOUDLY, pipe-proof
            # the r10 failure mode: a raising query died with its
            # traceback on stderr and the pipe masked the exit code —
            # emit a tail-surviving JSON error line AND exit non-zero
            print(
                json.dumps(
                    {
                        "metric": "headline_suite_total",
                        "error": f"{name}: {type(exc).__name__}: {exc}",
                        "sf": sf_dir,
                    }
                )
            )
            raise SystemExit(1) from exc
        first_eval[name] = round(runs[0], 3)
        timings[name] = round(min(runs), 3)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "first_eval_total": round(sum(first_eval.values()), 3),
        "queries_first_eval": first_eval,
        "sf": sf_dir,
    }
    print(json.dumps(full))
    # capture-proof forensics (VERDICT r8 #8): the driver keeps only the
    # TAIL of stdout, which truncates the per-query dict above — write
    # the complete record to a committed file so per-query history stops
    # depending on capture length.
    with open(Path(__file__).resolve().parent / "bench_last.json", "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # tail-surviving compact lines LAST (VERDICT r11 #1): the driver
    # keeps only the TAIL of stdout, and the r7 fix (totals-only final
    # line) left the driver's per-query comparator and scaling extractor
    # EMPTY for two rounds — PERF_r{10,11}.json have per_query: {}. The
    # final line must itself carry the per-query steady map (the
    # contract's "queries" field), and the line before it the first-eval
    # map; each is ~1.4 KB at 40 queries/ms precision, so both survive
    # the ~3 KB tail the driver captured in r11.
    print(
        json.dumps(
            {
                "metric": "headline_suite_first_eval",
                "first_eval_total": round(sum(first_eval.values()), 3),
                "unit": "sec",
                "queries_first_eval": first_eval,
                "sf": sf_dir,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": timings,
                "first_eval_total": round(sum(first_eval.values()), 3),
                "sf": sf_dir,
            }
        )
    )


# ----------------------------------------------------------------------
# interleaved A/B mode (VERDICT r11 #3)
# ----------------------------------------------------------------------
# This sandbox's per-job overhead drifts 2-4x within hours (documented
# with a noop-probe in OPTIMIZATION_r11.md; the driver's own r11 8-core
# run of the SAME tree was 1.8x FASTER than its 32-core run), so a
# single-run wall-clock comparison across rounds is meaningless. The
# only credible local measurement is interleaved: alternate full suite
# runs of a BASELINE git ref and the working tree (B-A-B-A...) and pair
# the per-query steady numbers round by round. r11 improvised this with
# hand-built worktrees; this makes it the standing harness mode. The
# default (no flags) invocation is byte-for-byte the driver contract
# above — --ab is opt-in and spawns plain `python bench.py` children.


def _suite_record(tree: Path, env: dict, label: str) -> dict:
    """Run one full suite in ``tree`` as a subprocess; return the full
    record (read from the bench_last.json the child writes next to its
    own bench.py — no stdout parsing, immune to tail truncation).
    ``label`` names the tree in error messages."""
    marker = tree / "bench_last.json"
    if marker.exists():
        marker.unlink()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
    )
    if proc.returncode != 0 or not marker.exists():
        raise SystemExit(
            f"--ab: suite in {tree} failed (rc={proc.returncode}); "
            f"tail: {proc.stdout.decode(errors='replace')[-500:]}"
        )
    with open(marker) as f:
        rec = json.load(f)
    # the A/B record reads these per query; a tree whose bench.py
    # predates them must fail here, naming the ref, not as a KeyError
    # deep in the pairing
    for key in ("queries", "queries_first_eval"):
        if key not in rec:
            raise SystemExit(
                f"--ab: the suite record from {label} has no {key!r} "
                "key (its bench.py predates the A/B fields)"
            )
    return rec


def run_ab(baseline_ref: str, rounds: int, out: str | None) -> None:
    if rounds < 1:
        raise SystemExit(f"--rounds must be >= 1, got {rounds}")
    repo = Path(__file__).resolve().parent
    worktree = Path(f"/tmp/bench_ab_{os.getpid()}")
    subprocess.run(
        ["git", "worktree", "add", "--detach", str(worktree), baseline_ref],
        cwd=repo,
        check=True,
        stdout=subprocess.DEVNULL,
    )
    env = dict(os.environ)
    try:
        pairs: list[tuple[dict, dict]] = []
        order: list[str] = []
        for i in range(rounds):
            # COUNTERBALANCED order (B-A, A-B, B-A, ...): this host's
            # drift can degrade monotonically across a round, and a
            # fixed B-then-A order then systematically charges the
            # worse weather to the head tree (observed in r12: two
            # fixed-order records disagreed with each other AND with
            # fine-grained interleaved mini-benches).
            first_base = i % 2 == 0
            order.append("B-A" if first_base else "A-B")
            for is_base in (first_base, not first_base):
                which = f"baseline ({baseline_ref})" if is_base else "head"
                print(f"# ab round {i + 1}/{rounds}: {which}")
                rec = _suite_record(worktree if is_base else repo, env, which)
                if is_base:
                    base = rec
                else:
                    head = rec
            pairs.append((base, head))
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(worktree)],
            cwd=repo,
            check=False,
            stdout=subprocess.DEVNULL,
        )
    common = sorted(
        set.intersection(
            *(set(b["queries"]) & set(h["queries"]) for b, h in pairs)
        )
    )
    per_query = {}
    for name in common:
        bs = [round(b["queries"][name], 3) for b, _ in pairs]
        hs = [round(h["queries"][name], 3) for _, h in pairs]
        bf = [round(b["queries_first_eval"][name], 3) for b, _ in pairs]
        hf = [round(h["queries_first_eval"][name], 3) for _, h in pairs]
        per_query[name] = {
            "base_steady": bs,
            "head_steady": hs,
            "base_first": bf,
            "head_first": hf,
            # headline speedup = best-of-rounds ratio: min over runs is
            # the drift-robust steady estimator (the same min-of-N the
            # suite itself uses within a run) — a per-round median of 2
            # just picks whichever round had worse weather
            "speedup_steady": round(min(bs) / max(min(hs), 1e-9), 3),
            "speedup_first": round(min(bf) / max(min(hf), 1e-9), 3),
        }
    geo = 1.0
    for name in common:
        geo *= per_query[name]["speedup_steady"]
    geo = geo ** (1.0 / max(len(common), 1))
    record = {
        "metric": "ab_paired",
        "baseline_ref": baseline_ref,
        "rounds": rounds,
        "order": " ".join(order),
        "geomean_speedup_steady": round(geo, 3),
        "totals_base": [round(b["value"], 3) for b, _ in pairs],
        "totals_head": [round(h["value"], 3) for _, h in pairs],
        "first_totals_base": [
            round(b["first_eval_total"], 3) for b, _ in pairs
        ],
        "first_totals_head": [
            round(h["first_eval_total"], 3) for _, h in pairs
        ],
        "per_query": per_query,
    }
    if out:
        with open(out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    for name in common:
        pq = per_query[name]
        print(
            f"{name:30s} steady x{pq['speedup_steady']:6.3f} "
            f"first x{pq['speedup_first']:6.3f}  "
            f"B={pq['base_steady']} H={pq['head_steady']}"
        )
    print(
        json.dumps(
            {
                k: record[k]
                for k in record
                if k != "per_query"
            }
        )
    )


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument(
        "--ab",
        metavar="GIT_REF",
        help="interleaved A/B: alternate full suites of GIT_REF (in a "
        "throwaway worktree) and the working tree, report paired "
        "per-query deltas (drift-proof measurement)",
    )
    parser.add_argument(
        "--rounds", type=int, default=2, help="A/B round count (default 2)"
    )
    parser.add_argument(
        "--out", help="write the A/B record to this JSON file"
    )
    args = parser.parse_args()
    if args.ab:
        run_ab(args.ab, args.rounds, args.out)
    else:
        run_suite()


if __name__ == "__main__":
    main()
