"""Steadiness check: run each workload as two sets of runs, each run its
own process and Spark session, and compare the sets.

    python3 perfbench/steady.py [--workloads syslog_backlog chat_flap]

Each set is RUNS runs with distinct seeds.  For every end-to-end metric
it prints each set's median and quartiles, the spread (Q3 - Q1) / median,
and the gap between the two sets' medians (positive = worse); the spread
and the gap, in either direction, must stay within the metric's bound in
BENCHMARK.json.
A run whose output is incorrect or missing fails the check.  Raw results
go to ``--out`` (JSON lines); ``--report FILE`` prints the comparison for
such a file again without running anything.  Run from the root of the
checkout.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

SETS = 2
RUNS = 10


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def run_once(bench: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def report(bench: dict, results: list[dict]) -> bool:
    """Print the per-set comparison of ``results`` (run records with
    ``workload`` and ``set``); True when every check holds."""
    ok = True
    for w in dict.fromkeys(r["workload"] for r in results):
        runs = [r for r in results if r["workload"] == w]
        sets = [[r for r in runs if r["set"] == s]
                for s in sorted({r["set"] for r in runs})]
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            meds = []
            for s, rs in enumerate(sets):
                q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in rs])
                spread = (q3 - q1) / med
                meds.append(med)
                flag = "" if spread <= bound else "  SPREAD > BOUND"
                ok &= not flag
                print(f"{w:15s} {name:14s} set{s} median {med:10.4g} "
                      f"q1 {q1:10.4g} q3 {q3:10.4g} spread {spread:6.1%} "
                      f"(bound {bound:.0%}, third {bound / 3:.1%}){flag}")
            for s in range(1, len(meds)):
                gap = sign * (meds[s] - meds[0]) / meds[0]
                flag = "" if abs(gap) <= bound else "  GAP > BOUND"
                ok &= not flag
                print(f"{w:15s} {name:14s} set{s} vs set0 gap {gap:+6.1%} "
                      f"(bound {bound:.0%}){flag}")
        fails = [r["failed"] for r in runs]
        bad = sum(not r["correct"] for r in runs)
        ok &= not bad
        print(f"{w:15s} {len(runs)} runs, {bad} incorrect; failed per run "
              f"{min(fails)}..{max(fails)} of {runs[0]['attempted']}")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--seed", type=int, default=1000, help="first seed")
    ap.add_argument("--out", default=".perfbench_cache/steady.jsonl")
    ap.add_argument("--report", help="summarize this results file; run nothing")
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if args.report:
        with open(args.report) as fh:
            results = [json.loads(line) for line in fh]
    else:
        results = []
        workloads = args.workloads or [w["name"] for w in bench["workloads"]]
        with open(args.out, "a") as out:
            for w in workloads:
                for s in range(SETS):
                    for i in range(RUNS):
                        seed = args.seed + 100 * s + i
                        res = run_once(bench, w, seed, bench["run_seconds"])
                        rec = {"workload": w, "set": s, "seed": seed, **res}
                        out.write(json.dumps(rec) + "\n")
                        out.flush()
                        results.append(rec)
    ok = report(bench, results)
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
