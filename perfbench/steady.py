#!/usr/bin/env python3
"""Steadiness check: run one workload as two sets of runs on the same code.

Usage (from the root of a graft checkout):

    python3 perfbench/steady.py --workload <name> [--runs 10]

Set k (0 or 1) uses seeds 1000 + k*runs ... 1000 + (k+1)*runs - 1. For
every end-to-end metric it reports each set's median, quartiles and spread
(the distance between the quartiles as a share of the median, as
`statistics.quantiles(values, n=4)` gives them), whether the spread stays
within the metric's bound, and whether the second set's median is within
the bound of the first in the metric's worse direction.
Each run's load context (nproc, load average, CPU used by the rest of the
machine, contended flag) comes from its artifact. The summary is written to
.bench_build/artifacts/steady-<workload>-<time>.json and printed.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

SETS = 2
BASE_SEED = 1000


def run_once(workload, seed, seconds):
    before = set(glob.glob(".bench_build/artifacts/*.json"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"run {workload} seed {seed} exited {r.returncode}")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    new = [p for p in set(glob.glob(".bench_build/artifacts/*.json")) - before
           if not os.path.basename(p).startswith("steady-")]
    art = json.load(open(new[0])) if new else {}
    return line, {k: art.get(k) for k in ("nproc", "load_start", "load_end", "other_cpu_cores",
                                         "steal_cores", "contended", "wall_s")}


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / abs(med) if med else float("inf")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sets = []
    for k in range(SETS):
        runs = []
        for i in range(args.runs):
            seed = BASE_SEED + k * args.runs + i
            line, ctx = run_once(args.workload, seed, spec["run_seconds"])
            runs.append({"seed": seed, "correct": line["correct"], "failed": line["failed"],
                         "values": {n: v["value"] for n, v in line["metrics"].items()}, **ctx})
            print(f"set {k} seed {seed}: " + " ".join(
                f"{n}={v['value']:.4g}" for n, v in line["metrics"].items()) +
                f" contended={ctx['contended']}", flush=True)
        sets.append(runs)
    report = {"workload": args.workload, "runs": args.runs, "nproc": os.cpu_count(),
              "sets": sets, "metrics": {}}
    ok = True
    for name, m in metrics.items():
        per_set = [summarize([r["values"][name] for r in runs]) for runs in sets]
        within = all(s["spread"] <= m["bound"] for s in per_set)
        a, b = per_set[0]["median"], per_set[1]["median"]
        worse = (b - a) / abs(a) if m["better"] == "lower" else (a - b) / abs(a)
        entry = {"bound": m["bound"], "sets": per_set, "spread_within_bound": within,
                 "second_vs_first": worse, "sets_agree": worse <= m["bound"]}
        within = within and entry["sets_agree"]
        ok = ok and within
        report["metrics"][name] = entry
        print(f"{name:20s} " + "  ".join(
            f"med={s['median']:.4g} iqr/med={s['spread']:.3f}" for s in per_set) +
            f"  second-vs-first={entry['second_vs_first']:+.3f}" +
            f"  bound={m['bound']}  {'ok' if within else 'NOT STEADY'}")
    report["steady"] = ok
    report["contended_runs"] = sum(1 for runs in sets for r in runs if r.get("contended"))
    os.makedirs(".bench_build/artifacts", exist_ok=True)
    out = f".bench_build/artifacts/steady-{args.workload}-{int(time.time())}.json"
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"steady={ok} contended_runs={report['contended_runs']} -> {out}")


if __name__ == "__main__":
    main()
