#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured from outside the program.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the runner if needed (perfbench/build.py), generates the
workload's inputs from the seed, drives graft's public entry points from one
JVM, checks the outputs, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics (a layer the workload does not
exercise reads 0). Everything else a run measured (sample counts, medians,
load, spans) goes to .bench_build/artifacts/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("restructure", "queries")
HEAP = "3g"
# Guard against a hung runner JVM, not a performance gate: set-up plus a
# multiple of the measured seconds (twice that when traced, which also
# decomposes the workload), far more than a run of this size takes, so a
# much slower program is still measured rather than killed.
HANG_SETUP_S = 300
HANG_PER_MEASURED_S = 12

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_jiffies():
    """(busy, steal) jiffies of the whole machine from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)

    classpath = build.ensure_built()
    started = time.time()
    limit = HANG_SETUP_S + HANG_PER_MEASURED_S * args.seconds * (2 if args.trace else 1)
    nproc = os.cpu_count() or 1
    load_start = load_avg()
    busy0, steal0 = cpu_jiffies()
    own0 = os.times()
    t0 = time.time()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", tag)
    artifacts = os.path.join(build.BUILD, "artifacts")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(artifacts, exist_ok=True)
    report_path = os.path.join(work, "report.json")
    log_path = os.path.join(artifacts, tag + ".log")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.abspath(work)}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, report_path,
              str(int(time.time() * 1000))])
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(report_path):
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            raise SystemExit(f"perfbench: runner JVM failed ({rc}); log in {log_path}")
        with open(report_path) as f:
            report = json.load(f)

        attempted, failed = report["attempted"], report["failed"]
        failures = list(report["failures"])
        if args.workload == "queries":
            results = os.path.join(work, "results")
            t_oracle = time.time()
            with open(os.path.join(results, "oracle_sql.json"), "rb") as f:
                key = hashlib.sha256(f.read() + build.runner_digest() + str(args.seed).encode())
            cache = os.path.join(build.BUILD, "oracle", key.hexdigest()[:32] + ".json")
            n, errors, oracle_s = oracle.check(os.path.join(work, "tables"), results, cache)
            report["detail"]["oracle_s"] = oracle_s
            report["detail"]["oracle_wall_s"] = time.time() - t_oracle
            attempted += n
            failed += len(errors)
            failures += [f"oracle: {e}" for e in errors]
        e2e = dict(report["end_to_end"])
        if attempted:
            e2e["success_ratio"] = (attempted - failed) / attempted
        load_end = load_avg()
        # CPU the rest of the machine used while the runner ran, in cores:
        # another tenant or a stolen vCPU makes the run's numbers suspect
        busy1, steal1 = cpu_jiffies()
        own1 = os.times()
        hz, wall = os.sysconf("SC_CLK_TCK"), max(1e-3, time.time() - t0)
        own = sum(own1[:4]) - sum(own0[:4])
        other_cores = ((busy1 - busy0) / hz - own) / wall
        steal_cores = (steal1 - steal0) / hz / wall

        if args.trace:
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            metrics = {n: {"value": report["layer"].get(n, 0.0), "unit": u} for n, u in names}
            if os.path.exists(os.path.join(work, "spans.json")):
                shutil.copy(os.path.join(work, "spans.json"), os.path.join(artifacts, tag + ".spans.json"))
        else:
            names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
            missing = [n for n, _ in names if n not in e2e]
            if missing:
                sys.stderr.write("\n".join(failures[:20]) + "\n")
                raise SystemExit(f"perfbench: no value for {missing}; log in {log_path}")
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in names}
        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "load_start": load_start, "load_end": load_end,
            "other_cpu_cores": other_cores, "steal_cores": steal_cores,
            "contended": other_cores > 0.5 or steal_cores > 0.25,
            "attempted": attempted, "failed": failed, "failures": failures[:50],
            "end_to_end": e2e, "layer": report["layer"], "detail": report["detail"],
            "wall_s": time.time() - started,
        }
        with open(os.path.join(artifacts, tag + ".json"), "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        for msg in failures[:20]:
            sys.stderr.write(f"perfbench: FAILED {msg}\n")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
