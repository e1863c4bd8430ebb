#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with its own seed,
and print every metric's median, quartiles, min and max, and the
quartile spread as a share of the median (the figure BENCHMARK.json's
bounds are set from).

    python3 loopbench/steady.py --workload loop --runs 10 \\
        [--first-seed 1] [--seconds 10] [--trace 0|1]

Run from the root of a checkout. Each run is a fresh `run.py` process.
With --trace 1 it also prints the end-to-end figures of the traced runs,
to set beside an untraced set (tracing overhead). A summary is written
to .bench_build/loopbench/steady-<workload>-t<trace>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    metrics, e2e, shares, bad = {}, {}, set(), 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        tag = "%s-s%d-t%d" % (a.workload, seed, a.trace)
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print("seed %d: exit %d" % (seed, p.returncode))
            bad += 1
            continue
        line = json.loads(p.stdout.strip().splitlines()[-1])
        bad += not line["correct"]
        shares.add((line["failed"], line["attempted"]) if line["failed"] else 0)
        for k, v in line["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
        with open(os.path.join(".bench_build", "loopbench", "results", tag + ".json")) as f:
            for k, v in json.load(f)["end_to_end"].items():
                e2e.setdefault(k, []).append(v)
        print("seed %d: %s" % (seed, " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in sorted(line["metrics"].items())
            if a.trace == 0)), flush=True)
    rows = {}
    print("\n%-34s %12s %12s %12s %12s %12s %8s" % (
        "metric", "min", "q1", "median", "q3", "max", "iqr/med"))
    shown = e2e if a.trace else metrics
    for k in sorted(metrics):
        vs = metrics[k]
        if len(vs) < 2:
            continue
        q1, med, q3, sp = spread(vs) if statistics.median(vs) else (0, 0, 0, 0)
        rows[k] = {"min": min(vs), "q1": q1, "median": med, "q3": q3, "max": max(vs),
                   "iqr_share": sp, "n": len(vs)}
        print("%-34s %12.5g %12.5g %12.5g %12.5g %12.5g %8.3f" % (
            k, min(vs), q1, med, q3, max(vs), sp))
    if a.trace:
        print("\nend-to-end figures of the traced runs:")
        for k in sorted(shown):
            print("%-34s median %12.5g" % (k, statistics.median(shown[k])))
    print("\nruns failing or incorrect: %d; failed shares seen: %s" % (bad, sorted(shares, key=str)))
    out = os.path.join(".bench_build", "loopbench",
                       "steady-%s-t%d.json" % (a.workload, a.trace))
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "runs": a.runs, "first_seed": a.first_seed,
                   "seconds": a.seconds, "trace": a.trace, "metrics": rows,
                   "traced_end_to_end": {k: statistics.median(v) for k, v in e2e.items()}
                   if a.trace else {}, "bad_runs": bad}, f, indent=1)


if __name__ == "__main__":
    main()
