#!/usr/bin/env python3
"""Steadiness check: runs one workload k times in two interleaved sets
(A B A B ..., every run with its own seed) and prints, per end-to-end
metric, each set's median and quartiles, the spread (interquartile
distance over the median), and whether the sets agree within the
metric's bound from BENCHMARK.json. Host steal % and load average are
recorded per run as telemetry; the command never waits for a quiet host.
With --overhead the second set runs traced, and B vs A is the tracing
overhead.

Usage: python3 perfbench/steady.py --workload W [--k 10] [--seconds S]
           [--first-seed N] [--out FILE] [--overhead]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v) - v[3] - v[4] - v[7], v[7]  # busy, steal


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    build_dir = os.environ.get("CARGO_TARGET_DIR", os.path.join(os.path.dirname(HERE), ".bench_build"))

    runs = []
    for i in range(2 * a.k):
        seed = a.first_seed + i
        traced = a.overhead and i % 2 == 1
        load = open("/proc/loadavg").read().split()[0]
        b0, s0 = cpu_jiffies()
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(int(traced))],
                           stdout=subprocess.PIPE, text=True)
        b1, s1 = cpu_jiffies()
        if r.returncode != 0:
            sys.exit(f"run with seed {seed} failed")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        if traced:
            # a traced run prints its layers; its end-to-end figures are in the record
            with open(os.path.join(build_dir, "perfbench", f"trace-{a.workload}-{seed}.json")) as f:
                res["metrics"] = {k: {"value": v} for k, v in json.load(f)["e2e"].items()}
        steal = 100.0 * (s1 - s0) / max(1, (b1 - b0) + (s1 - s0))
        runs.append(dict(set="AB"[i % 2], seed=seed, wall_s=time.time() - t0, load=float(load),
                         steal_pct=steal, correct=res["correct"], attempted=res["attempted"],
                         failed=res["failed"],
                         metrics={k: v["value"] for k, v in res["metrics"].items()}))
        print(f"run {i + 1}/{2 * a.k} set {runs[-1]['set']} seed {seed}: "
              f"{runs[-1]['wall_s']:.0f} s, load {load}, steal {steal:.1f}%", file=sys.stderr)

    ok = True
    print(f"{'metric':16} {'set':3} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        med = {}
        for s in "AB":
            xs = [r["metrics"][name] for r in runs if r["set"] == s]
            q1, md, q3 = statistics.quantiles(xs, n=4)
            med[s] = statistics.median(xs)
            sp = spread(xs)
            within = sp <= bound
            ok &= within
            print(f"{name:16} {s:3} {q1:12.4f} {med[s]:12.4f} {q3:12.4f} {sp:7.3f} {bound:6.2f}"
                  f"{'' if within else '  SPREAD > BOUND'}")
        worse = (med["B"] - med["A"]) / med["A"] * (1 if m["better"] == "lower" else -1)
        if a.overhead:
            print(f"{'':16} tracing overhead: {100 * worse:+.1f}% ({med['B'] - med['A']:+.4f})")
            continue
        agree = abs(worse) <= bound
        ok &= agree
        print(f"{'':16} B vs A: {100 * worse:+.1f}% worse  {'agree' if agree else 'DISAGREE'}")
    shares = {s: sum(r["failed"] for r in runs if r["set"] == s) /
              sum(r["attempted"] for r in runs if r["set"] == s) for s in "AB"}
    ok &= shares["A"] == shares["B"] and all(r["correct"] for r in runs)
    print(f"failed share A {shares['A']} B {shares['B']}; all correct: {all(r['correct'] for r in runs)}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
