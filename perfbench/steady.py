#!/usr/bin/env python3
"""Steadiness check for the benchmark: two interleaved sets of runs of the
same code, each run with its own seed.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--out steady.json]

For every workload in BENCHMARK.json (or --workloads) it runs set A and set
B alternately, --runs times each, and reports per set and end-to-end
metric the median, the quartiles and the spread (interquartile range as a
share of the median, from statistics.quantiles(n=4)), plus the shift of
set B's median against set A's in the metric's worse direction. A metric
passes when both spreads and the shift stay within its bound, setup_s
included; the share of failed operations must be equal in both sets, and
every run correct.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf"),
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    report, ok = {}, True
    for w in workloads:
        sets = {"A": [], "B": []}
        walls = []
        for i in range(args.runs):
            for s, off in (("A", 0), ("B", 1)):
                res, wall = one_run(w, args.seed0 + 2 * i + off, bench["run_seconds"])
                sets[s].append(res)
                walls.append(wall)
                print(f"{w} set {s} run {i}: {wall:.1f}s correct={res['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      file=sys.stderr, flush=True)
        rep = {"run_wall_s": summary(walls), "metrics": {}}
        shares = {s: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for s, rs in sets.items()}
        rep["failed_share"] = shares
        ok &= shares["A"] == shares["B"] and all(r["correct"] for rs in sets.values() for r in rs)
        for name in sets["A"][0]["metrics"]:
            a = summary([r["metrics"][name]["value"] for r in sets["A"]])
            b = summary([r["metrics"][name]["value"] for r in sets["B"]])
            m = metrics.get(name)
            entry = {"A": a, "B": b}
            if m:
                worse = (b["median"] - a["median"]) / a["median"]
                if m["better"] == "higher":
                    worse = -worse
                entry["shift"] = worse
                entry["bound"] = m["bound"]
                entry["pass"] = max(a["spread"], b["spread"]) <= m["bound"] and worse <= m["bound"]
                ok &= entry["pass"]
            rep["metrics"][name] = entry
            print(f"{w:18s} {name:22s} A {a['median']:.4g} ({a['spread']:.3f})  "
                  f"B {b['median']:.4g} ({b['spread']:.3f})  shift {entry.get('shift', 0):+.3f}"
                  f"  bound {entry.get('bound', '-')}")
        report[w] = rep
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    print("PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
