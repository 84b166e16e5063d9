#!/usr/bin/env python3
"""Steadiness check for the benchmark.

Runs the benchmark's own tests, then repeats each workload with a different
seed per run and reports, for every metric, the median, the quartiles
(statistics.quantiles(values, n=4)) and the spread (q3 - q1) / median
against the metric's bound in BENCHMARK.json:

    python3 perfbench/steady.py                       # all workloads, 10 seeds
    python3 perfbench/steady.py --workloads operator_mix --runs 5
    python3 perfbench/steady.py --compare A.json B.json   # two sets of runs

Every end-to-end metric, setup_s included, fails the check when its spread
exceeds its bound. Each set of runs is saved as JSON under
.bench_build/steady/. --compare checks that two sets of runs of the same
code agree: each metric's medians may differ by at most its bound, in
either direction.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_tests():
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    if not ok:
        sys.exit("benchmark self-tests failed")


def summarize(values, bound):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound}


def report(results, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl, runs in results.items():
        bad = [r for r in runs if not r["correct"] or r["failed"]]
        print(f"\n{wl}: {len(runs)} runs, {len(bad)} with failed operations")
        ok &= not bad
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            s = summarize(vals, bounds[name])
            verdict = ("ok" if s["spread"] <= s["bound"] / 3 else
                       "within bound" if s["spread"] <= s["bound"] else "TOO WIDE")
            ok &= s["spread"] <= s["bound"]
            print(f"  {name:24s} median {s['median']:12.5g}  q1 {s['q1']:12.5g}  "
                  f"q3 {s['q3']:12.5g}  spread {s['spread']:.4f}  "
                  f"bound {s['bound']}  {verdict}")
    return ok


def compare(a_path, b_path, bench):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    ok = True
    for m in bench["end_to_end"]:
        for wl in a:
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[wl])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[wl])
            shift = (mb - ma) / ma
            good = abs(shift) <= m["bound"]
            ok &= good
            print(f"{wl:20s} {m['name']:16s} {ma:12.5g} -> {mb:12.5g}  "
                  f"shift {shift:+.4f} (bound {m['bound']})  {'ok' if good else 'DISAGREE'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = ap.parse_args()
    bench = spec()
    if a.compare:
        sys.exit(0 if compare(*a.compare, bench) else 1)
    run_tests()
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    results = {}
    for wl in workloads:
        results[wl] = []
        for seed in range(1, a.runs + 1):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{wl} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
            out_lines = p.stdout.strip().splitlines()
            r = json.loads(out_lines[-1])
            r["seed"], r["wall_s"] = seed, time.time() - t0
            r["printed"] = {ln.split()[0]: float(ln.split()[1]) for ln in out_lines[:-1]
                            if len(ln.split()) == 3}
            results[wl].append(r)
            print(f"{wl} seed {seed}: {r['wall_s']:.1f} s wall, "
                  + ", ".join(f"{k}={v:.5g}" for k, v in r["printed"].items()),
                  flush=True)
    out_dir = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, time.strftime("%Y%m%d-%H%M%S") + ".json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\nsaved {out}")
    sys.exit(0 if report(results, bench) else 1)


if __name__ == "__main__":
    main()
