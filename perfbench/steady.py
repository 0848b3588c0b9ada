#!/usr/bin/env python3
"""Steadiness tool. Run from the repository root.

Run a workload N times with seeds 1..N and report, for each end-to-end
metric in BENCHMARK.json, the median, the quartiles, and the spread
(interquartile range over median) against a third of the metric's
bound:

    python3 perfbench/steady.py run --workload W [--runs 10] [--first-seed 1] [--out FILE]

Compare two saved sets of runs, metric by metric: the second median's
change against the first, and whether it stays within the bound:

    python3 perfbench/steady.py compare A.json B.json
"""
import argparse
import json
import statistics
import subprocess
import sys


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else float("inf")}


def run(args):
    b = spec()
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        p = subprocess.run(b["command"] + ["--workload", args.workload, "--seed", str(seed),
                                           "--seconds", str(b["run_seconds"]), "--trace", "0"],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(result)
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs}, f)
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound/3':>9}")
    ok = True
    for m in b["end_to_end"]:
        s = summary([r["metrics"][m["name"]]["value"] for r in runs])
        steady = m["name"] == "setup_s" or s["spread"] <= m["bound"] / 3
        ok &= steady
        print(f"{m['name']:<16}{s['median']:>12.5g}{s['q1']:>12.5g}{s['q3']:>12.5g}"
              f"{s['spread']:>9.3f}{m['bound'] / 3:>9.3f}{'' if steady else '  WIDE'}")
    return 0 if ok else 1


def compare(args):
    b = spec()
    with open(args.a) as f:
        a = json.load(f)
    with open(args.b) as f:
        c = json.load(f)
    print(f"{a['workload']}: {len(a['runs'])} vs {len(c['runs'])} runs")
    ok = True
    for m in b["end_to_end"]:
        ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a["runs"])
        mc = statistics.median(r["metrics"][m["name"]]["value"] for r in c["runs"])
        worse = (mc - ma) / ma if m["better"] == "lower" else (ma - mc) / ma
        within = worse <= m["bound"]
        ok &= within
        print(f"{m['name']:<16}{ma:>12.5g}{mc:>12.5g}  worse by {worse:+.3f}"
              f" (bound {m['bound']}){'' if within else '  OVER'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    sys.exit(run(args) if args.cmd == "run" else compare(args))


if __name__ == "__main__":
    main()
