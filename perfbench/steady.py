#!/usr/bin/env python3
"""Measure and compare the run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py run --seeds 1-10 --out .bench_build/steady/a.jsonl
    python3 perfbench/steady.py run --seeds 1-10 --out .bench_build/steady/b.jsonl
    python3 perfbench/steady.py compare .bench_build/steady/a.jsonl .bench_build/steady/b.jsonl

`run` runs perfbench/run.py once per (workload, seed) with tracing off and
appends each result as one JSON line. `compare` prints, per (metric,
workload) and per set: the run count, median, first and third quartile
(statistics.quantiles(values, n=4)), the spread (q3 - q1) / median and
whether it is within the metric's bound from BENCHMARK.json. With two sets
it also prints how far the second median lies from the first, as a share of
the first (positive when the second is worse), and holds its size to the
same bound: two sets of the same code must agree in either direction. Exits
non-zero when anything is out of bounds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def do_run(a, contract):
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in contract["workloads"]]
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    for w in names:
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(contract["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, text=True)
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                res = None
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "exit": p.returncode, "result": res}) + "\n")
            brief = "no result" if res is None else " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed {s}: exit {p.returncode} {brief}", flush=True)


def load(path):
    vals = defaultdict(list)
    bad = 0
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["exit"] != 0 or r["result"] is None:
                bad += 1
                continue
            for k, v in r["result"]["metrics"].items():
                vals[(k, r["workload"])].append(v["value"])
    return vals, bad


def stats(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def do_compare(a, contract):
    metrics = {m["name"]: m for m in contract["end_to_end"]}
    sets = [load(p) for p in a.sets]
    ok = True
    for i, (_, bad) in enumerate(sets):
        if bad:
            print(f"set {i + 1}: {bad} runs failed")
            ok = False
    print(f"{'metric':14s} {'workload':14s} {'set':>3s} {'n':>3s} {'median':>12s} {'q1':>12s} "
          f"{'q3':>12s} {'spread':>7s} {'bound':>6s}  verdict")
    for name, m in metrics.items():
        for w in [x["name"] for x in contract["workloads"]]:
            meds = []
            for i, (vals, _) in enumerate(sets):
                xs = vals.get((name, w), [])
                if len(xs) < 2:
                    print(f"{name:14s} {w:14s} {i + 1:3d} {len(xs):3d}  too few runs")
                    ok = False
                    continue
                med, q1, q3, spread = stats(xs)
                meds.append(med)
                good = spread <= m["bound"]
                ok = ok and good
                verdict = ("ok" if good else "OUT") + (" (< bound/3)" if spread < m["bound"] / 3 else "")
                print(f"{name:14s} {w:14s} {i + 1:3d} {len(xs):3d} {med:12.6g} {q1:12.6g} {q3:12.6g} "
                      f"{spread:7.3f} {m['bound']:6.3f}  {verdict}")
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                good = abs(worse) <= m["bound"]
                ok = ok and good
                print(f"{name:14s} {w:14s}  median drift {worse:+.3f} (bound {m['bound']})  "
                      f"{'ok' if good else 'OUT'}")
    sys.exit(0 if ok else 1)


def main():
    with open("BENCHMARK.json") as f:
        contract = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", help="comma-separated; default all")
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("sets", nargs="+")
    a = ap.parse_args()
    if a.cmd == "run":
        do_run(a, contract)
    else:
        if len(a.sets) > 2:
            ap.error("compare takes one or two sets")
        do_compare(a, contract)


if __name__ == "__main__":
    main()
