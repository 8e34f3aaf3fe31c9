#!/usr/bin/env python3
"""Run every workload for one seed and print every metric by name and unit.

    python3 perfbench/all.py --seed 1 [--seconds 10] [--trace]

Runs each workload of BENCHMARK.json once through perfbench/run.py (end-to-end
metrics; with --trace also the traced run for the per-layer metrics), prints
one line per (workload, metric) with its unit, the run's failed_ops ratio
(failed / attempted), and the input properties. Exits non-zero when any run
failed a check or did not finish.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    """One run.py invocation; returns (exit code, inputs, result or None)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    inputs = next((json.loads(l[len("inputs "):]) for l in lines if l.startswith("inputs ")), {})
    try:
        return p.returncode, inputs, json.loads(lines[-1])
    except (IndexError, ValueError):
        return p.returncode, inputs, None


def main():
    with open("BENCHMARK.json") as f:
        contract = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=contract["run_seconds"])
    ap.add_argument("--trace", action="store_true", help="also print the per-layer metrics")
    a = ap.parse_args()
    ok = True
    for w in contract["workloads"]:
        for trace in ([False, True] if a.trace else [False]):
            code, inputs, res = run(w["name"], a.seed, a.seconds, trace)
            if res is None:
                print(f"{w['name']:14s} run failed (exit code {code})")
                ok = False
                continue
            ok = ok and code == 0 and res["correct"]
            for name, m in res["metrics"].items():
                print(f"{w['name']:14s} {name:48s} {m['value']:>16.6g} {m['unit']}")
            print(f"{w['name']:14s} {'failed_ops':48s} {res['failed'] / res['attempted']:>16.6g} ratio"
                  f"  ({res['failed']}/{res['attempted']}, correct={res['correct']})")
        print(f"{w['name']:14s} inputs {json.dumps(inputs, sort_keys=True)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
