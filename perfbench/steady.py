#!/usr/bin/env python3
"""Steadiness check: run one workload k times on this tree (seeds s0..s0+k-1)
and print, for every end-to-end metric in BENCHMARK.json, the median, the
quartiles and the spread (q3 - q1) / median against the metric's bound.

    python3 perfbench/steady.py --workload dashboard_read --runs 10
    python3 perfbench/steady.py --workload push_ingest --runs 5 --seed0 100 --out runs.jsonl

Quartiles are Python's statistics.quantiles(values, n=4). setup_s is
reported but its spread is not held to the bound (only its median is
compared between trees). Exit code 1 if any other spread exceeds its bound
or a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", help="append each run's JSON result to this file")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for i in range(a.runs):
        seed = a.seed0 + i
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
            print(f"seed {seed}: run failed (exit {r.returncode})")
            print("\n".join(l for l in lines if l.startswith("#")))
            sys.exit(1)
        res = json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, **res}) + "\n")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v[-1]:.4f}" for k, v in values.items()),
              flush=True)

    ok = True
    print(f"\n{a.workload}: {a.runs} runs")
    print(f"{'metric':<16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}  verdict")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        if m["name"] == "setup_s":
            verdict = "not held to the bound"
        elif spread <= m["bound"] / 3:
            verdict = "steady (< bound/3)"
        elif spread <= m["bound"]:
            verdict = "within bound"
        else:
            verdict = "TOO WIDE"
            ok = False
        print(f"{m['name']:<16} {med:>10.4f} {q1:>10.4f} {q3:>10.4f} {spread:>8.4f} "
              f"{m['bound']:>6.2f}  {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
