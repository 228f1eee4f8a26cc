#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and report, per
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median) against the metric's bound in BENCHMARK.json.

    python3 tsbench/steady.py [--workloads tsql_ingest,fleet] [--seeds 1-10]

Run from the root of a checkout. Every run's result line, with the
figures it printed for people (wall-clock times, stolen share) under
"printed", is kept in .bench_build/tsbench/steady-<first seed>-<last seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10", help="first-last")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runs = {}
    for w in a.workloads.split(","):
        for seed in range(lo, hi + 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            result = json.loads(line) if line.startswith("{") else {}
            result["printed"] = {
                p[0]: float(p[1]) for p in (l.split() for l in out.stdout.splitlines())
                if len(p) == 4 and p[3].startswith("n=")}
            if out.returncode != 0 or not result.get("correct"):
                print(f"{w} seed {seed}: exit {out.returncode}, result {line[:200]}")
            runs.setdefault(w, []).append(result)
    os.makedirs(os.path.join(".bench_build", "tsbench"), exist_ok=True)
    with open(os.path.join(".bench_build", "tsbench", f"steady-{lo}-{hi}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    print(f"{'workload':12} {'metric':14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for w, results in runs.items():
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results if "metrics" in r]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"{w:12} {m['name']:14} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{(q3 - q1) / med:7.3f} {m['bound']:6.2f}")


if __name__ == "__main__":
    main()
