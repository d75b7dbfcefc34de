#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on one workload and
reports, for every end-to-end metric, the median and the distance between
the first and third quartiles as a share of the median.

    python3 perfbench/steadiness.py <workload> <first-seed> <runs> <out.json>

Run from the repository root. The JSON file holds every run's result line
and the summary.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(workload, first_seed, runs, out):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    rows = []
    for seed in range(first_seed, first_seed + runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        rows.append({"seed": seed, "exit": p.returncode, **result})
        print(seed, p.returncode, {k: round(v["value"], 3) for k, v in result["metrics"].items()},
              flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in rows]
        q = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        summary[m["name"]] = {"median": med, "iqr_share": (q[2] - q[0]) / med,
                              "bound": m["bound"]}
        print(f"{m['name']:16s} median {med:14.4f}  iqr/median {(q[2] - q[0]) / med:.4f}"
              f"  bound {m['bound']}")
    with open(out, "w") as fh:
        json.dump({"workload": workload, "runs": rows, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
