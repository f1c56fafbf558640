#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

Usage (from the repository root):
    python3 perfbench/sweep.py [--runs 10] [--out file]

For every workload in BENCHMARK.json, runs perfbench/run.py untraced once
per seed (1..runs) and reports, per metric, the median and the spread: the distance
between the first and third quartiles (statistics.quantiles, n=4) as a
share of the median. A metric's spread must stay below its bound in
BENCHMARK.json. Writes the summary as JSON to --out (default stdout) and
exits non-zero if any run failed or any output check failed.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    spec = {m["name"]: m for m in bench["end_to_end"]}
    summary = {"host": {"cores": os.cpu_count(), "platform": platform.platform(),
                        "date": time.strftime("%Y-%m-%d")},
               "run_seconds": bench["run_seconds"],
               "workloads": {}}
    for w in names:
        values, wall, bad = {}, [], 0
        for seed in range(1, a.runs + 1):
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall.append(time.time() - t0)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                bad += 1
                print(f"{w} seed {seed}: exit {r.returncode}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            bad += 0 if res["correct"] and res["failed"] == 0 else 1
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {wall[-1]:.0f} s " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in sorted(res["metrics"].items())),
                file=sys.stderr)
        out = {"runs": a.runs, "bad_runs": bad, "wall_s_median": statistics.median(wall),
               "metrics": {}}
        for k, vs in sorted(values.items()):
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            out["metrics"][k] = {
                "unit": spec[k]["unit"], "median": med,
                "spread": (q[2] - q[0]) / med if med else None,
                "bound": spec[k]["bound"], "values": vs}
        summary["workloads"][w] = out
    text = json.dumps(summary, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    if any(w["bad_runs"] for w in summary["workloads"].values()):
        raise SystemExit("perfbench: some runs failed or were incorrect")


if __name__ == "__main__":
    main()
