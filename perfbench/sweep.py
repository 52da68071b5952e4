#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

Usage: python3 perfbench/sweep.py --workloads relational,stateful \
           --seeds 1-10 [--trace 0|1] [--seconds S] [--out FILE]

Runs each workload once per seed, in the order given, from the repository
root, and prints per metric the median, the quartiles and the spread (the
inter-quartile distance as a share of the median), plus each run's wall
time. With --out, writes every run's result line and the summary as JSON.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    record = {"seconds": args.seconds, "trace": args.trace, "cores": os.cpu_count(),
              "workloads": {}}
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds(args.seeds):
            t0 = time.time()
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if res.returncode != 0:
                sys.stderr.write(res.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed} exited with {res.returncode}")
            line = json.loads(res.stdout.strip().splitlines()[-1])
            line.update(seed=seed, wall_s=round(wall, 1))
            runs.append(line)
            print(f"{w} seed {seed}: {wall:.1f} s wall, correct={line['correct']} "
                  f"failed={line['failed']}/{line['attempted']}", flush=True)
        summary = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            row = {"median": med, "unit": runs[0]["metrics"][m]["unit"]}
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                row.update(q1=q1, q3=q3, spread=stats.spread(vals) if med else None)
            summary[m] = row
            print(f"  {m:32s} median {med:12.4f} spread "
                  f"{row.get('spread') if row.get('spread') is None else round(row['spread'], 4)}")
        walls = [r["wall_s"] for r in runs]
        print(f"  wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        record["workloads"][w] = {"runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
