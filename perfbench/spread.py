#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1] [--seconds s]

Prints, per metric, the median, the first and third quartiles and the
spread (their distance as a share of the median, as
`statistics.quantiles(values, n=4)` gives them) and appends one JSON
line per run, with the run's host-contention stamp, to
perfbench/.work/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    runs = []
    log = os.path.join(HERE, ".work", f"spread-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"] = s
        with open(os.path.join(HERE, ".work", "reports",
                               f"{a.workload}-trace{a.trace}.json")) as f:
            r["host"] = json.load(f)["host"]
        runs.append(r)
        with open(log, "a") as f:
            f.write(json.dumps(r) + "\n")
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                  if not a.trace))
    if len(runs) < 2:
        return
    print(f"{'metric':<40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for k in runs[0]["metrics"]:
        xs = [r["metrics"][k]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:<40} {statistics.median(xs):>12.4f} {q1:>12.4f} {q3:>12.4f} "
              f"{stats.spread(xs):>8.3f}")


if __name__ == "__main__":
    main()
