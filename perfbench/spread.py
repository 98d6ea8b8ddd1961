#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads corpus_shuffle,daily_load --seeds 10 [--first-seed 1]

Runs the benchmark once per seed on each workload and prints, per metric,
the median and the distance between the first and third quartiles
(statistics.quantiles(values, n=4)) as a share of the median, next to the
metric's bound in BENCHMARK.json. Raw results are appended to
.bench_out/spread.jsonl.
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
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = open(os.path.join(ROOT, ".bench_out", "spread.jsonl"), "a")
    for w in a.workloads.split(","):
        values = {k: [] for k in bounds}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1])
            log.write(json.dumps({"workload": w, "seed": seed, **last}) + "\n")
            log.flush()
            for k in values:
                values[k].append(last["metrics"][k]["value"])
            print(f"{w} seed {seed}: correct={last['correct']} failed={last['failed']} " +
                  " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        for k, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            print(f"{w:15s} {k:12s} median {statistics.median(v):10.4g}  "
                  f"iqr/median {(q3 - q1) / statistics.median(v):6.3f}  bound {bounds[k]}", flush=True)


if __name__ == "__main__":
    main()
