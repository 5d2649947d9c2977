#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workloads backfill continuous --seeds 1 2 3 4 5

Runs perfbench/run.py once per workload and seed (untraced), then prints
for every metric its median over the runs and the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of that
median, beside the metric's bound from BENCHMARK.json. Every run's last
line is appended to --log as JSON.
"""

import argparse
import json
import os
import subprocess
import sys

from run import BENCH_DIR, ROOT, iqr_share, median


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--log")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads:
        values = {}
        for seed in a.seeds:
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: failed (exit {p.returncode})")
                continue
            r = json.loads(last)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, **r}) + "\n")
            print(f"{w} seed {seed}: correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            if len(xs) >= 2:
                print(f"{w} {k}: n={len(xs)} median={median(xs):.4g} iqr/median={iqr_share(xs):.4f} "
                      f"bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
