#!/usr/bin/env python3
"""Steadiness report: run each workload N times with different seeds.

    python3 graftbench/steady.py --runs 10 [--workloads nightly_etl,...] [--first-seed 1]

For every end-to-end metric it prints the median, the first and third
quartiles (statistics.quantiles(values, n=4)), the spread (Q3 - Q1) as a
share of the median, and that spread against the metric's bound in
BENCHMARK.json. The spread of `setup_s` is printed but not gated: the
benchmark contract bounds only how far its median may move between two
sets of runs. It also prints each run's wall time, so the cost of a
full set of runs can be checked against the time budget. The raw figures
go to graftbench/.work/steady-<workload>.json.
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


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    metrics = spec["end_to_end"]
    bad = 0
    for wl in args.workloads.split(","):
        values = {m["name"]: [] for m in metrics}
        walls = []
        for k in range(args.runs):
            seed = args.first_seed + k
            t0 = time.monotonic()
            p = subprocess.run(spec["command"] + ["--workload", wl, "--seed", str(seed),
                                                  "--seconds", str(spec["run_seconds"]),
                                                  "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            walls.append(time.monotonic() - t0)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if p.returncode != 0 or not res["correct"]:
                print(f"{wl} seed {seed}: FAILED ({res})")
                bad += 1
                continue
            for name in values:
                values[name].append(res["metrics"][name]["value"])
            print(f"{wl} seed {seed}: {walls[-1]:.1f} s wall, " + ", ".join(
                f"{n}={v[-1]:.4g}" for n, v in values.items() if v), flush=True)
        with open(os.path.join(HERE, ".work", f"steady-{wl}.json"), "w") as f:
            json.dump({"values": values, "walls": walls}, f, indent=1)
        print(f"\n{wl}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        print(f"{'metric':<16}{'unit':<8}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'ratio':>7}")
        for m in metrics:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            gated = "" if m["name"] != "setup_s" else "  (not gated)"
            print(f"{m['name']:<16}{m['unit']:<8}{med:12.4g}{q1:12.4g}{q3:12.4g}{spread:9.3f}"
                  f"{m['bound']:>7}{spread / m['bound']:7.2f}{gated}")
        print()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
