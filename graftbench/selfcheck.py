#!/usr/bin/env python3
"""The benchmark's own test.

    python3 graftbench/selfcheck.py [--seed 7] [--workloads nightly_etl,corpus_curation]

For each workload it runs the benchmark twice with the same seed, once
untraced and once traced, and fails (exit 1) when:

  * a run is not correct, or its result line breaks the output contract
    (keys, metric names and units against BENCHMARK.json);
  * the exact counts differ: Spark jobs and tasks, output, quarantined
    and target rows, bytes and files of the data outputs and the output
    hash must be the same in every untraced iteration of both runs, and
    candidate pairs, quarantined rows and changed keys in every traced
    one. A difference there means the plan changed; a difference in
    timings alone is host noise.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("spark_jobs", "spark_tasks", "output_rows", "quarantined_rows", "anomaly_rows",
         "target_rows", "bytes_written", "files_written", "hash")
# counted in traced iterations only
TRACED_EXACT = ("llm.candidate_pairs", "llm.pair_precision", "quality.rows_quarantined",
                "incremental.changed_keys")


def run(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    res = json.loads(p.stdout.strip().splitlines()[-1])
    report = os.path.join(HERE, ".work", f"report-{workload}-{seed}-{trace}.json")
    return p.returncode, res, json.load(open(report))


def contract_errors(spec, res, trace):
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    if not (isinstance(res["attempted"], int) and res["attempted"] >= 1):
        errs.append("attempted must be a whole number >= 1")
    return errs


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    failures = []
    for wl in args.workloads.split(","):
        counts, traced = [], []
        for trace in (0, 1):
            code, res, report = run(spec, wl, args.seed, trace)
            if code != 0 or not res["correct"] or res["failed"]:
                failures.append(f"{wl} trace={trace}: run failed: {report.get('oracle_check')}")
            failures += [f"{wl} trace={trace}: {e}" for e in contract_errors(spec, res, trace)]
            # traced iterations force extra jobs at layer boundaries, so
            # they are compared among themselves on their own counts
            counts += [{k: c[k] for k in EXACT if k in c}
                       for c in report["counts"] if not c["traced"]]
            traced += [{k: c[k] for k in TRACED_EXACT if k in c}
                       for c in report["counts"] if c["traced"]]
        for what, rows in (("untraced", counts), ("traced", traced)):
            distinct = {json.dumps(c, sort_keys=True) for c in rows}
            if len(distinct) != 1:
                failures.append(f"{wl}: {what} exact counts differ: " + "; ".join(sorted(distinct)))
            print(f"{wl}: {len(rows)} {what} iterations, exact counts "
                  f"{'repeat' if len(distinct) == 1 else 'DIFFER'}: {sorted(distinct)[0]}")
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
