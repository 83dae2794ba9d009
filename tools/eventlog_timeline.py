#!/usr/bin/env python3
"""SQL-execution timeline of a Spark event log.

For every SQL execution in the log, prints one line: start offset from
the application start, duration, the number of Spark jobs and tasks it
ran, and the first `graft.*` frame of its call site (the engine call
that triggered it). Jobs that ran outside any SQL execution (RDD-level
actions such as a schema-inference job of `spark.read.parquet`) follow,
one line each: start offset, duration, the name of the job's final
stage (its call site, e.g. `load at Sources.scala:60`) and the first
`graft.*` frame of that stage's call stack.

The log may be plain JSON lines, a `.zstd` file (decompressed through
the `zstd` binary on PATH), or a rolling event-log directory whose
`events_*` parts are read in order.

Usage: python3 tools/eventlog_timeline.py EVENT_LOG [--min-s SECONDS]

`--min-s` hides executions shorter than SECONDS (default 0). Produce a
log by running any graft JVM with `-Dspark.eventLog.enabled=true` and
`-Dspark.eventLog.dir=<dir>`. Exit code 0 always (reporting tool).
"""
import json
import os
import re
import subprocess
import sys

GRAFT_FRAME = re.compile(r"^\s*(graft\.[^\s(]+)\(([^)]*)\)")
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def read_lines(path):
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.startswith("events_")]
        # rolling parts are events_<index>_<app>[.codec]
        parts.sort(key=lambda p: int(p.split("_")[1]))
        for p in parts:
            yield from read_lines(os.path.join(path, p))
        return
    if path.endswith(".zstd") or path.endswith(".zst"):
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             capture_output=True).stdout
        yield from out.decode("utf-8").splitlines()
        return
    with open(path, encoding="utf-8") as f:
        yield from f


def first_graft_frame(details):
    for line in (details or "").splitlines():
        m = GRAFT_FRAME.match(line)
        if m:
            return f"{m.group(1)}({m.group(2)})"
    return "-"


def timeline(path):
    app_start = None
    execs = {}          # execution id -> dict
    job_exec = {}       # job id -> execution id (None if outside SQL)
    stage_job = {}      # stage id -> first job that lists it
    jobs = {}           # job id -> start, end, stage name, graft frame
    for raw in read_lines(path):
        raw = raw.strip()
        if not raw:
            continue
        ev = json.loads(raw)
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif kind == SQL_START:
            execs[ev["executionId"]] = {
                "start": ev["time"], "end": None, "jobs": 0, "tasks": 0,
                "site": first_graft_frame(ev.get("details"))}
        elif kind == SQL_END:
            if ev["executionId"] in execs:
                execs[ev["executionId"]]["end"] = ev["time"]
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            eid = int(eid) if eid is not None and int(eid) in execs else None
            job_exec[ev["Job ID"]] = eid
            infos = ev.get("Stage Infos") or []
            final = max(infos, key=lambda i: i["Stage ID"], default={})
            jobs[ev["Job ID"]] = {
                "start": ev.get("Submission Time"), "end": None,
                "name": final.get("Stage Name", "-"),
                "site": first_graft_frame(final.get("Details"))}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
            if eid is not None:
                execs[eid]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            eid = job_exec.get(stage_job.get(ev["Stage ID"]))
            if eid is not None:
                execs[eid]["tasks"] += 1
    outside = [dict(jobs[j], job=j) for j in sorted(jobs) if job_exec[j] is None]
    return app_start, execs, outside


def main(argv):
    if len(argv) < 2 or argv[1].startswith("-"):
        print(__doc__)
        return 0
    min_s = 0.0
    if "--min-s" in argv:
        min_s = float(argv[argv.index("--min-s") + 1])
    app_start, execs, outside = timeline(argv[1])
    if not execs and not outside:
        print("no SQL executions or jobs in the log")
        return 0
    origin = app_start if app_start is not None else min(
        [e["start"] for e in execs.values()] +
        [j["start"] for j in outside if j["start"] is not None])
    print(f"{'exec':>5} {'start_s':>9} {'dur_s':>7} {'jobs':>5} {'tasks':>6}  call site")
    shown = 0
    for eid in sorted(execs):
        e = execs[eid]
        dur = (e["end"] - e["start"]) / 1000.0 if e["end"] is not None else float("nan")
        if dur < min_s:
            continue
        shown += 1
        print(f"{eid:>5} {(e['start'] - origin) / 1000.0:>9.3f} {dur:>7.3f} "
              f"{e['jobs']:>5} {e['tasks']:>6}  {e['site']}")
    print(f"{shown} of {len(execs)} SQL executions shown; "
          f"{len(outside)} jobs ran outside any SQL execution")
    if outside:
        print(f"{'job':>5} {'start_s':>9} {'dur_s':>7}  stage name | call site")
    for j in outside:
        start = (j["start"] - origin) / 1000.0 if j["start"] is not None else float("nan")
        dur = ((j["end"] - j["start"]) / 1000.0
               if j["end"] is not None and j["start"] is not None else float("nan"))
        print(f"{j['job']:>5} {start:>9.3f} {dur:>7.3f}  {j['name']} | {j['site']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
