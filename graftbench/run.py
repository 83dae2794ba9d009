#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 graftbench/run.py --workload nightly_etl --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark program from source with sbt (once per
source state), generates the input corpus (once per generator state),
then runs one workload in a pinned JVM launched with `java` on the built
classpath:

  * `setup_s`     median of the run's set-ups (two JVM launches, one after
                  the other), each from launch to a ready SparkSession
                  with the inputs registered;
  * `first_run_s` the first iteration in a fresh JVM (cold JIT, codegen);
  * `run_s`       median of the warm iterations measured for --seconds;
  * `rows_per_s`  input rows per iteration / run_s;
  * `peak_heap_mb` largest live heap after an iteration (read after GC,
                  outside the timed region).

Outputs are checked against an independent DuckDB computation over the
same parquet, and every iteration's output hash must equal the first's.
The last stdout line is the JSON result; on a mismatch `correct` is false
and the exit code is 1. With --trace 1 the metrics are the per-layer
ones (see graftbench/README.md). All files live under graftbench/.work.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")

sys.path.insert(0, HERE)
import cdc  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("nightly_etl", "corpus_curation")
# Input sizes, as shares of TPC-H sf1 row counts (see README.md).
SCALE = 0.03
DOC_SCALE = 0.024
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"
# Two set-ups per run: a third costs more than a warm iteration, and
# 4 + 22 runs per workload must fit in 3420 s (see README.md).
SETUPS = 2
RUN_TIMEOUT_S = 150

# Row counts and DuckDB digests of the generated inputs at SCALE. A
# generator change that alters the data fails here, before any timing.
EXPECTED_ROWS = {"nation": 25, "customer": 4500, "orders": 45000,
                 "lineitem": 180000, "documents": 1200}
EXPECTED_DIGESTS = {"nation": "211256327148942731219",
                    "customer": "41559060027516287605812",
                    "orders": "416745417539146524238942",
                    "lineitem": "1661677846321277511862603",
                    "documents": "11324002506421234023414"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


T0 = time.monotonic()


def log(msg):
    print(f"[graftbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs if f.endswith(".scala"))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt compile + classpath export, skipped when sources are unchanged."""
    stamp = tree_hash([ENGINE_SRC, BENCH_SRC, os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    out = os.path.join(WORK, "build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, main, args):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-XX:ActiveProcessorCount={CORES}",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + args


def jvm_env():
    # knobs that would change plan shape from outside are not inherited
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}


def data(cp):
    """Generate the inputs once per generator state; verify counts and digests."""
    stamp = tree_hash([os.path.join(BENCH_SRC, "graftbench", "Data.scala"),
                       os.path.join(ENGINE_SRC, "graft", "sources", "Datagen.scala")])
    stamp += f"/{SCALE}/{DOC_SCALE}"
    d = os.path.join(WORK, "data")
    manifest = os.path.join(d, "manifest.json")
    m = json.load(open(manifest)) if os.path.exists(manifest) else {}
    if m.get("stamp") != stamp:
        log(f"generating inputs at scale {SCALE}, documents at {DOC_SCALE}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
        with open(os.path.join(WORK, "datagen.log"), "w") as lf:
            subprocess.run(java_cmd(cp, "graftbench.Data", [d, str(SCALE), str(DOC_SCALE), str(CORES)]),
                           check=True, stdout=lf, stderr=lf, env=jvm_env(), timeout=600)
        rows, digests = oracle.table_digests(d, EXPECTED_ROWS)
        m = {"stamp": stamp, "rows": rows, "digests": digests}
        with open(manifest, "w") as f:
            json.dump(m, f, indent=1)
    if m["rows"] != EXPECTED_ROWS:
        raise SystemExit(f"input row counts {m['rows']} != expected {EXPECTED_ROWS}")
    if m["digests"] != EXPECTED_DIGESTS:
        raise SystemExit(f"input digests {m['digests']} != expected {EXPECTED_DIGESTS}")
    return d


class Jvm:
    """One benchmark JVM; `ready()` returns seconds from launch to READY.
    Every JVM shares one deadline, so a hung run ends within the budget."""

    def __init__(self, cp, args, logname, deadline):
        self.t0 = time.perf_counter()
        self.log = open(os.path.join(WORK, logname), "w")
        self.p = subprocess.Popen(java_cmd(cp, "graftbench.Main", args),
                                  stdout=subprocess.PIPE, stderr=self.log,
                                  text=True, env=jvm_env())
        self.deadline = deadline
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def expect(self, tag):
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, self.deadline - time.monotonic()))
            except queue.Empty:
                line = None
            if line is None:
                break
            if line.startswith(tag + " "):
                return json.loads(line[len(tag) + 1:])
        self.p.kill()
        self.close()
        raise SystemExit(f"benchmark JVM ended without {tag}; see {self.log.name}")

    def ready(self):
        info = self.expect("READY")
        return time.perf_counter() - self.t0, info

    def close(self):
        try:
            self.p.wait(timeout=max(1, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self.log.close()


def run(args):
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("engine sources not found next to the benchmark")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()
    d = data(cp)
    log("build and inputs ready")
    wdir = os.path.join(WORK, "run")
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    if args.workload == "nightly_etl":
        con = oracle.connect(d)
        batch = cdc.write_inputs(con, os.path.join(wdir, "nightly_etl", "inputs"), args.seed,
                                 EXPECTED_ROWS["orders"], EXPECTED_ROWS["customer"])
        con.close()
        input_rows = batch + sum(EXPECTED_ROWS[t] for t in
                                 ("lineitem", "orders", "customer", "nation"))
    else:
        input_rows = EXPECTED_ROWS["documents"]
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cores", str(CORES), "--data", d, "--work", wdir,
             "--input-rows", str(input_rows)]

    deadline = time.monotonic() + RUN_TIMEOUT_S
    setups = []
    for k in range(SETUPS - 1):
        j = Jvm(cp, jargs + ["--setup-only", "1"], f"setup-{k}.log", deadline)
        setups.append(j.ready()[0])
        j.close()
    main = Jvm(cp, jargs, "main.log", deadline)
    s, info = main.ready()
    setups.append(s)
    log(f"JVM maxMemory {info['max_memory_bytes']} B, persistIfSmall budget "
        f"{info['persist_if_small_budget_bytes']} B, local[{info['cores']}]")
    res = main.expect("RESULT")
    log(f"{res['attempted']} iterations done")
    main.close()
    log("JVM stopped")
    ok, detail = oracle.check(args.workload, d, res["oracle"])
    log("oracle checked")
    failed = res["failed"]
    if not ok:
        failed = res["attempted"]
        log(f"ORACLE MISMATCH: {detail}")
    res["oracle_check"] = detail
    res["setup_runs_s"] = setups
    report = os.path.join(WORK, f"report-{args.workload}-{args.seed}-{args.trace}.json")
    with open(report, "w") as f:
        json.dump(res, f, indent=1)

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.trace:
        values, names = res["per_layer"], spec["per_layer"]
    else:
        values = dict(res, setup_s=statistics.median(setups))
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    correct = ok and failed == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
