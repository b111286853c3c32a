#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  It builds the engine and the benchmark
program from source (once per source state; the build lives in
.bench_build/), generates the workload's inputs from --seed, runs the
benchmark JVM, prints every metric by name and unit, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}.  --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run (its
spans are written next to the result under .bench_build/).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("daily_etl", "serve_reads")
DEADLINE_S = 175          # a run must end within 180 s once built
BUILD_DEADLINE_S = 700    # the first run in a checkout builds (900 s in all)
HEAP = "3g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the engine's build.sbt passes the same list to `run`).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from this checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark program; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to perfbench/ (run from a full checkout)")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, log, deadline, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + \
        [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + \
        [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"benchmark JVM did not finish in time, see {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs (the benchmark's own smoke tests)")
    a = ap.parse_args()

    started = time.time()
    cp = build()
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        gen.generate(a.workload, a.seed, inp, a.tiny)
        out = os.path.join(run_dir, "result.json")
        rc = run_jvm(cp, ["--workload", a.workload, "--input", inp, "--work", work,
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--out", out],
                     os.path.join(BUILD, f"jvm-{a.workload}.log"), deadline, work)
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {rc}, see .bench_build/jvm-{a.workload}.log")
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            shutil.copy(out + ".spans.json",
                        os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["layer"] if a.trace else res["e2e"]
    for name, m in list(res["e2e"].items()) + list(res["detail"].items()) + \
            (list(res["layer"].items()) if a.trace else []):
        print(f"{a.workload} {name} = {m['value']} {m['unit']}")
    frac = res["failed"] / max(1, res["attempted"])
    print(f"{a.workload} failed_frac = {frac} ratio")
    for f in res["failures"]:
        print(f"{a.workload} failure: {f}")
    print(f"{a.workload} wall_s = {time.time() - started:.1f} s")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
