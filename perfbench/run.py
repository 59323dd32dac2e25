#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from the checkout's sources with sbt
(once; later runs reuse the build while the sources are unchanged), runs
one workload in a fresh JVM on Spark local mode, and prints two lines: a
JSON object with the run's informational detail, then the result
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json, with `--trace 1`
its per-layer metrics. Exits non-zero when a check fails or the run
cannot be made. Everything the run writes stays under `.bench_build/`.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("serve_reads", "cdc_stream", "dedup_curation")
BUILD_TIMEOUT_S = 480
TRAIN_TIMEOUT_S = 180
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
CDS_ARCHIVE = "perfbench.jsa"
# Published reference numbers (BASELINE.md), over 1M rows of the same
# row shape with bucket=1.
BASELINE = {
    "cdc_stream": ("upsert_rows_per_s", 94.0e3,
                   "Parquet LSM upsert with changelog-producer=lookup, JDK 11, Apple M3 Pro"),
    "serve_reads": ("fullscan_rows_per_s", 975.4e3, "Parquet full scan, JDK 8, Apple M1 Pro"),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root, bench):
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(bench, "build.sbt"),
            os.path.join(bench, "project"), os.path.join(bench, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, bench, state):
    """Compile engine + benchmark with sbt, record the class-data-sharing
    archive, and return the runtime classpath (jars)."""
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "stamp.txt")
    stamp = source_stamp(root, bench)
    with open(os.path.join(state, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read()
        log_path = os.path.join(state, "build.log")
        with open(log_path, "w") as log:
            try:
                r = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export Runtime/fullClasspathAsJars"],
                    cwd=bench, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                    timeout=BUILD_TIMEOUT_S, text=True)
            except subprocess.TimeoutExpired:
                fail(f"build timed out, see {log_path}")
            log.write(r.stdout)
        if r.returncode != 0:
            fail(f"build failed, see {log_path}")
        lines = [l.strip() for l in r.stdout.splitlines()
                 if os.pathsep in l and not l.startswith("[")]
        if not lines:
            fail(f"build printed no classpath, see {log_path}")
        cp = lines[-1]
        train_cds(cp, state)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def train_cds(cp, state):
    """Record the classes a short pass over every workload loads into a
    class-data-sharing archive; runs then start faster and steadier. A
    failed recording only leaves the runs without the archive."""
    jsa = os.path.join(state, CDS_ARCHIVE)
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(state, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = java(cp, [f"-XX:ArchiveClassesAtExit={jsa}"],
                  ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "1",
                   "--work", work, "--out", os.path.join(work, "out.json")],
                  work, os.path.join(state, "train.log"), TRAIN_TIMEOUT_S)
        if rc != 0 and os.path.exists(jsa):
            os.remove(jsa)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def java(cp, jvm_opts, main_args, work, log_path, timeout):
    """Run perfbench.Main in a JVM of its own; returns its exit code, or
    None when it was killed at `timeout` seconds."""
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [exe, *opens, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", *jvm_opts, "-cp", cp, "perfbench.Main", *main_args]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp = build(root, bench, state)

    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(state, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    try:
        t0 = time.time()
        jsa = os.path.join(state, CDS_ARCHIVE)
        rc = java(cp, [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [],
                  ["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--work", work, "--out", out],
                  work, log_path, RUN_TIMEOUT_S)
        if rc is None:
            fail(f"run timed out after {RUN_TIMEOUT_S} s, see {log_path}")
        if rc != 0 or not os.path.exists(out):
            fail(f"run failed with exit code {rc}, see {log_path}")
        with open(out) as f:
            res = json.load(f)
        if args.trace:
            with open(os.path.join(state, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(res["trace"], f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or not isinstance(got["value"], (int, float)) \
                or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} missing or not finite: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    detail = dict(res["detail"])
    detail["process_s"] = time.time() - t0
    if args.workload in BASELINE:
        key, ref, label = BASELINE[args.workload]
        detail["baseline"] = {
            "metric": key, "measured": detail[key], "published": ref,
            "ratio": detail[key] / ref,
            "published_on": label + ", 1M rows, bucket=1",
            "measured_on": detail["hardware"] + ", bucket=cores, sizes in README.md",
        }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": detail}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
