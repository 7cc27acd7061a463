#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, two workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

    batch            the reference pipeline's 20-query surface plus one query
                     of each job-bound iterative family (graph, BPE, suffix
                     array) and one hash-kernel query (char minhash); one
                     timed pass, which outlasts --seconds
    stream_pipeline  EtlJob + AnalyticsJob over generated JSONL envelopes:
                     a seeded backlog, then a live open-loop phase of
                     --seconds

The first run in a checkout compiles the engine from `src/main/scala`
together with the harness in `perfbench/src` (sbt, offline) and writes the
batch input tables under `perfbench/.work/data`. Later runs reuse both
while the sources are unchanged.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end metrics; with `--trace 1` the run also repeats the work with
Spark listeners registered and reports the per-layer metrics (a layer a
workload does not exercise reports 0). The lines before it are a
readable report: every end-to-end metric with its unit, `error_ratio`,
per-query times and any output mismatch.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "build.stamp")
WORKLOADS = ["batch", "stream_pipeline"]
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("compiling engine and harness (sbt)")
    t0 = time.time()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                         f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "writeClasspath"],
                        cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, timeout=840).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (sbt exit {rc})")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
            "run from a full checkout of the repository")
        sys.exit(2)
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms1g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    lines = out.rstrip("\n").split("\n") if out else []
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out or "")
        log(f"benchmark process failed (exit {proc.returncode})")
        sys.exit(proc.returncode or 5)
    log(f"run took {time.time() - t_start:.1f} s")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            spec = json.load(fh)
        want = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]
        if list(result["metrics"]) != want:
            log("metric names differ from BENCHMARK.json")
            sys.exit(6)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
