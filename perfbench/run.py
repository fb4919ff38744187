"""Run one workload of the extraction benchmark.

    python3 perfbench/run.py --workload interleaved --seed 1 --seconds 10 --trace 0

Workloads: interleaved, binary, commit_resume (see perfbench/README.md).
Builds the program and the benchmark from source on first use (build.py),
stages the seeded fixtures in a JVM of its own unless they are cached, then
runs one JVM on local[<usable cores>] and prints, as the last stdout line,
one JSON object {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. Everything it
writes stays under .bench_build/ in the checkout. Exits non-zero without a
result line when anything fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources
import build  # noqa: E402

WORKLOADS = ("interleaved", "binary", "commit_resume")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (matches the program's
# sbt javaOptions and Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Sources whose change must invalidate staged fixtures: the corpus
# generator, the model, the file writers (all in extract/) and the
# benchmark's own staging code.
FIXTURE_SOURCES = [
    "src/main/scala/graft/io/SyntheticDocs.scala",
    "src/main/scala/graft/model",
    "src/main/scala/graft/extract",
    "src/main/scala/graft/md",
    "src/main/scala/graft/functions/Hashing.scala",
    "perfbench/scala/perfbench/BinaryCorpus.scala",
    "perfbench/scala/perfbench/Fixtures.scala",
    "perfbench/scala/perfbench/Workloads.scala",
]


def fixture_key():
    files = []
    for rel in FIXTURE_SOURCES:
        path = os.path.join(build.ROOT, rel)
        files.extend(build.scala_files(path) if os.path.isdir(path) else [path])
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, build.ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def run_jvm(cmd, deadline):
    """Run one JVM, echoing its log lines; stop it at `deadline`. Returns
    the exit code and the last line that starts with "{" (the result)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    # a watchdog, so a JVM that hangs without printing is still stopped
    watchdog = threading.Timer(max(0.0, deadline - time.monotonic()), kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill()
        proc.wait()
    return proc.returncode, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    classes = build.build()
    jars = build.spark_jars()
    out = os.path.join(build.BUILD_DIR, "run")
    tmp = os.path.join(out, "tmp")
    work = os.path.join(out, f"work-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_out = os.path.join(build.BUILD_DIR, "traces",
                             f"{args.workload}-seed{args.seed}-{int(time.time())}.jsonl")

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--fixtures", os.path.join(build.BUILD_DIR, "fixtures"),
           "--fixture-key", fixture_key(), "--work", work, "--trace-out", trace_out]

    try:
        # fixtures are staged by a JVM of their own, so the timed JVM's
        # set-up is always measured from a cold start on a cache hit
        code, _ = run_jvm(cmd + ["--stage", "1"], deadline)
        if code == 0:
            code, last = run_jvm(cmd + ["--stage", "0"], deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if code != 0 or last is None:
        print(f"run: benchmark JVM failed (exit {code}; "
              f"a run is stopped after {RUN_TIMEOUT_S} s)", file=sys.stderr)
        return 1
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("run: malformed result line", file=sys.stderr)
        return 1
    if args.trace:
        print(f"trace written to {os.path.relpath(trace_out, build.ROOT)}", flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
