#!/usr/bin/env python3
"""graft benchmark: builds the program from source and runs one workload.

    python3 perfbench/run.py --workload <pipe_incremental|catalog> \
        --seed <n> --seconds <s> --trace <0|1> [--tiny] [--corrupt-route-count]

Run it from the repository root. The first run compiles the repository's
main sources together with the benchmark's own (perfbench/build.sbt) with
sbt; later runs reuse the build until a source file changes. Each run starts
one JVM, prints progress lines, and ends its standard output with one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. Everything the run writes stays under .bench_build/ in
the repository root and is removed when the run ends.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("pipe_incremental", "catalog")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the repository's build.sbt passes the same list).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sources_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the jar directory the repository's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        for line in fh:
            if line.strip().startswith("unmanagedBase") and 'file("' in line:
                jars = line.split('file("', 1)[1].split('"', 1)[0]
                return os.path.dirname(jars.rstrip("/"))
    fail("cannot find the Spark jars: set SPARK_HOME")


def build():
    digest = sources_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (log: {log})")
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    ap.add_argument("--corrupt-route-count", action="store_true",
                    help="make the output check see a wrong route count (smoke test)")
    ap.add_argument("--record", help="write the catalog's expected values to this file")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} is missing")
    build()
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    os.makedirs(BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    local = os.path.join(work, "spark-local")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_LOCAL_IP="127.0.0.1")
    # A fixed heap (-Xms = -Xmx) keeps the GC's heap resizing out of the
    # timings.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse")]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work,
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--expected", os.path.join(BENCH, "expected", "catalog_sf0.01.json")]
    if args.tiny:
        cmd.append("--tiny")
    if args.corrupt_route_count:
        cmd.append("--corrupt-route-count")
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]

    stderr_log = os.path.join(BUILD, f"last-{args.workload}.stderr")
    # On SIGTERM, unwind through the finally below: it stops the JVM and
    # removes the run's files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(stderr_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_TIMEOUT_S} s (stderr: {stderr_log})")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode} (stderr: {stderr_log})")
    if args.record:
        return
    result = json.loads(lines[-1])
    # A metric the run did not record, or measured as NaN or infinity, is null.
    missing = [m for m in declared_metrics(args.trace == "1")
               if result["metrics"].get(m, {}).get("value") is None]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
