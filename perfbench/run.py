#!/usr/bin/env python3
"""The benchmark of record: one workload, one seed, one result line.

    python3 perfbench/run.py --workload read_scan --seed 1 --seconds 16 --trace 0

Builds the engine and the benchmark from source when needed (sbt,
offline), copies the workload's fixture tables (perfbench/fixtures, the
repository's reference fixtures) into a run-private work directory, runs
the workload in one JVM (`local[N]`, N = cores, one client thread), checks
results against DuckDB where an oracle SQL exists, and prints one JSON
object as the last line of stdout. Exits nonzero on any failed or
mismatched operation. Everything it writes stays inside the checkout:
build output under `target/` directories, a run-private work directory
under `perfbench/work/` (removed at exit) and, with `--trace 1`, the span
file and result copy under `perfbench/out/`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402

# Fixture scale factor per workload (lineitem rows = 6e6 * sf), read from
# perfbench/fixtures/sf<sf>; see README.md for why each size.
WORKLOADS = {"read_scan": "0.01", "churn_curate": "0.001"}
BUILD_TIMEOUT_S = 700
JVM_TIMEOUT_S = 165
CDS_DIR = os.path.join(HERE, "target", "cds")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, f) for f in fs)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile engine + benchmark when any source is newer than the last
    build; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the engine sources (build.sbt, src/main/scala) are not here")
    launch = os.path.join(HERE, "target", "launch.txt")
    if not os.path.isfile(launch) or os.path.getmtime(launch) < newest_source_mtime():
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
        t0 = time.time()
        log("building engine and benchmark (sbt)")
        done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                              cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        if done.returncode != 0 or not os.path.isfile(launch):
            raise SystemExit(f"perfbench: build failed (sbt exit {done.returncode})")
        log(f"built in {time.time() - t0:.1f} s")
    with open(launch) as f:
        entries = f.read().split()
    classpath = []
    for e in entries:
        if os.path.isdir(e):
            # the JVM's class-data archive takes classes from jars only
            jar = os.path.join(HERE, "target", "jars",
                               os.path.relpath(e, ROOT).replace(os.sep, "_") + ".jar")
            if not os.path.isfile(jar) or os.path.getmtime(jar) < os.path.getmtime(launch):
                jar_dir(e, jar)
                # archives name the jars they were made from
                shutil.rmtree(CDS_DIR, ignore_errors=True)
            e = jar
        classpath.append(e)
    return classpath


def jar_dir(class_dir, jar):
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(class_dir):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), class_dir))
    os.replace(jar + ".tmp", jar)


def run_jvm(classpath, workload, trace, args, work):
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    # class-data sharing: a workload's first untraced run after a build
    # archives the classes it loaded, and its later runs map them instead
    # of loading them again (one archive per workload, so the order in
    # which workloads run changes nothing; the longer traced run does not
    # pay for writing one)
    os.makedirs(CDS_DIR, exist_ok=True)
    jsa = os.path.join(CDS_DIR, f"{workload}.jsa")
    if os.path.isfile(jsa):
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    elif not trace:
        cmd.append(f"-XX:ArchiveClassesAtExit={jsa}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(classpath), "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s and was killed")
        return -9
    finally:
        # on every way out, a terminating signal included
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "checkpoint"):
        os.makedirs(os.path.join(work, d))
    try:
        sf = WORKLOADS[a.workload]
        # a private copy, so nothing a run leaves next to the tables can
        # reach the next run
        shutil.copytree(os.path.join(HERE, "fixtures", f"sf{sf}"), os.path.join(work, "data"))
        log("fixtures copied; starting the JVM")
        result_file = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", os.path.join(work, "data"), "--sf", sf,
                "--work", work, "--out", result_file]
        if a.trace:
            args += ["--spans", os.path.join(out_dir, f"{a.workload}-{a.seed}.spans.jsonl")]
        code = run_jvm(classpath, a.workload, a.trace, args, work)
        if code != 0 or not os.path.isfile(result_file):
            raise SystemExit(f"perfbench: the benchmark JVM failed (exit {code})")
        log("JVM exited")
        with open(result_file) as f:
            res = json.load(f)
        failures = list(res["failures"])
        t0 = time.time()
        failures += check.against_duckdb(os.path.join(work, "data"), res["oracle"])
        log(f"DuckDB checked {len(res['oracle'])} results in {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        log(f"FAIL {f}")
    failed = len(failures)
    attempted = max(res["attempted"], 1)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": res["metrics"]}
    with open(os.path.join(out_dir, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(line, f)
    print(json.dumps(line), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    # a terminating signal unwinds like an error, so the JVM is stopped
    # and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
