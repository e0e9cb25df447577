#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result line.

    python3 geobench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine and the harness from source with sbt (the harness build depends
on the engine's root build); later runs reuse the build while the
sources are unchanged. The workload runs in one JVM with a fixed heap on
local[2]. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics; the line before it is the
workload's full report. Everything the run writes stays inside the
checkout (.bench_build for the build record, .bench_work for data).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("corpus", "capture_stream")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print("geobench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile engine + harness; returns the runtime classpath and the
    JVM options (the engine's, with the benchmark's fixed heap)."""
    stamp = sources_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    opts_file = os.path.join(build_dir, "java-options.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if all(os.path.exists(f) for f in (cp_file, opts_file, stamp_file)):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh, open(opts_file) as oh:
                    return fh.read().strip(), oh.read().split("\n")[:-1]
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata files
    log = os.path.join(build_dir, "build.log")
    # sbt's lock and scratch files go to the build directory, not the
    # home directory or /tmp
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
           "-Dsbt.ivy.home=" + os.path.join(build_dir, "ivy"),
           "-Djna.tmpdir=" + tmp, "-Djava.io.tmpdir=" + tmp,
           "compile", "writeJavaOptions", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=out, stdin=subprocess.DEVNULL,
                               timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[")]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail("build failed; see " + log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    shutil.copy(os.path.join(HERE, "target", "java-options.txt"), opts_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(opts_file) as fh:
        return cp, fh.read().split("\n")[:-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark (expected build.sbt and "
             "src/main/scala/graft in %s)" % ROOT)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp, jvm_opts = build(build_dir)

    work = os.path.join(ROOT, ".bench_work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + jvm_opts + [
        "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.callstack.depth=200", "-cp", cp, "geobench.Harness",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    log = os.path.join(build_dir, "run-%s.log" % a.workload)
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded %d s; see %s" % (RUN_TIMEOUT_S, log))
    if a.trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(build_dir, "spans-%s.jsonl" % a.workload))
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail("run failed (exit %d); see %s" % (p.returncode, log))
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line: " + lines[-1])
    for l in lines[:-1]:
        if l.startswith("geobench report"):
            print(l)
    print("geobench wall_s %.1f" % (time.time() - t0))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
