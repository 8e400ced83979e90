#!/usr/bin/env python3
"""Seeded user-workload benchmark for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source (see
build.py), generates the seeded inputs of W once per seed (kept in
.bench_cache/), then starts one measuring JVM that drives the real CLI
(graft.Main.main) in-process on local[nproc]. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Every run also leaves a full record (host fingerprint, per-op times, the
workload's own throughput unit) in .bench_out/, and traced runs leave their
spans beside it. Exits non-zero without a result when anything fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = {
    "classify_join": "library",
    "curate_text": "corpus",
}
DRIVER_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx4g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [flag for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for flag in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def classpath(classes):
    return classes + os.pathsep + os.path.join(build.JARS, "*")


def inputs(root, classes, kind, seed):
    """Seeded inputs of one kind, generated once per seed in a separate JVM
    so that generation never warms the measuring JVM."""
    cache = os.path.join(root, ".bench_cache", os.path.basename(classes))
    dest = os.path.join(cache, "%s-%d" % (kind, seed))
    if os.path.exists(os.path.join(dest, ".complete")):
        return dest
    tmp = "%s.tmp-%d" % (dest, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(classes), "perfbench.Gen",
         kind, str(seed), tmp],
        stdout=sys.stderr, stderr=sys.stderr, timeout=DRIVER_TIMEOUT_S)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("input generation failed (%s, seed %d)" % (kind, seed))
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1 or a.seed < 0:
        fail("--seconds must be >= 1 and --seed >= 0")

    root = os.getcwd()
    try:
        classes = build.build(root)
    except (build.BuildError, OSError) as e:
        fail("build failed: %s" % e)
    data = inputs(root, classes, WORKLOADS[a.workload], a.seed)

    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(root, ".bench_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(root, ".bench_out",
                          "%s-%s.json" % (time.strftime("%Y%m%dT%H%M%S"), tag))
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"] + JAVA_OPTS + [
        "-Dspark.master=local[%d]" % cpus,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + work,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", classpath(classes), "perfbench.Driver",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--inputs", data, "--work", work, "--record", record]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=DRIVER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("driver exceeded %d s" % DRIVER_TIMEOUT_S)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail("driver exited with code %d" % proc.returncode)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("driver printed no result object")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
