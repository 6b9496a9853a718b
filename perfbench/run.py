#!/usr/bin/env python3
"""Benchmark launcher.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <extract_job|analytics> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt when the sources
changed since the last build (outputs under `.bench_build/` and the sbt
`target/` directories), then runs `perfbench.Main` in one JVM and prints its
result JSON as the last line of standard output. Everything the run writes
stays inside the checkout. Exits non-zero, without a result line, when the
program's sources are missing, the build fails or the run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("extract_job", "analytics")
# the project's sf0.01 test tables, input of the query workload
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the same list as the
# program's build.sbt and Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project"), os.path.join(BENCH_DIR, "src")]
    for top in roots:
        # every file, resources too, but not what sbt writes there
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, dirs, files in os.walk(top) for f in files
            if not {"target", "project"} & set(os.path.relpath(d, top).split(os.sep))]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    out = p.stdout.decode(errors="replace").strip().splitlines()
    sys.stderr.write("\n".join(out[-6:-1]) + "\n")
    if p.returncode != 0 or not out or ":" not in out[-1] or " " in out[-1].strip():
        fail(f"build failed (sbt exit {p.returncode})")
    cp = out[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seed < 0 or a.seconds < 1:
        fail("--seed must be >= 0 and --seconds >= 1")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program sources not found ({need}); run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work-dir", WORK, "--data-dir", DATA_DIR,
        "--start-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(jvm, cwd=run_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.decode(errors="replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
