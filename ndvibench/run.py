#!/usr/bin/env python3
"""Run one benchmark workload: build the harness if needed, start one JVM,
print its one-line result.

    python3 ndvibench/run.py --workload scene_large --seed 1 --seconds 20 --trace 0

Workloads: scene_large, product_upsert (see NOTES.md).

The harness is an sbt build of its own in this directory that compiles the
enclosing repository's sources with it. It is rebuilt when any source or
build file changes. The timed process is a plain JVM with a fixed heap
and the enclosing build's JVM options (the module openings Spark needs
outside spark-submit), running Spark as local[N], N = min(4, nproc). The
full result (metrics, environment, op log, spans, counters) is written
under results/; stdout ends with one compact JSON line.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target", "bench")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("scene_large", "product_upsert")
HEAP = "6g"
MAX_N = 4
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"ndvibench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file the harness build reads: its own sources and build, and
    the enclosing repository's main sources and build."""
    files = []
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties"),
              os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties")]
    return sorted(f for f in files if os.path.isfile(f))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build the harness unless the build inputs are unchanged; return the
    runtime classpath and the JVM options of the build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no repository sources next to the benchmark")
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    opts_file = os.path.join(BUILD_DIR, "java-options")
    key = digest(build_inputs())
    if all(os.path.isfile(f) for f in (stamp, cp_file, opts_file)):
        with open(stamp) as fh:
            if fh.read() == key:
                with open(cp_file) as fh, open(opts_file) as fo:
                    return fh.read(), fo.read().splitlines()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "ndvibench/compile", "export ndvibench/Runtime/fullClasspath",
           "show ndvibench/javaOptions"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    # `show` lists a sequence one element a line: "[info] * <element>"
    opts = [l[len("[info] * "):] for l in p.stdout.splitlines()
            if l.startswith("[info] * ")]
    if p.returncode != 0 or not lines or not opts:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(opts_file, "w") as fh:
        fh.write("\n".join(opts))
    with open(stamp, "w") as fh:
        fh.write(key)
    return lines[-1].strip(), opts


def main():
    # a terminated run stops its child too: subprocess.run kills and reaps
    # the child when an exception interrupts it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, java_opts = build()
    n = max(1, min(MAX_N, os.cpu_count() or 1))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(RESULTS, f"{tag}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    # every scratch path inside the checkout: no JVM perf-data file, the
    # JVM's and Hadoop's temp dirs under the run's work dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop"]
           + java_opts
           + ["-cp", cp, "ndvibench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(n),
              "--work", work, "--out", out])
    log_path = os.path.join(RESULTS, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"correct"')]
    if p.returncode != 0 or not lines:
        sys.stdout.write(p.stdout[-2000:])
        fail(f"run failed (exit {p.returncode}); see {log_path}")
    print(f"full result: {os.path.relpath(out, ROOT)}")
    print(lines[-1])


if __name__ == "__main__":
    main()
