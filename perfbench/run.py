#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload capstone --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. A run builds the program and the
benchmark with sbt (perfbench/build.sbt) whenever their sources differ from
the last build in this checkout, and records the runtime classpath and JVM
options; the workload then starts in its own JVM from that classpath, so
sbt's start-up never lands in a measurement. Extra flags for the
self-checks: --size tiny, --wrong-expected.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILT = os.path.join(HERE, "target")
# written by perfbench/build.sbt's writeClasspath
CLASSPATH = os.path.join(BUILT, "classpath.txt")
# the program build's own JVM options, without its heap size
JVM_OPTIONS = os.path.join(BUILT, "jvm-options.txt")
# the source fingerprint the files above were built from
STAMP = os.path.join(BUILT, "build-stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("capstone", "curation_lakehouse", "curation", "lakehouse")
HEAP = "3g"


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this script is terminated, and waits for it, so no process
    outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit("perfbench: stopped")

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def fingerprint(root):
    """The checkout's path and a hash of every file the build compiles
    from: both build definitions, their project/ files and main sources."""
    files = []
    for base in (root, os.path.join(root, "perfbench")):
        files.append(os.path.join(base, "build.sbt"))
        project = os.path.join(base, "project")
        if os.path.isdir(project):
            files += [os.path.join(project, f) for f in os.listdir(project)]
        for dirpath, _, names in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(dirpath, f) for f in names]
    h = hashlib.sha256(os.path.abspath(root).encode())
    for path in sorted(f for f in files if os.path.isfile(f)):
        with open(path, "rb") as f:
            data = f.read()
        h.update(b"\0%s\0%d\0" % (os.path.relpath(path, root).encode(),
                                    len(data)))
        h.update(data)
    return h.hexdigest()


def built_from():
    """The fingerprint of the last complete build, or None."""
    if not all(map(os.path.exists, (CLASSPATH, JVM_OPTIONS, STAMP))):
        return None
    with open(STAMP) as f:
        return f.read().strip()


def build(stamp):
    sys.stderr.write("perfbench: sources changed since the last build; "
                     "building\n")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    for f in (STAMP, CLASSPATH, JVM_OPTIONS):
        if os.path.exists(f):
            os.remove(f)
    code, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "writeClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                  stdout=sys.stderr)
    if code != 0 or not (os.path.exists(CLASSPATH)
                         and os.path.exists(JVM_OPTIONS)):
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("default", "tiny"), default="default")
    ap.add_argument("--wrong-expected", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: no {need} in {ROOT}; run from a checkout "
                     "of the program")
    stamp = fingerprint(ROOT)
    if built_from() != stamp:
        build(stamp)
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    with open(JVM_OPTIONS) as f:
        jvm_options = f.read().split("\n")

    bench = os.path.join(ROOT, ".bench_build")
    work = os.path.join(bench, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spans = os.path.join(bench, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [o for o in jvm_options if o]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--size", a.size,
              "--work", work, "--spans", spans]
           + (["--wrong-expected"] if a.wrong_expected else []))
    try:
        code, out = run(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                        stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"perfbench: workload exited with code {code}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
