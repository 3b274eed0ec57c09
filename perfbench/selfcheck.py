#!/usr/bin/env python3
"""Self-checks of the benchmark, at the tiny input size.

    python3 perfbench/selfcheck.py

The build is current:
  * the source fingerprint that decides whether run.py builds changes
    when a source file changes, and with the checkout's path;
  * a run whose recorded build stamp is stale rebuilds and records the
    current fingerprint, and the next run does not rebuild.
For every workload BENCHMARK.json names:
  * an untraced run on a second seed passes every output check and emits
    exactly the end-to-end metrics BENCHMARK.json names, with their units;
  * a traced run emits exactly the per-layer metrics, with their units;
  * a run with a deliberately wrong expected value reports failures
    (failed_frac > 0) and correct = false.
Exits 1 if any of these does not hold.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run as bench  # noqa: E402

BUILDING = "perfbench: sources changed since the last build; building"


def run(workload, seed, trace, *extra, timeout=300):
    """Returns the exit code, the result line (or None) and stderr."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace",
           str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


def fingerprint_follows_sources():
    """Copies the fingerprinted files to a scratch tree and edits one."""
    tree = os.path.join(ROOT, ".bench_build", "selfcheck-tree")
    shutil.rmtree(tree, ignore_errors=True)
    try:
        for base in ("", "perfbench"):
            os.makedirs(os.path.join(tree, base, "project"), exist_ok=True)
            shutil.copy(os.path.join(ROOT, base, "build.sbt"),
                        os.path.join(tree, base))
            for f in os.scandir(os.path.join(ROOT, base, "project")):
                if f.is_file():
                    shutil.copy(f.path, os.path.join(tree, base, "project"))
            shutil.copytree(os.path.join(ROOT, base, "src", "main"),
                            os.path.join(tree, base, "src", "main"))
        copied = bench.fingerprint(tree)
        source = os.path.join(tree, "perfbench", "src", "main", "scala",
                              "perfbench", "Main.scala")
        with open(source, "a") as f:
            f.write("// edited\n")
        edited = bench.fingerprint(tree)
        return copied != bench.fingerprint(ROOT), edited != copied
    finally:
        shutil.rmtree(tree, ignore_errors=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    moved, edited = fingerprint_follows_sources()
    expect(moved, "the build fingerprint changes with the checkout's path")
    expect(edited, "the build fingerprint changes when a source changes")
    first = spec["workloads"][0]["name"]
    with open(bench.STAMP, "w") as f:
        f.write("stale\n")
    code, r, err = run(first, 2, 0, timeout=bench.BUILD_TIMEOUT_S + 300)
    expect(code == 0 and r is not None and BUILDING in err
           and bench.built_from() == bench.fingerprint(ROOT),
           "a run on a stale build rebuilds and records the fingerprint")
    code, r, err = run(first, 2, 0)
    expect(code == 0 and r is not None and BUILDING not in err,
           "a run on a current build does not rebuild")

    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((0, e2e), (1, layer)):
            code, r, _ = run(w, 2, trace)
            expect(code == 0 and r is not None, f"{w} trace={trace} exits 0")
            if r is None:
                continue
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == names,
                   f"{w} trace={trace} emits every named metric and unit "
                   f"(missing {sorted(set(names) - set(got))}, "
                   f"extra {sorted(set(got) - set(names))})")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                   f"{w} trace={trace} seed 2 passes every output check")
        code, r, _ = run(w, 1, 0, "--wrong-expected")
        expect(code == 0 and r is not None and not r["correct"]
               and r["failed"] > 0,
               f"{w} with a wrong expected value reports failures "
               f"({r and r['failed']} of {r and r['attempted']})")
    if problems:
        sys.exit(f"{len(problems)} self-check(s) failed")


if __name__ == "__main__":
    main()
