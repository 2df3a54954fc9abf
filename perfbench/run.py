#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload ingest_files --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse the build
while the sources are unchanged. The run itself is one JVM: `perfbench.Main`
generates the workload's inputs from the seed, sets up, measures for the given
seconds, checks the outputs, and prints as its last stdout line one JSON
object {correct, attempted, failed, metrics}. Everything it writes stays
inside the build directory.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ("ingest_files", "ingest_bulk", "dedup_stream", "corpus_sync")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
DRIVER_HEAP = "3g"
# JDK 17 module opens Spark needs outside spark-submit (the program's build
# sets the same list for its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, as sorted relative paths."""
    out = []
    for base in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    out += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def stamp_of(root, files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile program + benchmark once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources under src/main/scala; run from a checkout root")
    stamp = stamp_of(root, source_files(root))
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dperfbench.target={os.path.join(build_dir, 'sbt')}",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building program and benchmark (sbt, offline)", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    lines = p.stdout.splitlines()
    cps = [l for l in lines if l and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {p.returncode})")
    cp = cps[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(root, build_dir)

    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        g = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        commit = g.stdout.strip() or commit
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--dir", run_dir, "--results", os.path.join(build_dir, "results"),
              "--commit", commit])
    try:
        p = subprocess.run(cmd, cwd=run_dir, timeout=RUN_TIMEOUT_S)
        code = p.returncode
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
