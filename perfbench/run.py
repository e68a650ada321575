#!/usr/bin/env python3
"""Workload benchmark for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

The first run in a checkout compiles the engine's main sources together with
the benchmark driver (sbt, offline); later runs reuse the build while no
source file has changed. Each run starts one JVM that generates its inputs
from the seed, runs the workload and prints one JSON object as the last line
of standard output. Data folders live under perfbench/.work and are removed
when the run ends; traces of traced runs are kept under perfbench/.runs.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when a session starts outside spark-submit
# (the same list the engine's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every source the build compiles, to detect a stale build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) unless the last build saw these sources."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building the engine and the benchmark (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "benchClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"perfbench: build failed (exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java_command(work, args):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
            + opens + ["-cp", cp, "graft.perfbench.Main", "--work", work] + args)


def run_jvm(work, args):
    """Run the driver JVM; return its last stdout line, or exit non-zero."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(java_command(work, args), cwd=ROOT,
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    finally:
        # On a timeout or a signal the JVM must not outlive this script.
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    return proc.returncode, lines


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload",
                    help="a workload named in BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show that planted wrong answers count as failures")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    if a.self_test:
        code, lines = run_jvm(work, ["--self-test", "1"])
        print("\n".join(lines))
        sys.exit(code)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.trace:
        runs = os.path.join(HERE, ".runs")
        os.makedirs(runs, exist_ok=True)
        args += ["--trace-out",
                 os.path.join(runs, f"{a.workload}-{a.seed}.trace.jsonl")]
    code, lines = run_jvm(work, args)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(f"perfbench: {a.workload} did not finish (exit {code})")
    print(lines[-1])


if __name__ == "__main__":
    main()
