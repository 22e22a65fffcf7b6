#!/usr/bin/env python3
"""Replication benchmark driver.

Builds the benchmark (the library's sources plus this directory's) with sbt
when the sources changed, runs one workload in a fresh JVM, and prints the
result JSON as the last line of stdout.

    python3 replbench/run.py --workload wire_backlog --seed 1 --seconds 10 --trace 0

Run it from the repository root. `--trace 1` is the traced run: it adds the
recorder and puts a counting `chmod` shim first on PATH. Each run also
writes a record (environment, per-drain figures, per-trigger accounting)
and, when traced, its spans under `replbench/results/`.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CP_FILE = os.path.join(TARGET, "replbench.classpath")
STAMP = os.path.join(TARGET, "replbench.stamp")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SHIM = """#!/bin/bash
echo "$EPOCHREALTIME" >> "$REPLBENCH_CHMOD_LOG"
exec "$REPLBENCH_REAL_CHMOD" "$@"
"""


def fail(msg):
    print(f"replbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every source and build file the benchmark compiles."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CP_FILE):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            "-Djava.io.tmpdir=" + os.path.join(TARGET, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(CP_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(fp)
    print(f"replbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["wire_backlog", "lake_waves"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(LIB_SRC):
        fail(f"no library sources at {os.path.relpath(LIB_SRC)}; run from the repository root")
    build()
    with open(CP_FILE) as f:
        cp = f.read().strip()

    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(BENCH, "work", tag)
    out = os.path.join(BENCH, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    if args.trace:
        shim = os.path.join(work, "shim")
        os.makedirs(shim)
        real = shutil.which("chmod")
        if real is None:
            fail("no chmod on PATH to wrap")
        with open(os.path.join(shim, "chmod"), "w") as f:
            f.write(SHIM)
        os.chmod(os.path.join(shim, "chmod"), 0o755)
        env["PATH"] = shim + os.pathsep + env.get("PATH", "")
        env["REPLBENCH_REAL_CHMOD"] = real
        env["REPLBENCH_CHMOD_LOG"] = os.path.join(work, "chmod.log")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "replbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(args.cores), "--work", work, "--out", out])
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True)
    stdout = ""
    try:
        stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(stdout[-4000:])
        fail(f"run failed (exit {p.returncode})")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
