#!/usr/bin/env python3
"""Serving benchmark for nibbledbspark.

Builds the benchmark (its own sbt project, compiled together with the
program's sources under ../src/main) once per source state, then runs one
workload in a fresh JVM and prints its result line last on stdout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Build outputs, logs, spans and scratch
stores go under .bench_build/ in that checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build"
PROGRAM = ROOT / "src" / "main"
CLASSPATH = HERE / "target" / "classpath.txt"
STAMP = WORK / "build.stamp"
WORKLOADS = ("ingest", "read")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Hash of every input of the build: the program's and the benchmark's."""
    h = hashlib.sha256()
    inputs = [PROGRAM, HERE / "src" / "main", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in inputs:
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout or
    when this script is terminated, and wait for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(1)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out, err


def build():
    digest = source_digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    log = WORK / "build.log"
    with open(log, "w") as f:
        try:
            code, _, _ = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-Dsbt.global.base={WORK / 'sbt'}", "writeClasspath"],
                BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if code != 0 or not CLASSPATH.exists():
        fail(f"build failed (exit {code}); see {log}")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (PROGRAM / "scala").is_dir():
        fail(f"program sources not found at {PROGRAM}; run from the root of a full checkout")
    for d in ("tmp", "out", "logs"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    # a run killed from outside leaves its scratch stores behind
    for stale in (WORK / "out").glob("stores-*"):
        shutil.rmtree(stale, ignore_errors=True)
    build()

    tmp = WORK / "tmp"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={WORK / 'out' / 'warehouse'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(WORK / "out"),
    ]
    log = WORK / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    t0 = time.time()
    with open(log, "w") as err:
        try:
            code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                     stderr=err, text=True)
        except subprocess.TimeoutExpired:
            fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or len(lines) < 2:
        fail(f"run failed (exit {code}) after {time.time() - t0:.0f} s; see {log}")
    report, result = lines[-2], lines[-1]
    parsed = json.loads(result)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {result}")
    print(report)
    print(result)


if __name__ == "__main__":
    main()
