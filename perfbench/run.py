#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
engine and the harness with sbt (offline) into the checkout; later runs reuse
that build. Each run starts one JVM, measures the workload and prints the
result object as the last stdout line. It exits non-zero, without a result,
when the engine sources are missing or the run fails.
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
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("cep_batch", "queries_relational")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every build input, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for base in (ROOT / "src" / "main", HERE / "src", ROOT / "project", HERE / "project"):
        if base.is_dir():
            files += [p for p in base.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (build.sbt, src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-XX:-UsePerfData"])
    t0 = time.time()
    with open(BUILD / "build.log", "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    out = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not out or ".jar" not in out[-1]:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail(f"build failed (exit {proc.returncode}); log in {BUILD / 'build.log'}")
    cp = out[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    work = ROOT / ".bench_build" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",
           *[a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--repo", str(ROOT), "--work", str(work)]
    log_path = ROOT / ".bench_build" / f"run-{os.getpid()}.log"
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = out.strip().splitlines()
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except json.JSONDecodeError:
                pass
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write(out[-4000:])
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-60:]))
            fail(f"run failed (exit {proc.returncode})")
        with open(log_path) as log:
            for line in log:
                if "[perfbench]" in line:
                    sys.stderr.write(line)
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if len(lines) > 1 else "")
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        log_path.unlink(missing_ok=True)


if __name__ == "__main__":
    main()
