#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. The JVM runs perfbench.Main; its human-readable
lines pass through, and the last line printed is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (BENCHMARK.json).
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
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("daily_ingest", "analytics_read")
RESULT = "PERFBENCH_RESULT "
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# what spark-submit would pass on JDK 17 (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change must trigger a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, fs in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "build.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    print("perfbench: building (sbt writeClasspath)", file=sys.stderr)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "writeClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-6000:])
        fail(f"build failed (exit {proc.returncode})")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as fh:
        return fh.read().strip()


def run_jvm(cp, args):
    cores = len(os.sched_getaffinity(0))
    name = f"{args.workload}-{args.seed}-{'traced' if args.trace else 'e2e'}"
    work = os.path.join(TARGET, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(TARGET, "logs"), exist_ok=True)
    log_path = os.path.join(TARGET, "logs", f"{name}.log")
    spans = os.path.join(TARGET, "spans", f"{name}.jsonl")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dderby.system.home=" + os.path.join(work, "derby")]
           + (["-Dspark.callstack.depth=200"] if args.trace else [])
           + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), str(cores), work, spans])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, start_new_session=True, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
        for line in out.splitlines():
            if line.startswith(RESULT):
                result = line[len(RESULT):]
            else:
                print(line)
        if proc.returncode != 0 or result is None:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"run failed (exit {proc.returncode}); log: {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(TARGET, exist_ok=True)
    result = run_jvm(build(), args)
    print(result)


if __name__ == "__main__":
    main()
