#!/usr/bin/env python3
"""Conversion-pipeline benchmark: export, read and ingest workloads.

    python3 convbench/run.py --workload export|read|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and the benchmark from source (`sbt compile` in convbench/, whose
build depends on the root build) and caches the runtime classpath keyed
by a hash of every source and build file; later runs launch one JVM
straight from that classpath. Each run works in its own directory under
convbench/.runs/, removed when the run ends. The JVM prints diagnostics
and, as its last stdout line, the result object; this script relays
both and exits non-zero when the JVM fails or prints no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "convbench.classpath")
STAMP = os.path.join(TARGET, "convbench.stamp")
RUNS = os.path.join(BENCH, ".runs")

WORKLOADS = ("export", "read", "ingest")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module opens (the
# same list the engine's build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"convbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change must trigger a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            fail(f"engine sources not found ({os.path.relpath(need, ROOT)});"
                 " run from a full checkout of the repository")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    # the build resolves only from local caches: never from the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(log, "w") as out:
        build = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = build.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(build.pid, signal.SIGKILL)
            build.wait()
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}")
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if ".jar" in ln and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("".join(ln + "\n" for ln in lines[-30:]))
        fail(f"build failed (exit {rc}); see {log}")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    cp = ensure_built()
    os.makedirs(RUNS, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                               dir=RUNS)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "convbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", run_dir, "--traces", os.path.join(BENCH, "out")]
    jvm_log = os.path.join(run_dir, "jvm.log")
    proc = None
    try:
        with open(jvm_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S}s and was killed", 3)
        with open(jvm_log) as fh:
            for ln in fh:
                if ln.startswith("convbench:"):
                    sys.stderr.write(ln)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        for ln in lines[:-1]:
            print(ln)
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        ok = (isinstance(result, dict) and
              set(result) == {"correct", "attempted", "failed", "metrics"})
        if proc.returncode != 0 or not ok:
            with open(jvm_log) as fh:
                tail = fh.readlines()[-40:]
            sys.stderr.write("".join(tail))
            if lines:
                print(lines[-1], file=sys.stderr)
            fail(f"JVM exited {proc.returncode} without a valid result", 1)
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
