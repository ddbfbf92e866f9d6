#!/usr/bin/env python3
"""Build and run the graft engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in the Spark distribution ($SPARK_HOME, else the jars directory
build.sbt names as unmanagedBase) into .bench_build/; later runs reuse the
classes while the sources are unchanged.
Each run gets a fresh directory under .bench_build/runs/ for java.io.tmpdir,
spark.local.dir, the staged inputs and every store the engine builds, and
deletes it afterwards. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}. A traced run also leaves its
spans in .bench_build/traces/.

Other modes:
    --selftest              check the benchmark's own arithmetic
    --record                print the expected digests of the query list
    --digest-verify <dir>   digest the query list's results graft.Verify wrote
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline_daily", "queries_floor")
# Every run must end within 180 s; the JVM is stopped a little before that.
RUN_TIMEOUT_S = 170
# The heap may grow to this. The serial collector grows the heap by
# occupancy alone, so peak RSS follows the data the engine keeps; G1 sizes
# it by pause-time goals measured during the run, and its peak RSS swung by
# 40 % between seeds.
HEAP = "2g"
# Spark on JDK 17 needs these outside spark-submit (the list build.sbt uses).
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


def sources():
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the repo build's unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            fail("no Spark distribution: set SPARK_HOME")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build(jars):
    """Compile engine + benchmark once per source content; returns classes dir."""
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        fail(f"engine sources not found under {ROOT}: run from a full checkout")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes", digest)
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out, digest
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", jars, "-encoding", "UTF-8", "-nowarn"] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


def commit_of(src_digest):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"sources:{src_digest}"


def run_jvm(classes, jars, main_args, timeout):
    """Runs perfbench.Main in a fresh run dir; returns (returncode, stdout lines)."""
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseSerialGC", f"-Xmx{HEAP}", "-Xss4m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
              "--run-dir", run_dir, "--bench-dir", BENCH_DIR,
              "--cores", str(len(os.sched_getaffinity(0)))]
           + main_args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=run_dir)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"perfbench: run exceeded {timeout} s and was stopped", file=sys.stderr)
        return 1, []
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--digest-verify", metavar="DIR")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    classes, src_digest = build(jars)
    if a.selftest:
        rc, lines = run_jvm(classes, jars, ["--mode", "selftest"], RUN_TIMEOUT_S)
        print("\n".join(lines))
        sys.exit(rc)
    if a.record:
        rc, lines = run_jvm(classes, jars, ["--mode", "record"], 900)
        print("\n".join(lines))
        sys.exit(rc)
    if a.digest_verify:
        rc, lines = run_jvm(classes, jars, ["--mode", "digest-verify",
                                            "--dir", os.path.abspath(a.digest_verify)], 900)
        print("\n".join(lines))
        sys.exit(rc)
    if not a.workload:
        ap.error("--workload is required")

    trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    rc, lines = run_jvm(classes, jars, [
        "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--commit", commit_of(src_digest), "--trace-out", trace_out], RUN_TIMEOUT_S)
    if rc != 0 or not lines:
        print(f"perfbench: benchmark JVM exited with code {rc}", file=sys.stderr)
        sys.exit(rc or 1)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print("perfbench: the JVM printed no result line", file=sys.stderr)
        sys.exit(1)
    if not result["correct"]:
        print(f"perfbench: WRONG OUTPUT: {result['failed']} of {result['attempted']} "
              "operations failed their check", file=sys.stderr)
    print("\n".join(lines[:-1]))
    print(lines[-1])


if __name__ == "__main__":
    main()
