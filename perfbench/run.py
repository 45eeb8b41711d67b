#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload tsne_local --seed 1 --seconds 20 --trace 0

Run from the root of the checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse that
build while no source file has changed. The measurement itself runs in one
JVM (perfbench.Main), whose last stdout line is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("tsne_local", "dedup_graph")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
STAMP = os.path.join(HERE, "target", "perfbench-build.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
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


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    exit, and wait for it, so no process outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        else:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def source_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source state; return the classpath."""
    fp = source_fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "-Dsbt.offline=true")
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    code, out = run_group(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n" + cp[-1] + "\n")
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}; run from a full checkout")

    classpath = build()
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed-size heap and the throughput collector: the heap does not
    # resize during a run and no concurrent GC threads compete with the
    # passes, which made warm pass times steadier from run to run
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    sys.exit(code)


if __name__ == "__main__":
    main()
