#!/usr/bin/env python3
"""Run one workload of the benchmark from the root of a checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source into .bench_build/ (once
per source state), runs the workload in a single JVM with its own
scratch directory under .bench_build/runs/, and prints the result JSON
as the last line of standard output. Exits non-zero, printing no result,
when the program's sources are missing, the build fails, or the run
fails or overruns. The workloads, metrics and layers are described in
perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("elt_clone", "elt_incremental", "query_surface")
ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170  # a run, build excluded, must end well inside 180 s

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx3g", "-Dspark.ui.enabled=false"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build compiles, to decide whether to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def build(env):
    """Compiles once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        if os.path.exists(stamp) and os.path.exists(cp_file):
            with open(stamp) as f:
                if f.read() == digest:
                    with open(cp_file) as g:
                        return g.read().strip()
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=800)
        sys.stderr.write(proc.stdout[-4000:])
        cp = [l for l in proc.stdout.splitlines()
              if ".bench_build" in l and not l.startswith("[")]
        if proc.returncode != 0 or not cp:
            fail("build failed")
        with open(cp_file, "w") as f:
            f.write(cp[-1].strip())
        with open(stamp, "w") as f:
            f.write(digest)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this directory")
    # engine settings come from the program's defaults only: a GRAFT_*
    # variable (such as an index root shared between runs) would let one
    # run read state another left behind
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    env["SPARK_HOME"] = spark_home()
    classpath = build(env)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/derby",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--run-dir", run_dir,
        "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("run printed no result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
